package graft.serve

/** Incremental serving over an immutable [[MemoryHnswIndex]] — the
  * freshness segment the graph tier was missing: flat dense, lexical
  * and sparse all had their bounded-delta story (q293–q297); the HNSW
  * tier — the measured QPS ceiling of the serving matrix — was
  * rebuild-only, because graph inserts are order-sensitive and an
  * in-place insert would break the build's bit-determinism contract
  * (HnswSpec pins the adjacency). The resolution is the Lucene/Vespa
  * shape the other delta tiers already use, specialized to the graph:
  * the published GRAPH stays immutable, writes land in a small
  * memory-resident delta segment (brute-force scanned — bounded by one
  * lag window, or by [[BoundedDelta]]'s `maxDeltaDocs`), deletes and
  * updates tombstone by id, and [[republish]] folds everything into a
  * NEW deterministically rebuilt graph.
  *
  * Result contract (HnswSpec pins it): `topK` returns EXACTLY the
  * k-bounded (score DESC, id ASC) merge, in one [[TopK]], of
  *
  *  - the base graph walk with every tombstoned/shadowed id EXCLUDED
  *    from the result beam via [[MemoryHnswIndex.topKWhere]] — hidden
  *    rows still ROUTE (blocking traversal would sever paths; the
  *    hnswlib filtering rule) but never surface, and the beam counts
  *    `ef` SURVIVORS, so hidden rows don't eat recall; and
  *  - an exhaustive scan of the live delta slots with the engine's
  *    pinned cosine fold, row norms kept per slot ([[Cosine]]) (exact —
  *    the delta is the fresh, small tier).
  *
  * The GRAPH walk is approximate (HNSW's candidate set always is; the
  * scores and the merge order are exact — the tier's documented
  * verification class, RECALL.md + spec, not a SQL oracle); the DELTA
  * side is exact, so a just-written row is always servable — the
  * TARGET_LAG live half (reference `01:173`, `01:228-231`).
  *
  * FOLD CONTRACT ([[republish]]): the folded handle's base is
  * [[MemoryHnswIndex.build]] over (base rows ∖ tombstones) ∪ delta rows
  * with the SAME (m, efConstruction) — and because the build is
  * bit-deterministic from the row set alone (id-derived levels,
  * id-ascending inserts, lower-id tie-breaks), the folded graph is
  * IDENTICAL, adjacency-for-adjacency, to a from-scratch batch build
  * over the same logical rows (q298 and HnswSpec pin this). That is the
  * strongest fold guarantee in the delta family: not just result-
  * invisible but artifact-identical, so the in-band fold and the
  * periodic Spark rebuild literally converge on the same bytes.
  *
  * Write cost: O(1) amortized per add (the append-only [[DenseDelta]]
  * segment [[DeltaAnnIndex]] uses too); the fold is the full
  * O(n·efC·M) graph build — which is why this tier pairs with
  * [[BoundedDelta]]'s maintenance-thread option at high churn, and why
  * `maxDeltaDocs` for the graph tier trades fold frequency against the
  * delta-scan bound exactly as the class doc of [[BoundedDelta]] says.
  *
  * Thread-safety: writers serialize on this object; readers are
  * wait-free on an immutable volatile-published [[DenseDelta.State]]
  * snapshot (slot bytes written BEFORE the `len` publish), the same
  * segment and visibility rule as [[DeltaAnnIndex]].
  */
final class DeltaHnswIndex(val base: MemoryHnswIndex,
                           m: Int = 16, efConstruction: Int = 100)
  extends DeltaTier[DeltaHnswIndex] {

  private val slots = new DenseDelta(base.dim)

  @volatile private var republished: Boolean = false

  private def checkLive(): Unit =
    if (republished) throw new RepublishedHandleException(
      "this DeltaHnswIndex handle was republished — re-read the serving " +
        "reference (e.g. BoundedDelta.get) and retry the write")

  def dim: Int = base.dim

  /** Live delta rows (superseded and deleted slots excluded). */
  def deltaSize: Long = slots.snapshot.size

  def tombstoneCount: Int = tombstonedIds.size

  /** Upsert `id` with `vec`: searchable by the next `topK` call;
    * shadows any base row with the same id (latest-wins, the SCD-1
    * rule) and supersedes earlier delta slots.
    */
  def add(id: Long, vec: Seq[Float]): Unit = this.synchronized {
    checkLive()
    require(vec.length == dim, s"vec dim ${vec.length} != index dim $dim")
    slots.add(id, vec)
  }

  /** Delete `id` from both tiers: gone by the next `topK` call. Unknown
    * ids are fine (a delete racing the rebuild that dropped the row).
    */
  def delete(id: Long): Unit = this.synchronized {
    checkLive()
    slots.delete(id)
  }

  /** Merged approximate top-k over (base ∖ hidden) ∪ live delta — see
    * the class doc's result contract. `ef` is the layer-0 beam width of
    * the base walk (0 → the tier default 4·k), counting SURVIVORS.
    */
  def topK(query: Seq[Float], k: Int, ef: Int = 0): Seq[(Long, Double)] = {
    val s = slots.snapshot
    val hidden = s.hidden
    val fromBase = base.topKWhere(query, k, id => !hidden(id), ef)
    val top = TopK.largest(k, TopK.satAdd(fromBase.size, s.len))
    fromBase.foreach { case (id, sc) => top.offer(sc, id) }
    s.offerLive(top, query)
    top.toSeq
  }

  /** Fold the delta into a NEW deterministically rebuilt graph
    * ([[DeltaTier.republish]]) — see the class doc's FOLD CONTRACT:
    * the folded base is bit-identical to a from-scratch
    * [[MemoryHnswIndex.build]] over the same logical rows. Seals this
    * handle for writers; readers keep the pre-fold snapshot.
    */
  def republish(): DeltaHnswIndex = this.synchronized {
    checkLive()
    republished = true
    val hidden = tombstonedIds
    val survivors = (0 until base.size)
      .filterNot(r => hidden(base.idAt(r)))
      .map(r => (base.idAt(r), base.vecAt(r)))
    new DeltaHnswIndex(
      MemoryHnswIndex.build(survivors ++ deltaRows, m, efConstruction),
      m, efConstruction)
  }

  /** The live delta rows, id-ascending — what the next Spark rebuild
    * unions into the base corpus.
    */
  def deltaRows: Seq[(Long, Seq[Float])] = slots.snapshot.rows

  /** Ids the rebuild anti-joins away from the BASE: shadowed or removed. */
  def tombstonedIds: Set[Long] = slots.snapshot.hidden
}
