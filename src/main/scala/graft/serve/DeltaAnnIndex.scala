package graft.serve

/** Incremental serving over an immutable [[MemoryAnnIndex]] — the
  * freshness segment between index publishes. The reference's
  * TARGET_LAG contract says new rows become searchable within the lag
  * window; [[ServingIndex]] covers the REBUILD half (reload on sidecar
  * mtime). This covers the live half, the way Lucene/Vespa do: the
  * published index stays immutable, writes land in a small
  * memory-resident delta segment (brute-force scanned — it is bounded
  * by one lag window of arrivals), and deletes/updates tombstone by id.
  * A search merges the two tiers; the periodic Spark rebuild folds the
  * delta back into the next published artifact and a fresh handle
  * starts empty.
  *
  * Result contract (ServeSpec + the q193 oracle pin it): `topK` returns
  * EXACTLY what a [[MemoryAnnIndex]] built over
  * (base rows ∖ tombstones) ∪ live delta rows would return — same rows,
  * same order, same score bits. The base tier is consulted for
  * k + |shadowed ∪ removed| candidates, which is sufficient even if
  * every hidden base row ranked above the true top-k; the delta tier
  * scans its live slots with the same pinned cosine fold (row norms kept
  * per slot, [[Cosine]]); both feed one k-bounded [[TopK]].
  *
  * `add` is an UPSERT: it shadows any base row with the same id and
  * supersedes any earlier delta slot — latest-wins at serving, the same
  * SCD-1 rule the batch tier's [[graft.operators.Upsert]] applies.
  * `delete` tombstones both tiers. Ids never seen are fine (a delete
  * racing the rebuild that already dropped the row is ordinary). An
  * all-zero vector is refused (IllegalArgumentException), as the rebuilt
  * index's loader refuses it.
  *
  * Write cost: O(1) amortized per add — slots APPEND into
  * capacity-doubling arrays (written slots are never mutated, so
  * readers can keep older snapshots safely); superseded/deleted slots
  * stay in the buffer as garbage until the next publish resets the
  * handle (bounded: the buffer holds one lag window of writes,
  * including their supersessions). The first draft rebuilt both arrays
  * on EVERY write — quadratic in the lag window (60k single-row adds
  * at the class's own 1k-writes/s envelope would have copied ~450 GB).
  *
  * Thread-safety: writers serialize on this object; readers are
  * wait-free on an immutable [[DenseDelta.State]] snapshot
  * (volatile-published AFTER the slot bytes are written, so a reader
  * that sees `len` sees the slot). Readers during a write serve the
  * previous state — the same visibility rule as [[ServingIndex.current]].
  */
final class DeltaAnnIndex(base: MemoryAnnIndex)
  extends DeltaTier[DeltaAnnIndex] {

  private val slots = new DenseDelta(base.dim)

  // the DeltaPostingsIndex seal: a write after republish() fails loudly
  @volatile private var republished: Boolean = false

  private def checkLive(): Unit =
    if (republished) throw new RepublishedHandleException(
      "this DeltaAnnIndex handle was republished — re-read the serving " +
        "reference (e.g. BoundedDelta.get) and retry the write")

  def dim: Int = base.dim

  /** Live delta rows (superseded and deleted slots excluded). */
  def deltaSize: Long = slots.snapshot.size

  /** Fold the delta into a NEW immutable base ([[DeltaTier.republish]]):
    * the folded index is [[MemoryAnnIndex.fromRows]] over
    * (base rows ∖ [[tombstonedIds]]) ∪ [[deltaRows]] — which is EXACTLY
    * the index this class's result contract already says it serves, so
    * the fold is result-invisible by the existing ServeSpec pin; delta
    * rows take their nearest-centroid cell (the [[MemoryAnnIndex
    * .probeCells]] rule — the same (cosine DESC, cell ASC) assignment
    * the batch `Ann.withIvfAssignment` uses), keeping the IVF probe
    * paths consistent on the folded base. METADATA-FILTERED bases
    * refuse: delta rows carry no metadata columns, so a fold would
    * silently strip the payload/filter surface — those deployments
    * route deletes/upserts through the Spark rebuild
    * ([[deltaRows]]/[[tombstonedIds]] feed it), as documented. Seals
    * this handle for writers; readers keep the pre-fold snapshot.
    */
  def republish(): DeltaAnnIndex = this.synchronized {
    checkLive()
    require(base.metaColumns.isEmpty,
      "republish() on a metadata-filtered base would strip its filter " +
        "columns (delta rows carry none) — route through the Spark " +
        "rebuild via deltaRows/tombstonedIds instead")
    republished = true
    val hidden = tombstonedIds
    val survivors = base.exportRows.filterNot { case (id, _, _) => hidden(id) }
    val folded = deltaRows.map { case (id, v) =>
      (id, v, base.probeCells(v, 1).head)
    }
    new DeltaAnnIndex(MemoryAnnIndex.fromRows(
      survivors ++ folded, base.centroids.map(_.toSeq)))
  }

  def tombstoneCount: Int = tombstonedIds.size

  /** Upsert `id` with `vec`: searchable by the next `topK` call. */
  def add(id: Long, vec: Seq[Float]): Unit = this.synchronized {
    checkLive()
    require(vec.length == dim, s"vec dim ${vec.length} != index dim $dim")
    // the rule a rebuilt MemoryAnnIndex applies at load: a zero vector
    // has no direction, so the fold/rebuild would refuse it
    if (vec.forall(_ == 0.0f))
      throw new IllegalArgumentException(
        s"DeltaAnnIndex: id $id has an all-zero vector (cosine would be NaN)")
    slots.add(id, vec)
  }

  /** Delete `id` from both tiers: gone by the next `topK` call. */
  def delete(id: Long): Unit = this.synchronized {
    checkLive()
    slots.delete(id)
  }

  /** Merged top-k over (base ∖ hidden) ∪ live delta — bit-identical to
    * a rebuilt [[MemoryAnnIndex]] over the same logical rows. `filters`
    * apply to the base tier only (delta rows carry no metadata columns;
    * a filtered deployment routes writes through the rebuild).
    */
  def topK(query: Seq[Float], k: Int,
           filters: Seq[MetaFilter] = Nil): Seq[(Long, Double)] = {
    val s = slots.snapshot
    val hidden = s.hidden
    val fromBase = base.topK(query, TopK.satAdd(k, hidden.size), filters)
    val top = TopK.largest(k, TopK.satAdd(fromBase.size, s.len))
    fromBase.foreach { case (id, sc) => if (!hidden(id)) top.offer(sc, id) }
    s.offerLive(top, query)
    top.toSeq
  }

  /** The live delta rows, id-ascending — what the next Spark rebuild
    * unions into the base corpus (tombstones translate to an anti-join
    * on [[tombstonedIds]]).
    */
  def deltaRows: Seq[(Long, Seq[Float])] = slots.snapshot.rows

  /** Ids the rebuild anti-joins away from the BASE: every id the delta
    * shadows (its newest value lives in [[deltaRows]]) or removed.
    */
  def tombstonedIds: Set[Long] = slots.snapshot.hidden
}

/** The append-only slot segment both dense delta tiers ([[DeltaAnnIndex]],
  * [[DeltaHnswIndex]]) keep beside their immutable base: an upsert
  * appends a slot (id, vector, its [[Cosine]] norm) into
  * capacity-doubling buffers, a delete tombstones the id. Writers
  * serialize on the owning tier; readers take one immutable
  * [[DenseDelta.State]] snapshot.
  */
private[serve] final class DenseDelta(dim: Int) {
  import DenseDelta.State

  @volatile private var state: State =
    State(dim, new Array[Long](8), new Array[Float](8 * dim),
      new Array[Double](8), 0, Map.empty, Set.empty)

  def snapshot: State = state

  /** Append `vec` as `id`'s newest slot (the caller serializes writers). */
  def add(id: Long, vec: Seq[Float]): Unit = {
    val s = state
    val (ids, vecs, norms) =
      if (s.len < s.ids.length) (s.ids, s.vecs, s.norms)
      else {
        val cap = s.ids.length * 2
        (java.util.Arrays.copyOf(s.ids, cap),
          java.util.Arrays.copyOf(s.vecs, cap * dim),
          java.util.Arrays.copyOf(s.norms, cap))
      }
    ids(s.len) = id
    var j = 0
    while (j < dim) { vecs(s.len * dim + j) = vec(j); j += 1 }
    norms(s.len) = Cosine.norm(vecs, s.len * dim, dim)
    // slot bytes written BEFORE the volatile state store publishes len
    state = State(dim, ids, vecs, norms, s.len + 1,
      s.latest + (id -> s.len), s.removed - id)
  }

  def delete(id: Long): Unit = {
    val s = state
    state = s.copy(removed = s.removed + id)
  }
}

private[serve] object DenseDelta {

  /** Immutable per-write snapshot. `ids`/`vecs`/`norms` are append-only
    * buffers (only slots < len are readable; written slots never
    * mutate); `latest` maps id → its newest slot; `removed` holds
    * deleted ids.
    */
  final case class State(dim: Int, ids: Array[Long], vecs: Array[Float],
                         norms: Array[Double], len: Int,
                         latest: Map[Long, Int], removed: Set[Long]) {

    /** Slot r is LIVE iff it is its id's newest and the id is not deleted. */
    def live(r: Int): Boolean = latest(ids(r)) == r && !removed(ids(r))

    /** Live rows (superseded and deleted slots excluded). */
    def size: Long = latest.count { case (id, _) => !removed(id) }.toLong

    /** Ids the base must not serve: shadowed by a slot, or deleted. */
    def hidden: Set[Long] = latest.keySet ++ removed

    /** Offer every live slot's exact cosine to `top`. */
    def offerLive(top: TopK, query: Seq[Float]): Unit = {
      val q = Cosine.query(query)
      val qNorm = Cosine.queryNorm(q, dim)
      var r = 0
      while (r < len) {
        if (live(r))
          top.offer(Cosine.score(vecs, r * dim, norms(r), q, qNorm, dim), ids(r))
        r += 1
      }
    }

    /** The live rows, id-ascending. */
    def rows: Seq[(Long, Seq[Float])] =
      (0 until len).filter(live)
        .map(r => (ids(r), (0 until dim).map(j => vecs(r * dim + j))))
        .sortBy(_._1)
  }
}
