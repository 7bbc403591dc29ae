package graft.serve

/** The one replica fan-out of the memory tiers — what a 10 M-doc
  * deployment of any tier looks like, made executable in one process.
  * Rows hash-shard by id into disjoint slices (in a deployment, one slice
  * per serving replica; the multi-process form is
  * [[graft.tools.FleetShardServer]] + [[FleetClient]]), a query runs on
  * every slice, and the k-bounded per-slice lists merge by [[TopK.merge]]
  * under the global (score DESC, id ASC) order.
  *
  * Shards are a plain `Seq` of the tier's own index ([[MemoryAnnIndex]],
  * [[MemoryPostingsIndex]], [[MemorySparseIndex]]); whatever differs per
  * tier lives in the caller's per-shard function: the IVF probe, a string
  * filter resolved through each shard's OWN dictionary (codes depend on
  * the shard's value set, so never reuse one shard's code on another),
  * the WAND walk and its counters.
  *
  * Merged results are BIT-IDENTICAL to the unsharded index, for every
  * tier, by one argument: the slices cover the corpus disjointly, a row
  * scores with the same fold wherever it lives, and the global top-k is
  * contained in the union of the per-slice top-k's (GraftProps'
  * `sharded-merge` property). What each tier must supply for "same fold":
  *  - dense: every slice carries the FULL centroid set, so an IVF probe
  *    scans, per slice, the same query-nearest cells — the union of
  *    scanned rows is the unsharded probe's scan set;
  *  - BM25: the GLOBAL (idf, avgdl), exactly as a deployment broadcasts
  *    dimension stats to replicas (per-slice stats would change every
  *    score);
  *  - learned-sparse: nothing — the integer dot product has no corpus
  *    statistics.
  * WAND's upper bounds are per slice, valid over that slice's rows, so
  * pruning stays answer-preserving and the counters sum.
  */
object Sharded {

  /** Deterministic hash shard of an id: splitmix64-mixed then
    * non-negative mod — balanced for sequential ids (plain `id % n`
    * would stripe correlated inserts) and reproducible everywhere.
    */
  def shardOf(id: Long, nShards: Int): Int = {
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= (z >>> 31)
    (((z % nShards) + nShards) % nShards).toInt
  }

  /** The one slicing rule: already-collected rows (the input plan runs
    * ONCE for the whole fleet; a per-shard filter + collect would run it
    * once per shard) grouped by [[shardOf]] their id, in shard order,
    * empty slices dropped — a corpus smaller than the shard count serves
    * from the occupied ones, and an empty corpus has no slices at all.
    */
  def slices[R](rows: Array[R], nShards: Int)(id: R => Long): Seq[Array[R]] = {
    require(nShards >= 1, s"nShards $nShards must be >= 1")
    val bySh = rows.groupBy(r => shardOf(id(r), nShards))
    (0 until nShards).flatMap(bySh.get)
  }

  /** Fan a query out and merge the k best. No slices answer `Nil`. */
  def topK[T](shards: Seq[T], k: Int)(per: T => Seq[(Long, Double)]): Seq[(Long, Double)] =
    TopK.merge(shards.map(per), k)

  /** [[topK]] for a WAND walk: the merged k best plus the summed
    * (fullyEvaluatedDocs, skippedPostings) counters.
    */
  def counted[T](shards: Seq[T], k: Int)(per: T => (Seq[(Long, Double)], Long, Long))
      : (Seq[(Long, Double)], Long, Long) = {
    val r = shards.map(per)
    (TopK.merge(r.map(_._1), k), r.map(_._2).sum, r.map(_._3).sum)
  }

  /** [[counted]] for integral scores (the learned-sparse tier). */
  def countedLong[T](shards: Seq[T], k: Int)(per: T => (Seq[(Long, Long)], Long, Long))
      : (Seq[(Long, Long)], Long, Long) = {
    val r = shards.map(per)
    (TopK.mergeLong(r.map(_._1), k), r.map(_._2).sum, r.map(_._3).sum)
  }

  /** Hybrid serving over sharded legs, for corpora whose per-leg walk
    * exceeds one replica (SCALE.md's 10× battery: the lexical walk is
    * what drops the hybrid tiers below the QPS bar). Each leg fans out to
    * its own slices (exact dense scan, per-slice WAND) and merges
    * `poolK` deep; [[HybridTier.fuse]] folds the two lists. Bit-identical
    * to [[MemoryServer.searchHybrid]] on an exact server over the same
    * rows: each merged leg equals its unsharded twin, and the fold is the
    * same.
    */
  def hybrid(dense: Seq[MemoryAnnIndex],
             lexical: Seq[MemoryPostingsIndex]): HybridTier = new HybridTier {
    def servesExactHybrid: Boolean = true
    def searchHybrid(qvec: Seq[Float], terms: Seq[String], k: Int,
                     poolK: Int, c: Int): Seq[(Long, Double)] =
      HybridTier.fuse(topK(dense, poolK)(_.topK(qvec, poolK)),
        topK(lexical, poolK)(_.searchWand(terms, poolK)), k, c)
  }
}
