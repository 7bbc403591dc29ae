package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Memory tier for learned-sparse retrieval ([[graft.operators.Sparse]]):
  * term → id-ascending (id, weight) postings, scored with the same integer
  * dot product as the DataFrame path — Σ_t w_q(t)·w_d(t) — so results are
  * exactly equal (integer arithmetic, no fold-order question at all).
  * Ties break to lower id, like every serving tier here.
  */
final class MemorySparseIndex private[serve] (
    // term -> (id, w); id-ascending per term. Package-private so the
    // delta tier's republish() can fold its segment into a new base
    // without a row round-trip.
    private[serve] val postings: Map[String, Array[(Long, Long)]]) {

  def vocabularySize: Int = postings.size

  /** Per-term max document weight, computed once at load — the WAND
    * upper-bound table: ub(t | query) = qw(t) · maxW(t), EXACT in
    * integer arithmetic (unlike the BM25 tier, pruning here needs no
    * float guard at all).
    */
  private lazy val maxW: Map[String, Long] = postings.map { case (t, arr) =>
    t -> arr.iterator.map(_._2).max
  }

  /** Top-k by sparse dot product; terms absent from the vocabulary
    * contribute nothing (an all-unknown query returns empty, the
    * serving convention).
    */
  def topK(query: Map[String, Long], k: Int): Seq[(Long, Long)] = {
    if (k <= 0) return Nil
    val present = query.keys.toSeq.filter(postings.contains).sorted
    if (present.isEmpty) return Nil
    val acc = new java.util.HashMap[Long, Long]()
    present.foreach { term =>
      val qw = query(term)
      postings(term).foreach { case (id, w) =>
        acc.put(id, acc.getOrDefault(id, 0L) + w * qw): Unit
      }
    }
    TopK.bestLong(acc, k)
  }

  /** WAND dynamic pruning over the integer dot product — the sparse
    * twin of [[MemoryPostingsIndex.searchWand]], SIMPLER because scores
    * are exact integers: a document is skipped iff its per-term
    * upper-bound sum is STRICTLY below the current θ (no ulp guard; a
    * bound that ties θ is always evaluated, so score-tie id-ordering
    * survives exactly). Bit-identical results to [[topK]]; negative
    * query weights are rejected (they would break the upper-bound
    * argument — learned-sparse weights are non-negative by
    * construction).
    */
  def topKWand(query: Map[String, Long], k: Int): Seq[(Long, Long)] =
    topKWandCounted(query, k)._1

  /** [[topKWand]] plus (fullyEvaluatedDocs, skippedPostings). */
  def topKWandCounted(query: Map[String, Long], k: Int)
      : (Seq[(Long, Long)], Long, Long) = {
    if (k <= 0) return (Nil, 0L, 0L)
    require(query.values.forall(_ >= 0L),
      s"WAND needs non-negative query weights, got $query")
    val present = query.keys.toSeq
      .filter(t => postings.contains(t) && query(t) > 0L).sorted
    if (present.isEmpty) return (Nil, 0L, 0L)

    final class Cur(val arr: Array[(Long, Long)], val qw: Long, val ub: Long) {
      var pos = 0
      def id: Long = arr(pos)._1
      def done: Boolean = pos >= arr.length
      def seek(target: Long): Long = {
        var lo = pos; var hi = arr.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (arr(mid)._1 < target) lo = mid + 1 else hi = mid
        }
        val jumped = (lo - pos).toLong
        pos = lo
        jumped
      }
    }
    var curs = present.map(t =>
      new Cur(postings(t), query(t), query(t) * maxW(t))).toArray

    val top = TopK.largest(k, curs.map(_.arr.length).sum)
    var evaluated = 0L
    var skipped = 0L
    var active = true
    while (active && curs.nonEmpty) {
      val sorted = curs.sortBy(_.id)
      val theta = if (top.isFull) top.rootLongScore else Long.MinValue
      var acc = 0L
      var pivot = -1
      var i = 0
      while (pivot < 0 && i < sorted.length) {
        acc += sorted(i).ub
        if (acc >= theta) pivot = i
        i += 1
      }
      if (pivot < 0) active = false
      else {
        val pivotDoc = sorted(pivot).id
        if (sorted(0).id == pivotDoc) {
          var s = 0L
          sorted.foreach { c =>
            if (!c.done && c.id == pivotDoc) {
              s += c.qw * c.arr(c.pos)._2
              c.pos += 1
            }
          }
          evaluated += 1
          top.offerLong(s, pivotDoc)
        } else {
          var j = 0
          while (j < pivot) {
            val c = sorted(j)
            if (!c.done && c.id < pivotDoc) skipped += c.seek(pivotDoc)
            j += 1
          }
        }
        curs = curs.filterNot(_.done)
      }
    }
    (top.toLongSeq, evaluated, skipped)
  }
}

object MemorySparseIndex {

  /** Load from a sparse-vector relation (id, term, w) — the same frame
    * [[graft.operators.Sparse.topKSparse]] scans (persisted
    * `partitionBy("term")` at scale; a serving node loads it in one read).
    */
  def fromDataFrame(sparseDocs: DataFrame, idCol: String): MemorySparseIndex =
    fromRows(collectRows(sparseDocs, idCol))

  /** The [[Sharded]] serving form over the same relation, evaluated once
    * (q286 feeds an uncheckpointed TF aggregation; a per-shard collect
    * would re-run it per shard). No global statistics to thread — the
    * dot product is per document. An empty relation has no slices and
    * answers `Nil`, like the unsharded index.
    */
  def sharded(sparseDocs: DataFrame, idCol: String,
              nShards: Int): Seq[MemorySparseIndex] =
    Sharded.slices(collectRows(sparseDocs, idCol), nShards)(_._2._1).map(fromRows)

  /** The relation's (term, (id, w)) rows, one collect. */
  private[graft] def collectRows(sparseDocs: DataFrame,
                                 idCol: String): Array[(String, (Long, Long))] =
    sparseDocs
      .select(col("term"), col(idCol).cast("long"), col("w").cast("long"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))

  /** Build from already-collected (term, (id, w)) rows — one slice of
    * [[sharded]], or the Spark-free loader
    * [[graft.tools.FleetShardServer]] uses.
    */
  private[graft] def fromRows(
      rows: Array[(String, (Long, Long))]): MemorySparseIndex = {
    val byTerm = rows.groupBy(_._1).map { case (t, xs) =>
      t -> xs.map(_._2).sortBy(_._1)
    }
    new MemorySparseIndex(byTerm)
  }
}

/** Incremental serving over the LEARNED-SPARSE tier — the third and
  * LAST member of the delta family ([[DeltaAnnIndex]] dense,
  * [[DeltaPostingsIndex]] lexical), and the structurally SIMPLEST: the
  * integer dot product Σ_t w_q(t)·w_d(t) depends only on the document's
  * own weights and the query — there are NO corpus statistics at all.
  * Two consequences the other tiers had to work for come free here:
  *
  *  1. **Freshness is the fan-out lemma, not a stats argument.** The
  *     published base and the memory-resident delta segment are
  *     disjoint-id document sets, so base-WAND top-k merged with the
  *     exhaustively-scored delta under (score DESC, id ASC) IS the
  *     rebuild's top-k — the same exactness proof as [[Sharded]]'s
  *     fan-out, with the delta as a second "shard".
  *     Nothing re-derives per query (BM25's merged (idf, avgdl) has no
  *     analog), and integer arithmetic leaves no fold-order question.
  *  2. **Retraction is symmetric with addition.** [[retractDoc]]
  *     removes an UNPUBLISHED add exactly (no statistic anywhere
  *     references the departed doc), mirroring the lexical tier's
  *     in-flight-purge half; a PUBLISHED doc's delete stays a
  *     republish only because the base arrays are immutable — not
  *     because any score would drift.
  *
  * Contract (DeltaSparseSpec + the q295 oracle pin it): after every
  * add/retract interleaving, [[topK]] and [[topKWand]] equal a fresh
  * [[MemorySparseIndex]] over the surviving documents exactly.
  * Weights must be POSITIVE (learned-sparse weights are non-negative
  * by construction and zero-weight postings are never materialized by
  * [[graft.operators.Sparse.tfVectors]] — admitting them would break
  * rebuild-equality on the postings' shape).
  *
  * Thread-safety: the [[DeltaPostingsIndex]] rule — writers serialize
  * on this object, readers are wait-free on an immutable volatile
  * snapshot. `fresh()` is the O(1) post-publish handle swap.
  */
final class DeltaSparseIndex private (
    base: MemorySparseIndex, baseIds: Set[Long])
  extends DeltaTier[DeltaSparseIndex] {

  private final case class Delta(
      postings: Map[String, Vector[(Long, Long)]], // term -> (id, w)
      // delta id -> its terms: retraction touches ONLY these lists —
      // O(|doc terms|), not O(|delta postings|)
      docs: Map[Long, Array[String]])

  @volatile private var delta: Delta = Delta(Map.empty, Map.empty)

  // the DeltaPostingsIndex seal: a write after republish() fails loudly
  @volatile private var republished: Boolean = false

  private def checkLive(): Unit =
    if (republished) throw new RepublishedHandleException(
      "this DeltaSparseIndex handle was republished — re-read the " +
        "serving reference (e.g. BoundedDelta.get) and retry the write")

  def deltaSize: Long = delta.docs.size.toLong

  /** A new handle over the SAME immutable base with an empty delta —
    * the post-publish swap (only correct TOGETHER with a republished
    * base, the [[DeltaPostingsIndex.fresh]] rule).
    */
  def fresh(): DeltaSparseIndex = new DeltaSparseIndex(base, baseIds)

  /** Fold the delta into a NEW immutable base ([[DeltaTier.republish]]).
    * Even simpler than the BM25 tier's fold: there are no corpus
    * statistics, so the merge is just per-term id-ascending list
    * concatenation (untouched terms SHARE the old base arrays). The
    * returned handle is result-identical to this one at the fold — and
    * to a rebuild over base ∪ delta (DeltaSparseSpec pins both). Seals
    * this handle for writers.
    */
  def republish(): DeltaSparseIndex = this.synchronized {
    checkLive()
    republished = true
    val d = delta
    val merged: Map[String, Array[(Long, Long)]] =
      if (d.postings.isEmpty) base.postings
      else (base.postings.keySet ++ d.postings.keySet).iterator.map { t =>
        val bp = base.postings.getOrElse(t, Array.empty[(Long, Long)])
        val dp = d.postings.getOrElse(t, Vector.empty)
        t -> (if (dp.isEmpty) bp else (bp ++ dp).sortBy(_._1))
      }.toMap
    new DeltaSparseIndex(new MemorySparseIndex(merged),
      baseIds ++ d.docs.keySet)
  }

  /** Append one document's sparse vector — searchable by the next
    * query. New ids only (delta AND published base); positive weights
    * only (see the class doc).
    */
  def addDoc(id: Long, weights: Map[String, Long]): Unit = this.synchronized {
    checkLive()
    val d = delta
    require(!d.docs.contains(id), s"id $id already in the delta segment")
    require(!baseIds(id),
      s"id $id already in the published base (an update is a rebuild)")
    require(weights.nonEmpty && weights.values.forall(_ > 0L),
      s"sparse weights must be positive, got $weights")
    val merged = weights.foldLeft(d.postings) { case (acc, (t, w)) =>
      acc.updated(t, acc.getOrElse(t, Vector.empty) :+ (id, w))
    }
    delta = Delta(merged, d.docs.updated(id, weights.keys.toArray))
  }

  /** Retract an UNPUBLISHED add — exact for free (no statistic
    * references the departed doc; see the class doc). Published ids are
    * rejected with the republish pointer, like the lexical tier.
    */
  def retractDoc(id: Long): Unit = this.synchronized {
    checkLive()
    val d = delta
    require(d.docs.contains(id),
      if (baseIds(id))
        s"id $id is in the published base — deleting it is a republish " +
          "(amend the sparse relation, rebuild, fresh() swap)"
      else s"id $id is not in the delta segment")
    // touch only the doc's own term lists (the docs map exists for this)
    val pruned = d.docs(id).foldLeft(d.postings) { (acc, t) =>
      val keep = acc(t).filterNot(_._1 == id)
      if (keep.isEmpty) acc - t else acc.updated(t, keep)
    }
    delta = Delta(pruned, d.docs - id)
  }

  /** The delta segment's exhaustive TAAT scores, k-bounded — the same
    * accumulator rule as [[MemorySparseIndex.topK]] (every present
    * term's postings enter, whatever the query weight), so the merge
    * equals a rebuild's TAAT for ANY query the base accepts.
    */
  private def deltaTopK(d: Delta, query: Map[String, Long],
                        k: Int): Seq[(Long, Long)] = {
    val present = query.keys.toSeq.filter(d.postings.contains).sorted
    if (present.isEmpty) return Nil
    val acc = new java.util.HashMap[Long, Long]()
    present.foreach { term =>
      val qw = query(term)
      d.postings(term).foreach { case (id, w) =>
        acc.put(id, acc.getOrDefault(id, 0L) + w * qw): Unit
      }
    }
    TopK.bestLong(acc, k)
  }

  /** Top-k over base ∪ delta — the exhaustive reference. */
  def topK(query: Map[String, Long], k: Int): Seq[(Long, Long)] = {
    if (k <= 0) return Nil
    val d = delta
    TopK.mergeLong(Seq(base.topK(query, k), deltaTopK(d, query, k)), k)
  }

  /** The serving read path: WAND over the immutable base (per-term
    * bounds need no adjustment — nothing moved), the delta segment
    * exhaustive, k-bounded merge. Bit-identical to [[topK]].
    */
  def topKWand(query: Map[String, Long], k: Int): Seq[(Long, Long)] =
    topKWandCounted(query, k)._1

  /** [[topKWand]] plus the BASE walk's (fullyEvaluatedDocs,
    * skippedPostings) pruning counters.
    */
  def topKWandCounted(query: Map[String, Long], k: Int)
      : (Seq[(Long, Long)], Long, Long) = {
    if (k <= 0) return (Nil, 0L, 0L)
    val d = delta
    val (bres, evaluated, skipped) = base.topKWandCounted(query, k)
    (TopK.mergeLong(Seq(bres, deltaTopK(d, query, k)), k), evaluated, skipped)
  }
}

object DeltaSparseIndex {

  /** Load the immutable base from the same sparse-vector relation
    * (id, term, w) every sparse tier takes.
    */
  def fromDataFrame(sparseDocs: DataFrame, idCol: String): DeltaSparseIndex =
    fromRows(MemorySparseIndex.collectRows(sparseDocs, idCol))

  /** Build from already-collected (term, (id, w)) rows — the Spark-free
    * loader (GraftProps' random-op property uses it).
    */
  private[graft] def fromRows(
      rows: Array[(String, (Long, Long))]): DeltaSparseIndex =
    new DeltaSparseIndex(MemorySparseIndex.fromRows(rows),
      rows.iterator.map(_._2._1).toSet)
}
