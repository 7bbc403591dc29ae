package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.DetMath

/** Incremental serving over an immutable LEXICAL index — the postings
  * twin of [[DeltaAnnIndex]], closing the freshness gap on the BM25
  * tier: the published postings stay immutable, newly arrived documents
  * land in a memory-resident delta segment and are searchable by the
  * next query, and the periodic Spark rebuild folds them into the next
  * published artifact.
  *
  * What makes the lexical delta HARDER than the dense one: BM25 couples
  * every document's score to whole-corpus statistics — idf(t) moves
  * with df(t) and N, avgdl with Σdl — so appending one document changes
  * the score of EVERY result, not just its own. A delta tier that kept
  * serving the stale idf/avgdl would silently drift from the rebuilt
  * index. This class therefore re-derives the merged statistics per
  * query — df(t) = base df + delta df, N and Σdl likewise, idf through
  * [[DetMath.lnDet]] (the driver-side twin of the pinned column form) —
  * and scores BOTH tiers with them.
  *
  * Result contract (DeltaPostingsSpec + the q291 oracle pin it): `topK`
  * returns EXACTLY what a fresh [[MemoryPostingsIndex]] built over
  * base ∪ delta documents (stats recomputed by the batch formulas)
  * would return — same rows, same order, same score BITS. Per-document
  * fold order is the term-ascending rule both the batch path and the
  * memory tier use, and every float op replays the same pinned
  * sequence.
  *
  * ADDS-ONLY against the PUBLISHED base: `addDoc` appends documents
  * with NEW ids — re-adding a delta id OR an id present in the base
  * postings is rejected (enforced, not just documented: the base id
  * set is kept at load; the one unguardable case is a base document
  * with empty text, which has no postings — the same single-writer
  * discipline as [[graft.streaming.UpsertSink]]).
  * Deletes/updates of PUBLISHED documents are deliberately NOT
  * offered: removing a base document shifts df/N/avgdl too, which is
  * exactly a rebuild — route them through the republish protocol (the
  * dense tier's tombstones have no such coupling, which is why
  * [[DeltaAnnIndex]] can upsert and this tier must not pretend to).
  * The ONE delete this tier can serve exactly is [[retractDoc]]: a
  * delta document's full term vector is known (it arrived through
  * `addDoc`), so retracting an UNPUBLISHED add reverses every integer
  * the stats derive from — the merged (N, Σdl, df) land on exactly the
  * sums a rebuild over the surviving documents computes, and scores
  * stay bit-identical. This is the serving half of an in-flight GDPR
  * purge: a doc purged before its first publish disappears
  * immediately, no republish needed (a published doc's purge remains
  * the measured republish cutover).
  *
  * Tokenization replays the batch build exactly: `split(text, " ")`
  * keeps empty tokens (Spark's split semantics — `text.split(" ", -1)`
  * here), dl = token count, tf per distinct token.
  *
  * Thread-safety: writers serialize on this object; readers are
  * wait-free on an immutable volatile snapshot (the [[DeltaAnnIndex]]
  * rule).
  */
final class DeltaPostingsIndex private (
    base: Map[String, Array[(Long, Long, Long)]], // term -> (id, tf, dl)
    baseIds: Set[Long],
    baseN: Long, baseSumDl: Long,
    k1: Double, b: Double) extends DeltaTier[DeltaPostingsIndex] {

  private final case class Delta(
      postings: Map[String, Vector[(Long, Long, Long)]],
      // delta id -> (dl, its distinct terms): retraction reverses the
      // stats from dl and touches ONLY the doc's own term lists —
      // O(|doc terms|), not O(|delta postings|)
      docs: Map[Long, (Long, Array[String])],
      n: Long, sumDl: Long)

  @volatile private var delta: Delta =
    Delta(Map.empty, Map.empty, 0L, 0L)

  // set by republish(): the delta was folded into a successor handle, so
  // a write landing here would be silently discarded — fail loudly instead
  @volatile private var republished: Boolean = false

  private def checkLive(): Unit =
    if (republished) throw new RepublishedHandleException(
      "this DeltaPostingsIndex handle was republished — re-read the " +
        "serving reference (e.g. BoundedDelta.get) and retry the write")

  def deltaSize: Long = delta.n

  /** A new handle over the SAME immutable base with an empty delta —
    * the post-publish swap ([[DeltaAnnIndex]]'s rebuild-cadence rule:
    * the periodic Spark rebuild folds the delta into the next published
    * artifact, and the serving process swaps to a fresh handle; the
    * base arrays are shared, so the swap is O(1)). NOTE the swap is
    * only correct TOGETHER with a republished base — a fresh handle
    * over the old base forgets the delta docs' contribution to N/df.
    */
  def fresh(): DeltaPostingsIndex =
    new DeltaPostingsIndex(base, baseIds, baseN, baseSumDl, k1, b)

  /** Fold the delta into a NEW immutable base — the in-memory republish
    * ([[DeltaTier.republish]]): per-term posting lists merge id-ascending
    * (lists without delta postings SHARE the old base array — the fold
    * copies only what the delta touched), and the corpus statistics fold
    * as exact integer sums (N + delta n, Σdl + delta Σdl), so the
    * returned handle's per-query merged stats — and therefore every
    * score bit — equal this handle's at the moment of the fold, and
    * equal a batch rebuild over base ∪ delta (DeltaPostingsSpec pins
    * both). Seals this handle for writers; readers keep the pre-fold
    * snapshot.
    */
  def republish(): DeltaPostingsIndex = this.synchronized {
    checkLive()
    republished = true
    val d = delta
    val merged: Map[String, Array[(Long, Long, Long)]] =
      if (d.postings.isEmpty) base
      else (base.keySet ++ d.postings.keySet).iterator.map { t =>
        val bp = base.getOrElse(t, Array.empty[(Long, Long, Long)])
        val dp = d.postings.getOrElse(t, Vector.empty)
        t -> (if (dp.isEmpty) bp else (bp ++ dp).sortBy(_._1))
      }.toMap
    new DeltaPostingsIndex(merged, baseIds ++ d.docs.keySet,
      baseN + d.n, baseSumDl + d.sumDl, k1, b)
  }

  /** Append one document — searchable by the next [[topK]] call.
    * Rejects ids already in the delta AND ids present in the base
    * postings: accepting a base id would double-count its score in
    * [[topK]] and let [[topKWand]] return the same doc_id twice (delta
    * seed + base walk each offer a heap entry). The base id set comes
    * from the posting rows at load — a base document with EMPTY text
    * has no postings and stays the caller's responsibility (it cannot
    * collide in the heap either: it appears in no posting list).
    */
  def addDoc(id: Long, text: String): Unit = this.synchronized {
    checkLive()
    val d = delta
    require(!d.docs.contains(id),
      s"id $id already in the delta segment (adds-only)")
    require(!baseIds(id),
      s"id $id already in the published base (adds-only; an update is a rebuild)")
    // ONE tokenization twin for the whole repo (Sparse.tfWeights):
    // dl = total token count = the term frequencies' sum
    val weights = graft.operators.Sparse.tfWeights(text)
    val dl = weights.valuesIterator.sum
    val byTerm = weights.map { case (t, w) => t -> (id, w, dl) }
    val merged = byTerm.foldLeft(d.postings) { case (acc, (t, p)) =>
      acc.updated(t, acc.getOrElse(t, Vector.empty) :+ p)
    }
    delta = Delta(merged, d.docs.updated(id, (dl, byTerm.keys.toArray)),
      d.n + 1L, d.sumDl + dl)
  }

  /** Retract an UNPUBLISHED add — the one delete the lexical tier can
    * serve exactly. The doc's postings leave the delta segment and
    * every statistic they touched reverses as integer arithmetic
    * (N − 1, Σdl − dl, per-term df − 1), so the per-query merged stats
    * equal — to the bit — what a fresh rebuild over the surviving
    * documents derives: integer sums have no fold-order sensitivity,
    * and [[topK]]/[[topKWand]] recompute idf/avgdl from them on every
    * call. DeltaPostingsSpec pins tier == rebuild after EVERY
    * add/retract interleaving.
    *
    * A PUBLISHED id is rejected with the republish pointer: its
    * postings are fanned out inside the immutable base arrays and its
    * removal shifts stats for every scored document — exactly the
    * measured republish cutover ([[graft.operators.Forget]] +
    * `fresh()` swap). Retracting an id twice is rejected the same way
    * an add of a live id is: the caller's bookkeeping is wrong.
    *
    * After a retract the id is addable again (it is no longer live
    * anywhere), which is also what a rebuild over the re-added doc
    * would serve.
    */
  def retractDoc(id: Long): Unit = this.synchronized {
    checkLive()
    val d = delta
    require(d.docs.contains(id),
      if (baseIds(id))
        s"id $id is in the published base — deleting it is a republish " +
          "(amend postings via Forget.purge, rebuild stats, fresh() swap)"
      else s"id $id is not in the delta segment")
    val (dl, terms) = d.docs(id)
    // touch only the doc's own term lists (the docs map exists for this)
    val pruned = terms.foldLeft(d.postings) { (acc, t) =>
      val keep = acc(t).filterNot(_._1 == id)
      if (keep.isEmpty) acc - t else acc.updated(t, keep)
    }
    delta = Delta(pruned, d.docs - id, d.n - 1L, d.sumDl - dl)
  }

  /** The merged corpus statistics a fresh rebuild would compute. */
  private def mergedStats(d: Delta): (Long, Double) = {
    val n = baseN + d.n
    val avgdl = (baseSumDl + d.sumDl).toDouble / n.toDouble
    (n, avgdl)
  }

  /** idf under merged stats — the batch expression's op order exactly:
    * (N - df) as integer, cast, + 0.5, divide, + 1, pinned ln.
    */
  private def idfOf(df: Long, n: Long): Double = {
    val x = ((n - df).toDouble + 0.5) / (df.toDouble + 0.5) + 1.0
    DetMath.lnDet(x)
  }

  /** BM25 top-k over base ∪ delta under merged statistics — bit-equal
    * to a fresh index over the same documents. Unknown-terms-only
    * queries return empty (the serving convention). This is the
    * exhaustive TAAT reference; serving traffic takes [[topKWand]].
    */
  def topK(terms: Seq[String], k: Int): Seq[(Long, Double)] = {
    if (k <= 0) return Nil
    val d = delta
    val (n, avgdl) = mergedStats(d)
    val present = terms.distinct
      .filter(t => base.contains(t) || d.postings.contains(t)).sorted
    if (present.isEmpty) return Nil
    val acc = new java.util.HashMap[Long, Double]()
    present.foreach { term =>
      val bp = base.getOrElse(term, Array.empty[(Long, Long, Long)])
      val dp = d.postings.getOrElse(term, Vector.empty)
      val df = bp.length.toLong + dp.length.toLong
      val w = idfOf(df, n)
      def fold(id: Long, tf: Long, dl: Long): Unit = {
        val tfD = tf.toDouble
        val c = w * ((tfD * (k1 + 1.0)) /
          (tfD + k1 * ((1.0 - b) + b * (dl.toDouble / avgdl))))
        acc.put(id, acc.getOrDefault(id, 0.0) + c): Unit
      }
      bp.foreach { case (id, tf, dl) => fold(id, tf, dl) }
      dp.foreach { case (id, tf, dl) => fold(id, tf, dl) }
    }
    TopK.best(acc, k)
  }

  /** Per-term max of the AVGDL-FREE tf part, over the base postings:
    * tf·(k1+1)/(tf + k1·(1−b)) ≥ the real tf part for ANY avgdl > 0
    * (the dropped b·dl/avgdl term only shrinks the denominator's
    * partner), and it is increasing in tf — so the per-term max tf
    * gives a bound that stays valid as delta adds move avgdl. Computed
    * once at load; idf (which moves with df/N) multiplies in per query.
    */
  private lazy val baseMaxTfPart: Map[String, Double] = base.map {
    case (t, arr) =>
      var m = 0L
      arr.foreach { case (_, tf, _) => if (tf > m) m = tf }
      val tfD = m.toDouble
      t -> (tfD * (k1 + 1.0)) / (tfD + k1 * (1.0 - b))
  }

  /** WAND over the base tier under MERGED statistics, seeded by the
    * exhaustively-scored delta segment — the serving path that keeps
    * the published tier's skip rate while staying fresh:
    *
    *  1. the delta segment (one lag window of docs — small by the
    *     publish-cadence contract) scores exhaustively and seeds the
    *     top-k heap, raising θ before the base walk starts;
    *  2. the base walks document-at-a-time with per-term upper bounds
    *     ub(t) = idf_merged(t) · [[baseMaxTfPart]](t) — valid under any
    *     merged avgdl (see there), so the pruning is answer-preserving
    *     even though the stats moved since the bound was computed;
    *  3. the same ulp guard as [[MemoryPostingsIndex.searchWand]]: a
    *     document is skipped only when ubSum + 64·ulp < θ, and a bound
    *     that TIES θ is always evaluated, so score-tie id-ordering
    *     survives.
    *
    * Results are bit-identical to [[topK]] (DeltaPostingsSpec pins it
    * after every add): a fully evaluated document folds the same
    * contributions in the same term-ascending order.
    */
  def topKWand(terms: Seq[String], k: Int): Seq[(Long, Double)] =
    topKWandCounted(terms, k)._1

  /** [[topKWand]] plus (fullyEvaluatedBaseDocs, skippedBasePostings). */
  def topKWandCounted(terms: Seq[String], k: Int)
      : (Seq[(Long, Double)], Long, Long) = {
    if (k <= 0) return (Nil, 0L, 0L)
    val d = delta
    val (n, avgdl) = mergedStats(d)
    val present = terms.distinct
      .filter(t => base.contains(t) || d.postings.contains(t)).sorted
    if (present.isEmpty) return (Nil, 0L, 0L)
    val wOf: Map[String, Double] = present.map { t =>
      val df = base.get(t).map(_.length.toLong).getOrElse(0L) +
        d.postings.get(t).map(_.length.toLong).getOrElse(0L)
      t -> idfOf(df, n)
    }.toMap
    def contrib(w: Double, tf: Long, dl: Long): Double = {
      val tfD = tf.toDouble
      w * ((tfD * (k1 + 1.0)) /
        (tfD + k1 * ((1.0 - b) + b * (dl.toDouble / avgdl))))
    }

    val top = TopK.largest(k, present.map { t =>
      base.get(t).map(_.length).getOrElse(0) +
        d.postings.get(t).map(_.length).getOrElse(0)
    }.sum)

    // 1) delta segment: exhaustive, term-ascending per-doc fold
    val dacc = new java.util.HashMap[Long, Double]()
    present.foreach { term =>
      val w = wOf(term)
      d.postings.getOrElse(term, Vector.empty).foreach { case (id, tf, dl) =>
        dacc.put(id, dacc.getOrDefault(id, 0.0) + contrib(w, tf, dl)): Unit
      }
    }
    dacc.forEach((id, s) => top.offer(s, id))

    // 2) WAND over the base cursors
    final class Cur(val arr: Array[(Long, Long, Long)], val w: Double,
                    val ub: Double) {
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
    var curs = present.flatMap { t =>
      base.get(t).filter(_.nonEmpty).map(arr =>
        new Cur(arr, wOf(t), wOf(t) * baseMaxTfPart(t)))
    }.toArray
    var evaluated = 0L
    var skipped = 0L
    var active = true
    while (active && curs.nonEmpty) {
      val sorted = curs.sortBy(_.id)
      val theta = if (top.isFull) top.rootScore else Double.NegativeInfinity
      var acc2 = 0.0
      var pivot = -1
      var i = 0
      while (pivot < 0 && i < sorted.length) {
        acc2 += sorted(i).ub
        // the published tier's ulp guard: never skip inside float noise
        if (acc2 + 64.0 * math.ulp(math.max(acc2, math.abs(theta))) >= theta)
          pivot = i
        i += 1
      }
      if (pivot < 0) active = false
      else {
        val pivotDoc = sorted(pivot).id
        if (sorted(0).id == pivotDoc) {
          // full evaluation: term-ascending fold (sorted is id-grouped,
          // but all cursors AT pivotDoc are iterated in term order
          // because `present` built the cursor array term-ascending and
          // sortBy is stable)
          var s = 0.0
          curs.foreach { c =>
            if (!c.done && c.id == pivotDoc) {
              val (_, tf, dl) = c.arr(c.pos)
              s += contrib(c.w, tf, dl)
              c.pos += 1
            }
          }
          evaluated += 1
          top.offer(s, pivotDoc)
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
    (top.toSeq, evaluated, skipped)
  }
}

object DeltaPostingsIndex {

  /** Load the immutable base from a [[graft.operators.Bm25
    * .buildPostings]] frame plus the whole-corpus (N, Σdl) the caller
    * computed over the DOCUMENT frame (documents without postings —
    * empty texts — still count toward both; postings alone cannot
    * recover them). No idf map is taken: df is the posting-list length
    * and idf re-derives per query under merged stats.
    */
  def fromDataFrame(postings: DataFrame, idCol: String,
                    baseN: Long, baseSumDl: Long,
                    k1: Double = 1.2, b: Double = 0.75): DeltaPostingsIndex = {
    val rows = postings
      .select(col("term"), col(idCol).cast("long"), col("tf").cast("long"),
        col("dl").cast("long"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
    fromRows(rows, baseN, baseSumDl, k1, b)
  }

  /** Build from already-collected (term, (id, tf, dl)) posting rows —
    * the Spark-free loader (GraftProps' random-op property uses it).
    */
  private[graft] def fromRows(rows: Array[(String, (Long, Long, Long))],
                              baseN: Long, baseSumDl: Long,
                              k1: Double = 1.2,
                              b: Double = 0.75): DeltaPostingsIndex = {
    require(baseN > 0, "empty base corpus (baseN must be > 0)")
    val byTerm = rows.groupBy(_._1).map { case (t, xs) =>
      t -> xs.map(_._2).sortBy(_._1)
    }
    val ids = rows.iterator.map(_._2._1).toSet
    new DeltaPostingsIndex(byTerm, ids, baseN, baseSumDl, k1, b)
  }
}
