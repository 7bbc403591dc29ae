package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Late-interaction (MaxSim) serving tier — the memory form of
  * [[graft.operators.LateInteraction.maxSimTopK]]: each doc's part
  * vectors sit contiguously in one flat array, and a request's score is
  * Σ over query vectors of the per-doc MAX cosine, folded in query
  * order — the same pinned arithmetic as the DataFrame tier (per-part
  * cosine = the codegen fold; max is order-free exact; the sum is
  * left-assoc query-ascending; part norms hoisted to load by [[Cosine]]),
  * so results are bit-identical (ServeSpec + the q197 oracle pin it).
  *
  * Memory is parts × dim × 4 B — late interaction's cost is the
  * multi-vector corpus itself; the serving win over the DataFrame path
  * is the same job-free request floor as the other memory tiers.
  * Thread-safety: immutable after construction.
  */
final class MemoryMaxSimIndex private (
    val dim: Int,
    docIds: Array[Long], // ascending
    offsets: Array[Int], // length nDocs+1: part range of doc d
    vecs: Array[Float]) { // dim-strided parts, grouped by doc

  def nDocs: Int = docIds.length
  def nParts: Int = offsets(docIds.length)

  private val norms = Cosine.norms(vecs, nParts, dim)

  /** Top-k docs by MaxSim for the query bag (bag order defines the
    * score fold). (score DESC, doc ASC), k rows.
    */
  def topK(queryBag: Seq[Seq[Float]], k: Int): Seq[(Long, Double)] = {
    require(queryBag.nonEmpty, "maxsim: empty query bag")
    require(queryBag.forall(_.length == dim), "query bag dim mismatch")
    require(k > 0)
    val qs = queryBag.map(Cosine.query).toArray
    val qNorms = qs.map(Cosine.queryNorm(_, dim))
    val top = TopK.largest(k, docIds.length)
    var d = 0
    while (d < docIds.length) {
      var score = 0.0
      var qi = 0
      var first = true
      while (qi < qs.length) {
        var m = Double.NegativeInfinity
        var p = offsets(d)
        while (p < offsets(d + 1)) {
          val c = Cosine.score(vecs, p * dim, norms(p), qs(qi), qNorms(qi), dim)
          if (c > m) m = c
          p += 1
        }
        // left-assoc query-ascending fold, the DataFrame tier's
        // m0+m1+...: seeded at m0, not 0.0+m0
        if (first) { score = m; first = false } else score += m
        qi += 1
      }
      top.offer(score, docIds(d))
      d += 1
    }
    top.toSeq
  }
}

object MemoryMaxSimIndex {

  /** Load from a multi-vector frame: one row per (doc, part vector).
    * An all-zero part is REJECTED at load: its cosine is NaN, and NaN
    * ordering diverges between Spark's `max` (NaN ranks greatest) and
    * any IEEE `>` fold — a zero part is a degenerate embedding upstream
    * should never have produced, so the tier fails fast instead of
    * silently breaking the bit-parity contract with the DataFrame path.
    */
  def fromDataFrame(docs: DataFrame, docCol: String,
                    vecCol: String): MemoryMaxSimIndex = {
    val rows = docs.select(col(docCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    require(rows.nonEmpty, "MemoryMaxSimIndex: empty corpus")
    val dim = rows.head._2.length
    require(rows.forall(_._2.length == dim), "ragged dims")
    rows.find(_._2.forall(_ == 0.0f)).foreach { case (id, _) =>
      throw new IllegalArgumentException(
        s"MemoryMaxSimIndex: doc $id has an all-zero part vector " +
          "(cosine would be NaN — reject degenerate embeddings upstream)")
    }
    val byDoc = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val docIds = byDoc.map(_._1).toArray
    val offsets = new Array[Int](docIds.length + 1)
    var d = 0
    while (d < docIds.length) {
      offsets(d + 1) = offsets(d) + byDoc(d)._2.length
      d += 1
    }
    val vecs = new Array[Float](rows.length * dim)
    var p = 0
    byDoc.foreach { case (_, parts) =>
      parts.foreach { case (_, v) =>
        var j = 0
        while (j < dim) { vecs(p * dim + j) = v(j); j += 1 }
        p += 1
      }
    }
    new MemoryMaxSimIndex(dim, docIds, offsets, vecs)
  }
}
