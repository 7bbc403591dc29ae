package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Binary (1-bit sign) memory index — the smallest serving replica on
  * the compression ladder next to [[MemorySq8Index]] (4×) and
  * [[MemoryPqIndex]] (dim·32/m·8 ×): ⌈dim/64⌉ longs per vector = 32×
  * smaller than float32, scored by Hamming distance (one xor+popcount
  * per 64 dims — integer-only, the cheapest possible scan kernel; the
  * 10 M-doc × dim-768 deployment in [[MemoryAnnIndex]]'s note drops
  * ~30 GB → ~0.96 GB of codes). The code rule is
  * [[graft.operators.Quantize.packSigns]] (bit set iff x_i > 0),
  * identical to the codegen [[graft.functions.SignPack]] the DataFrame
  * tier stages, so [[topK]] (Hamming prune + exact [[Cosine]] rerank
  * over retained floats) returns exactly what
  * [[graft.operators.Quantize.topKBinary]] returns, bit-for-bit
  * (ServeSpec + the q192 oracle pin it). Construct approx-only
  * ([[MemoryBinaryIndex.fromDataFrameApproxOnly]]) for the
  * compressed-only replica serving [[topKApprox]] — integer distances,
  * no floats resident at all.
  *
  * Thread-safety: immutable after construction.
  */
final class MemoryBinaryIndex private (
    val dim: Int,
    wordsPerVec: Int,
    ids: Array[Long], // ascending
    words: Array[Long], // wordsPerVec-strided, parallel to ids
    vecs: Option[Array[Float]]) { // dim-strided, only if rerank retained

  def size: Int = ids.length

  private val norms = vecs.map(Cosine.norms(_, ids.length, dim))

  private def hammingAll(qbits: Array[Long]): Array[Int] = {
    require(qbits.length == wordsPerVec,
      s"query words ${qbits.length} != index words $wordsPerVec")
    val out = new Array[Int](ids.length)
    var r = 0
    while (r < ids.length) {
      var h = 0
      var w = 0
      val base = r * wordsPerVec
      while (w < wordsPerVec) {
        h += java.lang.Long.bitCount(words(base + w) ^ qbits(w))
        w += 1
      }
      out(r) = h
      r += 1
    }
    out
  }

  // bounded k-selection by (hamming ASC, id ASC), rows as payload
  private def rank(ham: Array[Int], k: Int): Array[Int] = {
    val top = TopK.smallest(k, ham.length)
    var r = 0
    while (r < ham.length) { top.offerLong(ham(r), ids(r), r); r += 1 }
    top.rowsBestFirst()
  }

  /** Hamming top-k straight off the codes (no floats needed — the
    * compressed-only replica). Returns integer distances, ascending.
    */
  def topKApprox(query: Seq[Float], k: Int): Seq[(Long, Int)] = {
    require(query.length == dim, s"query dim ${query.length} != index dim $dim")
    if (k <= 0) return Nil
    val ham = hammingAll(graft.operators.Quantize.packSigns(query).toArray)
    rank(ham, k).toSeq.map(r => (ids(r), ham(r)))
  }

  /** Hamming prune + exact cosine rerank over the retained vectors —
    * the [[graft.operators.Quantize.topKBinary]] contract, bit-identical.
    */
  def topK(query: Seq[Float], k: Int, rerankFactor: Int = 8): Seq[(Long, Double)] = {
    val vs = vecs.getOrElse(sys.error(
      "MemoryBinaryIndex built approx-only (no vectors retained for rerank)"))
    require(query.length == dim, s"query dim ${query.length} != index dim $dim")
    if (k <= 0) return Nil
    val ham = hammingAll(graft.operators.Quantize.packSigns(query).toArray)
    val pool = rank(ham, math.max(k, TopK.satMul(rerankFactor, k)))
    // exact codegen-fold cosine over the float vector
    val q = Cosine.query(query)
    val batch = new CosineBatch(vs, norms.get, dim, q, Cosine.queryNorm(q, dim),
      ids, TopK.largest(k, pool.length))
    batch.addAll(pool)
    batch.result().toSeq
  }
}

object MemoryBinaryIndex {

  private def build(rows: Seq[(Long, Seq[Long], Option[Seq[Float]])],
                    dim: Int): MemoryBinaryIndex = {
    val sorted = rows.sortBy(_._1).toArray
    val n = sorted.length
    val wpv = sorted.head._2.length
    require(wpv == (dim + 63) / 64,
      s"code words $wpv inconsistent with dim $dim")
    val ids = new Array[Long](n)
    val words = new Array[Long](n * wpv)
    val withVecs = sorted.forall(_._3.isDefined)
    val vecs = if (withVecs) Some(new Array[Float](n * dim)) else None
    var r = 0
    while (r < n) {
      val (id, ws, v) = sorted(r)
      require(ws.length == wpv, s"ragged codes at id $id")
      ids(r) = id
      var w = 0
      while (w < wpv) { words(r * wpv + w) = ws(w); w += 1 }
      (vecs, v) match {
        case (Some(arr), Some(fv)) =>
          var i = 0
          while (i < dim) { arr(r * dim + i) = fv(i); i += 1 }
        case _ => ()
      }
      r += 1
    }
    new MemoryBinaryIndex(dim, wpv, ids, words, vecs)
  }

  /** Load from a [[graft.operators.Quantize.withBinary]]-staged frame,
    * retaining the float vectors for exact re-rank.
    */
  def fromDataFrame(staged: DataFrame, idCol: String,
                    vecCol: String): MemoryBinaryIndex = {
    val rows = staged.where(col("bits").isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col("bits"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1),
        Option(r.getSeq[Float](2)))).toSeq
    require(rows.nonEmpty, "MemoryBinaryIndex: empty corpus")
    build(rows, rows.map(_._3.map(_.length).getOrElse(0)).max)
  }

  /** Compressed-only load: sign codes only, no float vectors — the
    * 32×-smaller replica that serves [[MemoryBinaryIndex.topKApprox]].
    * `dim` must be supplied (codes alone only bound it to a word range).
    */
  def fromDataFrameApproxOnly(staged: DataFrame, idCol: String,
                              dim: Int): MemoryBinaryIndex = {
    val rows = staged.where(col("bits").isNotNull)
      .select(col(idCol).cast("long"), col("bits"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1),
        Option.empty[Seq[Float]])).toSeq
    require(rows.nonEmpty, "MemoryBinaryIndex: empty corpus")
    build(rows, dim)
  }
}
