package graft.serve

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ann

/** Memory tier for RESIDUAL IVF-PQ ([[Ann.topKIvfResidualPq]]) — the
  * FAISS `IndexIVFPQ` serving layout: codes are stored PER CELL (the
  * inverted lists), and a request builds one ADC table per probed cell
  * from the QUERY'S residual against that cell. Per-request work = nProbe
  * × (table build: m·ksub·subdim mul-adds) + Σ probed-list codes × m byte
  * lookups + exact [[Cosine]] rerank of the bounded candidate set
  * ([[TopK]] pools, rows grouped by cell) — the byte-coded resident set
  * is 4·dim/m× smaller than the floats, which stay resident only for the
  * rerank (drop them for a codes-only replica at the cost of exact
  * ordering, as with [[MemoryPqIndex]]). Results ≡ the DataFrame path
  * bit-for-bit (ServeSpec).
  */
final class MemoryRpqIndex private (
    val dim: Int, m: Int,
    cells: Map[Int, (Int, Int)], // cell -> its row range [start, end)
    ids: Array[Long], // grouped by cell, id-ascending within a cell
    codes: Array[Byte], // m-strided, parallel to ids
    vecs: Array[Float], // dim-strided, parallel to ids
    centroids: Seq[Seq[Float]],
    codebooks: Seq[Seq[Seq[Float]]]) {

  def size: Int = ids.length

  private val norms = Cosine.norms(vecs, ids.length, dim)

  /** ADC prune over the probed cells' lists + exact cosine rerank — the
    * [[Ann.topKIvfResidualPq]] contract (one candidate pool ACROSS the
    * probed cells, cut by (adc ASC, id ASC), rerank by (score DESC, id)).
    */
  def topK(query: Seq[Float], k: Int, nProbe: Int,
           rerankFactor: Int = 4): Seq[(Long, Double)] = {
    require(query.length == dim, s"query dim ${query.length} != index dim $dim")
    if (k <= 0) return Nil
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    val probed = Ann.probeCellsFor(centroids, query, nProbe)
      .filter(cells.contains)
    if (probed.isEmpty) return Nil
    val pool = TopK.smallest(math.max(k, TopK.satMul(rerankFactor, k)), size)
    probed.foreach { cell =>
      val (start, end) = cells(cell)
      val table = Ann.adcTableFor(codebooks,
        Ann.residualOf(query, centroids(cell))).map(_.toArray).toArray
      var r = start
      while (r < end) {
        // the engine's fold: seed 0.0, subspace-ascending adds
        var s = 0.0
        var j = 0
        while (j < m) { s += table(j)(codes(r * m + j) & 0xff); j += 1 }
        pool.offer(s, ids(r), r)
        r += 1
      }
    }
    val q = Cosine.query(query)
    val batch = new CosineBatch(vecs, norms, dim, q, Cosine.queryNorm(q, dim),
      ids, TopK.largest(k, pool.size))
    batch.addAll(pool.rowsBestFirst())
    batch.result().toSeq
  }
}

object MemoryRpqIndex {

  /** Load from a residual-coded frame ([[Ann.withResiduals]] +
    * [[Ann.withPqCodes]]) plus the IVF centroids and residual codebooks —
    * the same inputs the DataFrame path scans.
    */
  def fromDataFrame(coded: DataFrame, idCol: String, embCol: String,
                    assignCol: String, codeCol: String,
                    centroids: Seq[Seq[Float]],
                    codebooks: Seq[Seq[Seq[Float]]]): MemoryRpqIndex = {
    val m = codebooks.length
    require(codebooks.forall(_.length <= 256),
      "byte-packed PQ needs ksub <= 256")
    val rows = coded
      .where(col(embCol).isNotNull && col(codeCol).isNotNull)
      .select(col(idCol).cast("long"), col(embCol),
        col(assignCol).cast("int"), col(codeCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2), r.getSeq[Int](3)))
      .sortBy(r => (r._3, r._1))
    require(rows.nonEmpty, "MemoryRpqIndex: empty corpus")
    val dim = rows.head._2.length
    require(dim == codebooks.head.head.size * m,
      s"dim $dim != m($m) x subdim(${codebooks.head.head.size})")
    val ids = rows.map(_._1)
    val vecs = new Array[Float](rows.length * dim)
    val codes = new Array[Byte](rows.length * m)
    rows.zipWithIndex.foreach { case ((_, v, _, c), r) =>
      v.copyToArray(vecs, r * dim)
      c.zipWithIndex.foreach { case (cv, j) => codes(r * m + j) = cv.toByte }
    }
    val cells = rows.indices.groupBy(r => rows(r)._3).map { case (cell, rs) =>
      cell -> (rs.head, rs.last + 1)
    }
    new MemoryRpqIndex(dim, m, cells, ids, codes, vecs, centroids, codebooks)
  }
}
