package graft.serve

/** The memory tiers' cosine, with the row side paid once at load.
  *
  * The Spark path's codegen fold ([[graft.functions.CosineSimilarity]])
  * accumulates dot, ‖row‖² and ‖q‖² element by element in ascending order
  * and returns `dot / (sqrt(na) * sqrt(nb))`. The three accumulators are
  * independent, so the row norm is computed here once per row with the
  * same j-ascending fold and the same sqrt, the query norm once per
  * request, and a candidate costs only its dot product. The final
  * `dot / (rowNorm * qNorm)` has the same operands in the same order, so
  * every score keeps its bits (the HNSW tier took this step first; the
  * bit-identity specs pin all of them).
  */
private[serve] object Cosine {

  /** ‖v‖ over `len` elements of `vecs` from `base`. */
  def norm(vecs: Array[Float], base: Int, len: Int): Double = {
    var na = 0.0
    var j = 0
    while (j < len) { val x = vecs(base + j).toDouble; na += x * x; j += 1 }
    math.sqrt(na)
  }

  /** The norm of each of the `n` `dim`-strided rows of `vecs`. */
  def norms(vecs: Array[Float], n: Int, dim: Int): Array[Double] =
    Array.tabulate(n)(r => norm(vecs, r * dim, dim))

  /** A query widened once to the fold's double operands. */
  def query(q: Seq[Float]): Array[Double] = q.iterator.map(_.toDouble).toArray

  /** ‖q‖ over the first `len` elements. */
  def queryNorm(q: Array[Double], len: Int): Double = {
    var nb = 0.0
    var j = 0
    while (j < len) { val y = q(j); nb += y * y; j += 1 }
    math.sqrt(nb)
  }

  /** cos(row at `base`, q) over `len` elements, given both norms. */
  def score(vecs: Array[Float], base: Int, rowNorm: Double,
            q: Array[Double], qNorm: Double, len: Int): Double = {
    var dot = 0.0
    var j = 0
    while (j < len) { dot += vecs(base + j).toDouble * q(j); j += 1 }
    dot / (rowNorm * qNorm)
  }
}
