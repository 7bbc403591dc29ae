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
  *
  * Four rows per pass ([[dot4]]). One row's dot is a single chain of
  * dependent double adds, so a one-row loop waits on the add latency at
  * every element. [[dot4]] runs four rows' chains side by side, sharing
  * each `q(j)` load; the chains are independent, so the core overlaps
  * them. Each row still folds its own elements j-ascending, mul then add
  * (a product of two widened floats is exact in double, so only the add
  * order can move a bit, and each chain keeps it), so a lane's dot is
  * the one-row [[score]]'s dot bit for bit. Every multi-row scan in
  * `serve/` goes through [[scores]] or [[CosineBatch]]; a 1–3-row tail
  * takes [[score]]. Measured and rejected (4-core Xeon, 10K×768 rows,
  * the four door filter shapes):
  *  - `jdk.incubator.vector` lanes: the module needs `--add-modules` on
  *    every JVM that loads the class (sbt, the benchmark, each Spark
  *    launch), and none passes it, so it would be a second, untested path;
  *  - reordering rows by sport so a filter range maps to contiguous rows:
  *    no further gain per request over the scattered 4-row fold
  *    (1.28 vs 1.28 ms);
  *  - eight chains per pass: slower than four (1.46–3.6 vs 1.25–1.5 ms
  *    per request).
  */
private[graft] object Cosine {

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

  /** The dots of the rows at `b0`..`b3` with `q` over `len` elements,
    * into `out(at)`..`out(at + 3)`: four independent j-ascending
    * mul-then-add chains, each [[score]]'s fold.
    */
  def dot4(vecs: Array[Float], b0: Int, b1: Int, b2: Int, b3: Int,
           q: Array[Double], len: Int, out: Array[Double], at: Int): Unit = {
    var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
    var j = 0
    while (j < len) {
      val y = q(j)
      d0 += vecs(b0 + j).toDouble * y
      d1 += vecs(b1 + j).toDouble * y
      d2 += vecs(b2 + j).toDouble * y
      d3 += vecs(b3 + j).toDouble * y
      j += 1
    }
    out(at) = d0; out(at + 1) = d1; out(at + 2) = d2; out(at + 3) = d3
  }

  /** cos(row, q) of each of `rows(0 until n)` (row r at `r * dim`, norm
    * `norms(r)`) into `out(0 until n)`: four rows per [[dot4]] pass, the
    * tail one [[score]] each — the same bits as n [[score]] calls.
    */
  def scores(vecs: Array[Float], norms: Array[Double], dim: Int,
             rows: Array[Int], n: Int,
             q: Array[Double], qNorm: Double, out: Array[Double]): Unit = {
    var i = 0
    while (i + 4 <= n) {
      val r0 = rows(i); val r1 = rows(i + 1); val r2 = rows(i + 2); val r3 = rows(i + 3)
      dot4(vecs, r0 * dim, r1 * dim, r2 * dim, r3 * dim, q, dim, out, i)
      out(i) = out(i) / (norms(r0) * qNorm)
      out(i + 1) = out(i + 1) / (norms(r1) * qNorm)
      out(i + 2) = out(i + 2) / (norms(r2) * qNorm)
      out(i + 3) = out(i + 3) / (norms(r3) * qNorm)
      i += 4
    }
    while (i < n) {
      val r = rows(i)
      out(i) = score(vecs, r * dim, norms(r), q, qNorm, dim)
      i += 1
    }
  }
}

/** One request's exact-cosine scan into a [[TopK]]: the caller [[add]]s
  * the rows that pass its filter, in scan order; every fourth row scores
  * the buffered four in one [[Cosine.dot4]] pass, and [[result]] scores
  * the 1–3 left over. Each score goes to `top` as `(score, ids(r), r)`
  * when `admit(score, id)` holds (a keyset cursor; everything by
  * default). Offers keep scan order, so ties and the heap's decisions
  * are the one-row loop's. Not thread-safe: one per request.
  */
private[graft] final class CosineBatch(
    vecs: Array[Float], norms: Array[Double], dim: Int,
    q: Array[Double], qNorm: Double, ids: Array[Long], top: TopK,
    admit: (Double, Long) => Boolean = CosineBatch.admitAll) {

  private val rows = new Array[Int](4)
  private val out = new Array[Double](4)
  private var n = 0

  def add(r: Int): Unit = {
    rows(n) = r
    n += 1
    if (n == 4) drain()
  }

  def addAll(rs: Array[Int]): Unit = {
    var i = 0
    while (i < rs.length) { add(rs(i)); i += 1 }
  }

  private def drain(): Unit = {
    Cosine.scores(vecs, norms, dim, rows, n, q, qNorm, out)
    var i = 0
    while (i < n) {
      val r = rows(i)
      if (admit(out(i), ids(r))) top.offer(out(i), ids(r), r)
      i += 1
    }
    n = 0
  }

  /** Score the rows still buffered and hand back `top`. */
  def result(): TopK = { drain(); top }
}

private[graft] object CosineBatch {
  val admitAll: (Double, Long) => Boolean = (_, _) => true
}
