package graft.serve

import scala.collection.mutable.ArrayBuffer

/** The one top-k kernel of the memory tiers: a binary heap over parallel
  * primitive arrays of (score key, id, row payload), plus the k-way merge
  * every fan-out uses. Every tier's answer is "the k best under
  * (score DESC, id ASC)" — the Spark path's `orderBy(score.desc, id)` —
  * so that rule lives here once instead of in a hand-rolled heap and a
  * re-sort per tier.
  *
  * ONE total order: scores compare by `java.lang.Double.compare` (NaN
  * greatest, -0.0 below +0.0 — NaN therefore ranks FIRST, as in Spark's
  * descending sort), then ids ascending. Scores are held as
  * order-preserving long keys: a double maps through its total-order bit
  * key (the comparison behind `Double.compare`), a long score (the
  * integer sparse tier, Hamming distances) is its own key, so one heap
  * serves both. The smallest-first form (ADC and Hamming distances)
  * complements the key, which reverses the score order and keeps the id
  * tie-break.
  *
  * Sizing: a selector keeps at most `k` entries but starts at
  * min(k, candidates) slots and doubles on demand, so a request's
  * `limit` never allocates by itself — `{"limit": 2000000000}` costs
  * what the corpus costs, not 2·10⁹ slots.
  *
  * Not thread-safe: one instance per request.
  */
private[graft] final class TopK private (limit: Int, initCap: Int,
                                         keyFlip: Long, idFlip: Long) {

  // heap of stored (key ^ keyFlip, id ^ idFlip, row); the root is the
  // entry that sorts LAST — the current loser of a selector, the best
  // entry of a queue (whose flips reverse both fields)
  private var keys = new Array[Long](initCap)
  private var ids = new Array[Long](initCap)
  private var rows = new Array[Int](initCap)
  private var n = 0

  def size: Int = n
  def isEmpty: Boolean = n == 0
  def isFull: Boolean = n >= limit
  def clear(): Unit = n = 0

  // stored entry a sorts after (loses to) stored entry b
  @inline private def loses(ka: Long, ia: Long, kb: Long, ib: Long): Boolean =
    ka < kb || (ka == kb && ia > ib)

  /** Offer a double score (cosine, ADC distance, BM25). */
  def offer(score: Double, id: Long, row: Int = 0): Unit =
    offerKey(TopK.key(score), id, row)

  /** Offer an integral score (sparse dot product, Hamming distance). */
  def offerLong(score: Long, id: Long, row: Int = 0): Unit =
    offerKey(score, id, row)

  private def offerKey(key: Long, id: Long, row: Int): Unit = {
    val k = key ^ keyFlip
    val i = id ^ idFlip
    if (n < limit) push(k, i, row)
    else if (n > 0 && loses(keys(0), ids(0), k, i)) {
      keys(0) = k; ids(0) = i; rows(0) = row
      siftDown(0, n)
    }
  }

  /** Whether [[offer]] of this entry would be kept (room left, or it beats
    * the root).
    */
  def admits(score: Double, id: Long): Boolean =
    n < limit || loses(keys(0), ids(0), TopK.key(score) ^ keyFlip, id ^ idFlip)

  def rootScore: Double = TopK.score(keys(0) ^ keyFlip)
  def rootLongScore: Long = keys(0) ^ keyFlip
  def rootId: Long = ids(0) ^ idFlip
  def rootRow: Int = rows(0)

  /** Remove the root. */
  def poll(): Unit = {
    n -= 1
    if (n > 0) {
      keys(0) = keys(n); ids(0) = ids(n); rows(0) = rows(n)
      siftDown(0, n)
    }
  }

  private def push(k: Long, i: Long, row: Int): Unit = {
    if (n == keys.length) {
      val cap = math.min(limit.toLong, math.max(8L, 2L * n)).toInt
      keys = java.util.Arrays.copyOf(keys, cap)
      ids = java.util.Arrays.copyOf(ids, cap)
      rows = java.util.Arrays.copyOf(rows, cap)
    }
    var c = n
    n += 1
    while (c > 0 && {
      val p = (c - 1) >> 1
      loses(k, i, keys(p), ids(p))
    }) {
      val p = (c - 1) >> 1
      keys(c) = keys(p); ids(c) = ids(p); rows(c) = rows(p)
      c = p
    }
    keys(c) = k; ids(c) = i; rows(c) = row
  }

  // restore the heap below `from` within [0, end)
  private def siftDown(from: Int, end: Int): Unit = {
    val k = keys(from); val i = ids(from); val row = rows(from)
    var c = from
    var done = false
    while (!done) {
      val l = 2 * c + 1
      if (l >= end) done = true
      else {
        val m = if (l + 1 < end && loses(keys(l + 1), ids(l + 1), keys(l), ids(l))) l + 1 else l
        if (loses(keys(m), ids(m), k, i)) {
          keys(c) = keys(m); ids(c) = ids(m); rows(c) = rows(m)
          c = m
        } else done = true
      }
    }
    keys(c) = k; ids(c) = i; rows(c) = row
  }

  /** Heap-sort in place so that position 0 holds the best entry, under
    * the same comparator the heap used, and empty the heap; returns the
    * entry count. Read the entries with [[scoreAt]]/[[longScoreAt]]/
    * [[idAt]]/[[rowAt]] before the next offer.
    */
  def sortBestFirst(): Int = {
    val total = n
    var end = n - 1
    while (end > 0) {
      val k = keys(0); val i = ids(0); val row = rows(0)
      keys(0) = keys(end); ids(0) = ids(end); rows(0) = rows(end)
      siftDown(0, end)
      keys(end) = k; ids(end) = i; rows(end) = row
      end -= 1
    }
    n = 0
    total
  }

  def scoreAt(pos: Int): Double = TopK.score(keys(pos) ^ keyFlip)
  def longScoreAt(pos: Int): Long = keys(pos) ^ keyFlip
  def idAt(pos: Int): Long = ids(pos) ^ idFlip
  def rowAt(pos: Int): Int = rows(pos)

  /** The kept entries best-first as (id, score), emptying the heap. */
  def toSeq: Seq[(Long, Double)] = {
    val m = sortBestFirst()
    Vector.tabulate(m)(p => (idAt(p), scoreAt(p)))
  }

  /** [[toSeq]] for integral scores. */
  def toLongSeq: Seq[(Long, Long)] = {
    val m = sortBestFirst()
    Vector.tabulate(m)(p => (idAt(p), longScoreAt(p)))
  }

  /** The kept row payloads best-first, emptying the heap. */
  def rowsBestFirst(): Array[Int] = {
    val m = sortBestFirst()
    java.util.Arrays.copyOf(rows, m)
  }
}

private[graft] object TopK {

  /** Keep the `k` best under (score DESC, id ASC); `candidates` bounds
    * how many entries can arrive (it only sizes the first allocation).
    */
  def largest(k: Int, candidates: Int): TopK =
    new TopK(math.max(k, 0), initial(k, candidates), 0L, 0L)

  /** Keep the `k` best under (score ASC, id ASC) — distances. */
  def smallest(k: Int, candidates: Int): TopK =
    new TopK(math.max(k, 0), initial(k, candidates), -1L, 0L)

  /** An unbounded priority queue whose root is the BEST entry under
    * (score DESC, id ASC) — the graph walk's candidate frontier and the
    * merge's list heads.
    */
  def queue(candidates: Int): TopK =
    new TopK(Int.MaxValue, initial(Int.MaxValue, candidates), -1L, -1L)

  private def initial(k: Int, candidates: Int): Int =
    math.max(1, math.min(k, candidates))

  /** The total-order key of a double: signed-long order of keys equals
    * `java.lang.Double.compare` order of scores.
    */
  @inline def key(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & Long.MaxValue)
  }

  /** Inverse of [[key]] (NaN comes back as the canonical NaN). */
  @inline def score(key: Long): Double =
    java.lang.Double.longBitsToDouble(key ^ ((key >> 63) & Long.MaxValue))

  /** `a * b` (or `a + b` via [[satAdd]]) clamped to Int.MaxValue — the
    * prune-and-rerank pool size and the delta tier's base over-fetch,
    * which would wrap negative for limits near Int.MaxValue.
    */
  def satMul(a: Int, b: Int): Int =
    math.min(a.toLong * b, Int.MaxValue.toLong).toInt

  def satAdd(a: Int, b: Int): Int =
    math.min(a.toLong + b, Int.MaxValue.toLong).toInt

  /** The `k` best entries of a score accumulator (the TAAT scans). */
  def best(acc: java.util.Map[Long, Double], k: Int): Seq[(Long, Double)] = {
    val top = largest(k, acc.size)
    acc.forEach((id, s) => top.offer(s, id))
    top.toSeq
  }

  def bestLong(acc: java.util.Map[Long, Long], k: Int): Seq[(Long, Long)] = {
    val top = largest(k, acc.size)
    acc.forEach((id, s) => top.offerLong(s, id))
    top.toLongSeq
  }

  /** k-way merge of best-first lists into the global best-first top `k`
    * — every fan-out (shards, fleet, DNF branches) ends here. Each list
    * must already be best-first under (score DESC, id ASC), which every
    * [[TopK]] output is. `distinct` drops repeats of an id (the DNF
    * branch union, where one row can pass several branches with the same
    * score bits: equal entries surface adjacently).
    */
  def merge(lists: Seq[Seq[(Long, Double)]], k: Int,
            distinct: Boolean = false): Seq[(Long, Double)] =
    mergeKeys(lists.map(_.iterator.map { case (id, s) => (id, key(s)) }),
      k, distinct).map { case (id, kk) => (id, score(kk)) }

  /** [[merge]] for integral scores. */
  def mergeLong(lists: Seq[Seq[(Long, Long)]], k: Int): Seq[(Long, Long)] =
    mergeKeys(lists.map(_.iterator), k, distinct = false)

  private def mergeKeys(lists: Seq[Iterator[(Long, Long)]], k: Int,
                        distinct: Boolean): Seq[(Long, Long)] = {
    val its = lists.toArray
    val heads = queue(its.length)
    def advance(li: Int): Unit =
      if (its(li).hasNext) {
        val (id, kk) = its(li).next()
        heads.offerLong(kk, id, li)
      }
    its.indices.foreach(advance)
    val out = ArrayBuffer.empty[(Long, Long)]
    while (out.length < k && !heads.isEmpty) {
      val id = heads.rootId
      val kk = heads.rootLongScore
      val li = heads.rootRow
      heads.poll()
      if (!distinct || out.isEmpty || out.last._1 != id) out += ((id, kk))
      advance(li)
    }
    out.toSeq
  }
}
