package graft.serve

import scala.collection.mutable.ArrayBuffer

/** HNSW (Hierarchical Navigable Small World) graph index — the
  * logarithmic-hop serving structure the flat tiers
  * ([[MemoryAnnIndex]]'s exact/IVF scans) trade against: instead of
  * scanning cells, a query greedily descends a layered proximity graph,
  * touching O(M·ef·log n) vectors (Malkov & Yashunin, TPAMI 2018 —
  * public algorithm, re-implemented from the paper's Algorithms 1-5).
  * This is what the flat scan's QPS ceiling buys into at the 10 M-doc
  * end of [[MemoryAnnIndex]]'s scale note, where even 140k QPS IVF
  * probes touch ~n/cells rows per request.
  *
  * DETERMINISM (the repo's serving-tier rule — same artifacts, same
  * answers): the stochastic level draw is derived from the DOC ID via a
  * splitmix64 hash (not a shared RNG), inserts proceed in ascending id
  * order, and every tie (equal similarity) breaks to the lower id — so
  * two builds over the same rows produce the SAME graph, bit-for-bit
  * (HnswSpec pins the adjacency). Scores returned are the exact cosine
  * with the engine's pinned fold; HNSW approximates the candidate SET
  * only. No DuckDB oracle applies (a graph walk is not SQL); the
  * contract is the measured recall curve (RECALL.md) plus the spec's
  * brute-force comparison, the same verification class as the embedder.
  *
  * Scale posture: the graph is built ONCE (Spark owns the batch build of
  * the vectors; the graph assembles at load — O(n·efC·M) distance
  * evaluations, a few seconds per million rows per core) and serves
  * immutably; deployments shard rows across replicas and merge
  * k-bounded lists, as with the flat tiers. Memory adds ~M0·4 B of
  * adjacency per node on top of the vectors.
  *
  * Thread-safety: immutable after construction.
  */
final class MemoryHnswIndex private (
    val dim: Int,
    ids: Array[Long], // ascending (insertion order)
    vecs: Array[Float], // dim-strided
    entryPoint: Int,
    topLevel: Int,
    links: Array[Array[Array[Int]]]) { // links(node)(level) = neighbor rows

  def size: Int = ids.length

  // per-row norms hoisted to load ([[Cosine]]): a graph walk evaluates
  // sim against ef·M candidates per insert/query, so the hot sim() costs
  // one dot product with BIT-IDENTICAL results (HnswSpec pins the
  // adjacency)
  private val norms: Array[Double] = Cosine.norms(vecs, ids.length, dim)

  // persistence surface (MemoryHnswIndex.save reads the graph out)
  private[serve] def idAt(row: Int): Long = ids(row)
  private[serve] def vecAt(row: Int): Seq[Float] =
    (0 until dim).map(j => vecs(row * dim + j))
  private[serve] def linksAt(row: Int): Array[Array[Int]] = links(row)
  private[serve] def entryRow: Int = entryPoint
  private[serve] def topLevelValue: Int = topLevel

  /** Adjacency of a node at a level, as doc ids (spec/debug surface). */
  def neighborsOf(id: Long, level: Int): Seq[Long] = {
    val r = java.util.Arrays.binarySearch(ids, id)
    require(r >= 0, s"unknown id $id")
    if (level >= links(r).length) Nil else links(r)(level).map(ids(_)).toSeq
  }

  def maxLevelOf(id: Long): Int = {
    val r = java.util.Arrays.binarySearch(ids, id)
    require(r >= 0, s"unknown id $id")
    links(r).length - 1
  }

  private def sim(q: Array[Double], qNorm: Double, r: Int): Double =
    Cosine.score(vecs, r * dim, norms(r), q, qNorm, dim)

  // a neighbour list's sims, four rows per pass
  private def sims(q: Array[Double], qNorm: Double)(
      rows: Array[Int], n: Int, out: Array[Double]): Unit =
    Cosine.scores(vecs, norms, dim, rows, n, q, qNorm, out)

  /** Beam search one layer (Algorithm 2), optionally filter-aware: the
    * walk TRAVERSES every neighborhood (a failing node still routes —
    * blocking it would sever paths and crater recall under selective
    * filters, the hnswlib filtering rule), but only rows passing
    * `accept` enter the RESULT beam; the beam width counts accepted
    * rows, so `ef` survivors come back even under a selective filter.
    * Expansion still stops by comparing the best unexpanded candidate
    * against the worst ACCEPTED result once the beam is full.
    * Returns rows with sims, best-first ((sim DESC, id ASC)).
    */
  private def searchLayer(q: Array[Double], qNorm: Double, eps: Seq[(Int, Double)],
                          ef: Int, level: Int,
                          visited: java.util.BitSet,
                          accept: Int => Boolean = _ => true): ArrayBuffer[(Int, Double)] =
    MemoryHnswIndex.beamSearch(eps, ef, visited,
      ids(_), r => links(r)(level), sims(q, qNorm), accept)

  /** Filtered approximate top-k: the walk routes through EVERY node
    * (filtering the traversal would sever paths), but only ids passing
    * `pred` enter the result beam, which counts `ef` SURVIVORS — so a
    * selective filter still returns k passing rows (the hnswlib
    * filtering rule; under very selective filters the walk degrades
    * toward a guided scan, which is when [[MemoryAnnIndex
    * .topKFilteredIndexed]]'s payload index is the better tier).
    */
  def topKWhere(query: Seq[Float], k: Int, pred: Long => Boolean,
                ef: Int = 0): Seq[(Long, Double)] =
    topKImpl(query, k, ef, r => pred(ids(r)))

  /** Approximate top-k: greedy descent through the upper layers, then an
    * `ef`-beam at layer 0, exact-cosine scores throughout (the candidate
    * set is the approximation; the scores and the final (score DESC,
    * id ASC) order are exact for the rows returned). `ef` defaults to
    * 4·k — raise it to buy recall (RECALL.md measures the curve).
    */
  def topK(query: Seq[Float], k: Int, ef: Int = 0): Seq[(Long, Double)] =
    topKImpl(query, k, ef, _ => true)

  private def topKImpl(query: Seq[Float], k: Int, ef: Int,
                       accept: Int => Boolean): Seq[(Long, Double)] = {
    require(query.length == dim, s"query dim ${query.length} != index dim $dim")
    val q = Cosine.query(query)
    val qNorm = Cosine.queryNorm(q, dim)
    val beam = if (ef > 0) math.max(ef, k) else math.max(TopK.satMul(4, k), k)
    var ep = (entryPoint, sim(q, qNorm, entryPoint))
    var level = topLevel
    while (level > 0) {
      val lv = level
      ep = MemoryHnswIndex.descend(ep, r => links(r)(lv), ids(_), sims(q, qNorm))
      level -= 1
    }
    val visited = new java.util.BitSet(ids.length)
    searchLayer(q, qNorm, Seq(ep), beam, 0, visited, accept)
      .take(k).map { case (r, s) => (ids(r), s) }.toSeq
  }
}

object MemoryHnswIndex {

  /** The one beam search (Algorithm 2) BOTH the serve path and the
    * build share — the graph-determinism property HnswSpec pins depends
    * on build and serve never diverging in tie handling or termination,
    * so there is exactly one copy of those rules. The graph is
    * abstracted as accessors (`neighborsOf` already fixed to a level);
    * each call site is monomorphic, so the JIT devirtualizes the hot
    * loop. Optionally filter-aware: the walk TRAVERSES every
    * neighborhood (a failing node still routes), but only rows passing
    * `accept` enter the RESULT beam, which counts accepted survivors.
    * Both frontiers are primitive [[TopK]] heaps (a graph build visits
    * millions of nodes, so a boxed tuple per visit would dominate it):
    * the candidates a best-first queue, the results an `ef`-bounded
    * selector, under the one (sim DESC, id ASC) total order.
    */
  private[serve] def beamSearch(
      eps: Seq[(Int, Double)], ef: Int,
      visited: java.util.BitSet,
      idOf: Int => Long,
      neighborsOf: Int => scala.collection.IndexedSeq[Int],
      simsOf: (Array[Int], Int, Array[Double]) => Unit,
      accept: Int => Boolean): ArrayBuffer[(Int, Double)] = {
    val cand = TopK.queue(math.min(ef, visited.size))
    val res = TopK.largest(ef, visited.size)
    var fresh = new Array[Int](16)
    var sims = new Array[Double](16)
    eps.foreach { case (r, s) =>
      if (!visited.get(r)) {
        visited.set(r)
        cand.offer(s, idOf(r), r)
        if (accept(r)) res.offer(s, idOf(r), r)
      }
    }
    while (!cand.isEmpty) {
      val cSim = cand.rootScore; val cRow = cand.rootRow
      cand.poll()
      if (res.isFull && java.lang.Double.compare(cSim, res.rootScore) < 0) {
        cand.clear() // best candidate can no longer improve the beam
      } else {
        // the unvisited neighbours, marked and then scored as one
        // batch; their offers keep list order, so every decision is the
        // one-at-a-time walk's (a sim does not depend on the heaps)
        val ns = neighborsOf(cRow)
        if (ns.length > fresh.length) {
          fresh = new Array[Int](ns.length); sims = new Array[Double](ns.length)
        }
        var nf = 0
        var i = 0
        while (i < ns.length) {
          val n = ns(i)
          if (!visited.get(n)) { visited.set(n); fresh(nf) = n; nf += 1 }
          i += 1
        }
        simsOf(fresh, nf, sims)
        i = 0
        while (i < nf) {
          val n = fresh(i)
          val s = sims(i)
          val id = idOf(n)
          if (res.admits(s, id)) {
            cand.offer(s, id, n)
            if (accept(n)) res.offer(s, id, n)
          }
          i += 1
        }
      }
    }
    val m = res.sortBestFirst()
    val out = new ArrayBuffer[(Int, Double)](m)
    var p = 0
    while (p < m) { out += ((res.rowAt(p), res.scoreAt(p))); p += 1 }
    out
  }

  /** Greedy ef=1 descent through one upper layer (Algorithm 5's walk):
    * move to the best neighbour under (sim DESC, id ASC) until none
    * improves on the current node. Each neighbour list is scored as one
    * batch, then compared in list order — the one-at-a-time walk's
    * decisions. Shared by the serve path and the build.
    */
  private[serve] def descend(
      ep0: (Int, Double),
      neighborsOf: Int => scala.collection.IndexedSeq[Int],
      idOf: Int => Long,
      simsOf: (Array[Int], Int, Array[Double]) => Unit): (Int, Double) = {
    var ep = ep0
    var improved = true
    while (improved) {
      improved = false
      val ns = neighborsOf(ep._1).toArray
      val sims = new Array[Double](ns.length)
      simsOf(ns, ns.length, sims)
      var i = 0
      while (i < ns.length) {
        val cc = java.lang.Double.compare(sims(i), ep._2)
        if (cc > 0 || (cc == 0 && idOf(ns(i)) < idOf(ep._1))) {
          ep = (ns(i), sims(i)); improved = true
        }
        i += 1
      }
    }
    ep
  }

  /** Persist the graph as a self-describing artifact: one parquet of
    * (vec_id, embedding, links = array&lt;array&lt;bigint&gt;&gt; — neighbor IDS
    * per level, level index = array position) plus a `_hnsw_meta.json`
    * sidecar (dim, entry id, top level) written LAST — the same
    * write-order contract as [[graft.plans.AnnIndexMeta]], so a loader
    * that sees the sidecar sees a complete graph. Spark owns the build
    * (minutes for millions of rows); serving nodes [[load]] in one
    * sequential scan instead of rebuilding O(n·efC·M) distances.
    */
  def save(idx: MemoryHnswIndex, spark: org.apache.spark.sql.SparkSession,
           dir: String): Unit = {
    import spark.implicits._
    val n = idx.size
    val rows = (0 until n).map { r =>
      val id = idx.idAt(r)
      val vec = idx.vecAt(r)
      val ls = idx.linksAt(r).map(_.map(idx.idAt).toSeq).toSeq
      (id, vec, ls)
    }
    rows.toDF("vec_id", "embedding", "links")
      .repartition(1).write.mode("overwrite").parquet(dir)
    val meta =
      s"""{"dim":${idx.dim},"entry_id":${idx.idAt(idx.entryRow)},"top_level":${idx.topLevelValue},"n":$n}"""
    val p = new org.apache.hadoop.fs.Path(dir, "_hnsw_meta.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    out.write(meta.getBytes("UTF-8")); out.close()
  }

  /** Load a [[save]]d graph — bit-identical answers to the index that
    * wrote it (HnswSpec pins the round-trip).
    */
  def load(spark: org.apache.spark.sql.SparkSession,
           dir: String): MemoryHnswIndex = {
    val p = new org.apache.hadoop.fs.Path(dir, "_hnsw_meta.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"no _hnsw_meta.json sidecar at $dir — incomplete graph artifact")
    val in = fs.open(p)
    val bos = new java.io.ByteArrayOutputStream()
    try {
      val buf = new Array[Byte](8192)
      var nRead = in.read(buf)
      while (nRead >= 0) { bos.write(buf, 0, nRead); nRead = in.read(buf) }
    } finally in.close()
    val metaStr = new String(bos.toByteArray, "UTF-8")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(metaStr)
    val dim = node.get("dim").asInt()
    val entryId = node.get("entry_id").asLong()
    val topLevel = node.get("top_level").asInt()
    val collected = spark.read.parquet(dir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.col("links"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1),
        r.getSeq[scala.collection.Seq[Long]](2).map(_.toSeq)))
      .sortBy(_._1)
    val n = collected.length
    val ids = collected.map(_._1)
    val vecs = new Array[Float](n * dim)
    var r = 0
    while (r < n) {
      val v = collected(r)._2
      require(v.length == dim, s"dim drift at id ${ids(r)}")
      var j = 0
      while (j < dim) { vecs(r * dim + j) = v(j); j += 1 }
      r += 1
    }
    val rowOf = ids.zipWithIndex.toMap
    val links = collected.map(_._3.map(_.map(rowOf).toArray).toArray)
    val entryRow = rowOf(entryId)
    new MemoryHnswIndex(dim, ids, vecs, entryRow, topLevel, links)
  }

  /** splitmix64 — the deterministic per-id level source. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Geometric level draw from the id hash: floor(−ln(u)·mL) with
    * u ∈ (0,1] — the paper's distribution, reproducible from the id.
    */
  private def levelOf(id: Long, mL: Double): Int = {
    val u = ((mix64(id) >>> 11) + 1).toDouble / (1L << 53).toDouble
    math.floor(-math.log(u) * mL).toInt
  }

  /** Build from (id, vector) rows. `m` = target degree (layer-0 degree
    * cap is 2m, the paper's M0), `efConstruction` = build beam width.
    */
  def build(rows: Seq[(Long, Seq[Float])], m: Int = 16,
            efConstruction: Int = 100): MemoryHnswIndex = {
    require(rows.nonEmpty, "MemoryHnswIndex: empty corpus")
    require(m >= 2 && efConstruction >= m)
    val sorted = rows.sortBy(_._1).toArray
    val n = sorted.length
    val dim = sorted.head._2.length
    require(sorted.forall(_._2.length == dim), "ragged dims")
    val ids = sorted.map(_._1)
    require(ids.distinct.length == n, "duplicate ids")
    val vecs = new Array[Float](n * dim)
    var r = 0
    while (r < n) {
      val v = sorted(r)._2
      var j = 0
      while (j < dim) { vecs(r * dim + j) = v(j); j += 1 }
      r += 1
    }
    val mL = 1.0 / math.log(m.toDouble)
    val levels = Array.tabulate(n)(i => levelOf(ids(i), mL))

    // per-row norms hoisted out of the O(n·efC·M) distance loop — the
    // same bit-identical factoring as the serving-side `norms` field
    val norms = Cosine.norms(vecs, n, dim)
    def sim(q: Array[Double], qNorm: Double, row: Int): Double =
      Cosine.score(vecs, row * dim, norms(row), q, qNorm, dim)
    def sims(q: Array[Double], qNorm: Double)(
        rows: Array[Int], nr: Int, out: Array[Double]): Unit =
      Cosine.scores(vecs, norms, dim, rows, nr, q, qNorm, out)
    def widened(row: Int): Array[Double] =
      Array.tabulate(dim)(j => vecs(row * dim + j).toDouble)
    def simRows(a: Int, b: Int): Double = {
      var dot = 0.0
      var j = 0
      val ba = a * dim; val bb = b * dim
      while (j < dim) { dot += vecs(ba + j).toDouble * vecs(bb + j).toDouble; j += 1 }
      dot / (norms(a) * norms(b))
    }

    // adjacency under construction
    val links = Array.tabulate(n)(i =>
      Array.fill(levels(i) + 1)(ArrayBuffer.empty[Int]))

    /** Neighbor-selection heuristic (Algorithm 4, keepPrunedConnections
      * form): take candidates best-first, keep c only if c is more
      * similar to the target than to every already-kept neighbor —
      * prunes redundant near-parallel edges, which is what keeps the
      * graph navigable — then BACKFILL the closest pruned candidates up
      * to the cap. The backfill matters on degenerate corpora (exact
      * duplicate vectors: sim(c, duplicate) == sim(c, target), so the
      * strict `<` would reject every later candidate and starve the
      * node's adjacency — measured as a 4-of-5 result on the serve
      * bench's 5×-replicated corpus before the fix).
      */
    def selectHeuristic(target: Int, cands: Seq[(Int, Double)],
                        cap: Int): Seq[Int] = {
      // primitive-array form of "sort best-first, keep c iff c is closer
      // to the target than to every kept neighbor, then backfill" — the
      // tuple sortBy + closure forall here were ~half of every graph
      // build's samples (r17 profile); decisions and order are unchanged
      // ((sim DESC, id ASC) sort, strict < against every kept, FIFO
      // backfill of pruned)
      val arr = cands.toArray
      java.util.Arrays.sort(arr, (x: (Int, Double), y: (Int, Double)) => {
        val c = java.lang.Double.compare(y._2, x._2)
        if (c != 0) c else java.lang.Long.compare(ids(x._1), ids(y._1))
      })
      val kept = new Array[Int](math.min(cap, arr.length))
      var nKept = 0
      val pruned = new Array[Int](arr.length)
      var nPruned = 0
      var i = 0
      while (i < arr.length) {
        val c = arr(i)._1
        val sToTarget = arr(i)._2
        if (c != target) {
          var ok = nKept < cap
          var j = 0
          while (ok && j < nKept) {
            if (!(simRows(c, kept(j)) < sToTarget)) ok = false
            j += 1
          }
          if (ok) { kept(nKept) = c; nKept += 1 }
          else { pruned(nPruned) = c; nPruned += 1 }
        }
        i += 1
      }
      var p = 0
      while (nKept < kept.length && p < nPruned) {
        kept(nKept) = pruned(p); nKept += 1; p += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        if (nKept == kept.length) kept else kept.take(nKept))
    }

    def searchLayer(q: Array[Double], qNorm: Double, eps: Seq[(Int, Double)],
                    ef: Int, level: Int): ArrayBuffer[(Int, Double)] =
      beamSearch(eps, ef, new java.util.BitSet(n),
        ids(_), r => links(r)(level), sims(q, qNorm), _ => true)

    var entry = 0
    var top = levels(0)
    var i = 1
    while (i < n) {
      val q = widened(i)
      val qNorm = norms(i) // the insert vector's own precomputed norm
      val l = levels(i)
      var ep = (entry, sim(q, qNorm, entry))
      var lc = top
      // greedy descent above the insert level
      while (lc > l) {
        val lv = lc
        ep = descend(ep, r => links(r)(lv), ids(_), sims(q, qNorm))
        lc -= 1
      }
      // beam-connect from min(l, top) down to 0
      var eps = Seq(ep)
      lc = math.min(l, top)
      while (lc >= 0) {
        val w = searchLayer(q, qNorm, eps, efConstruction, lc)
        val cap = if (lc == 0) 2 * m else m
        val chosen = selectHeuristic(i, w.toSeq, m)
        chosen.foreach { c =>
          links(i)(lc) += c
          links(c)(lc) += i
          if (links(c)(lc).length > cap) {
            // re-select c's neighborhood under the same heuristic; the
            // list scores as one batch against c's own widened row (the
            // products and the norm product commute, so each sim is
            // simRows(c, x) bit for bit)
            val xs = links(c)(lc).distinct.toArray
            val sx = new Array[Double](xs.length)
            sims(widened(c), norms(c))(xs, xs.length, sx)
            val all = xs.toSeq.zip(sx)
            val kept = selectHeuristic(c, all, cap)
            links(c)(lc).clear()
            links(c)(lc) ++= kept
          }
        }
        eps = w.toSeq
        lc -= 1
      }
      if (l > top) { top = l; entry = i }
      i += 1
    }
    new MemoryHnswIndex(dim, ids, vecs, entry, top,
      links.map(_.map(_.toArray)))
  }
}
