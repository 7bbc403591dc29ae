package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.api.{FallbackGate, GraftSession, SemanticSearch}
import graft.bench.ServeBench.{pct, replicate}
import graft.embed.HashingTfEmbedder
import graft.operators.{Bm25, Sparse}
import graft.serve.{FleetClient, FleetTier, MemoryAnnIndex, MemoryPostingsIndex, MemoryServer, MemorySparseIndex, Sharded}

/** The sharded serving fleet measured as REAL separate processes — and,
  * since round 15, COMPOSED end to end: the r14 verdict's #1 was that
  * routing/admission and the multi-process fleet were each measured but
  * never joined. This bench stands up N [[FleetShardServer]] JVMs (plain
  * processes, no Spark inside), and measures:
  *
  *  - the raw fan-out rows (fleet_dense / fleet_lex / fleet_sparse /
  *    fleet_hybrid): persistent TCP, k-merge client-side — END-TO-END
  *    latency including serialization, the socket hop, and the
  *    max-over-shards tail;
  *  - **fleet_routed**: the REAL JSON front door
  *    ([[SemanticSearch.searchRouted]]) with a [[FleetTier]] behind it —
  *    one measured path of parse → coverage route → shard-process RPC
  *    fan-out → merge → stringify, bit-identical (REQUIRED at warm-up)
  *    to the same door over an in-process memory tier;
  *  - **fleet_mixed_shed**: the 90/10 covered/uncovered mix through the
  *    same door, uncovered collects through the [[FallbackGate]] with
  *    the shed lever (refuse on deep queue) — the flagship deployment
  *    path's admission story composed onto the fleet, shed counts in
  *    the row;
  *  - **fleet_dense_degraded**: one shard process KILLED mid-level; the
  *    client's pinned failure semantics (mark-dead + exact partial
  *    results over live shards — [[FleetClient]]) must absorb it with
  *    zero failed requests;
  *  - **fleet republish**: the staggered per-shard reload of amended
  *    index files under background load — per-shard cutover instants,
  *    the fleet-wide staleness window, serving continuity, and the
  *    purged doc UNSERVABLE from every shard after — spliced into
  *    REPUBLISH.json next to the single-process cutover rows.
  *
  * Bit-identity is enforced, not assumed: during warm-up every request
  * shape's fleet result is compared (score BITS) against the in-process
  * [[Sharded]] fan-out over the same rows, and the routed door's
  * full JSON response against the in-process routed door's.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.FleetBench
  * Env: SPARK_GRAFT_SERVE_REPL (default 50 — the 10x battery corpus),
  * SPARK_GRAFT_FLEET_SHARDS (default 4, matching the per-shard rows),
  * SPARK_GRAFT_SERVE_LEVELS (default "1,32"),
  * SPARK_GRAFT_SERVE_REQS (per-thread request multiplier base, default 16),
  * SPARK_GRAFT_FLEET_OUT (default SERVE_BENCH_10X.json splice target),
  * SPARK_GRAFT_FLEET_PIN (unset by default; "1" = core-pin each shard JVM
  * to a disjoint 6-core set via taskset and the client JVM to the
  * remaining 8 — the measured isolation anchor for the dedicated-host
  * projection; rows get a "_pinned" suffix and the composed/republish/
  * kill phases are skipped, since the 8-core client pin would distort
  * their Spark fallback jobs).
  */
object FleetBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repl = sys.env.getOrElse("SPARK_GRAFT_SERVE_REPL", "50").toInt
    val nShards = sys.env.getOrElse("SPARK_GRAFT_FLEET_SHARDS", "4").toInt
    val perThread = sys.env.getOrElse("SPARK_GRAFT_SERVE_REQS", "16").toInt
    val levels = sys.env.getOrElse("SPARK_GRAFT_SERVE_LEVELS", "1,32")
      .split(",").map(_.trim.toInt).toSeq
    val spliceFile = sys.env.getOrElse("SPARK_GRAFT_FLEET_OUT",
      "SERVE_BENCH_10X.json")
    val pinned = sys.env.get("SPARK_GRAFT_FLEET_PIN").exists(_.nonEmpty)
    // the client's per-socket read timeout. 15 s default: generous enough
    // that a JIT-COLD shard JVM's first full-scan ops never read as a
    // death (the 10× corpus's first hybrid op can take seconds while the
    // C2 compiler warms — a 2 s timeout here once marked a healthy shard
    // dead DURING the bit-identity warm-up and failed the run on a
    // partial merge), small enough that a truly hung shard still costs
    // one bounded wait. The kill row doesn't depend on it: a SIGKILLed
    // process resets its sockets immediately.
    val timeoutMs = sys.env.getOrElse("SPARK_GRAFT_FLEET_TIMEOUT_MS", "15000").toInt
    // the FAIR pools the composed door's admission runs under (one pool
    // per client stream + the FallbackGate's dedicated pool) — the same
    // declared-allocation setup as ServeBench
    val poolsXml = java.nio.file.Files.createTempFile("graft-pools", ".xml")
    java.nio.file.Files.writeString(poolsXml,
      ((0 until levels.max).map(i =>
        s"""<pool name="serve-$i"><schedulingMode>FIFO</schedulingMode><weight>1</weight><minShare>1</minShare></pool>""")
        :+ """<pool name="graft-fallback"><schedulingMode>FAIR</schedulingMode><weight>1</weight><minShare>0</minShare></pool>""")
        .mkString("<?xml version=\"1.0\"?><allocations>", "", "</allocations>"))
    val spark = GraftSession.builder()
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", poolsXml.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- corpora, exactly the ServeBench shapes (disjoint-id replicas)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus0 = emb.where(col("vec_id") =!= 0)
    val corpus = replicate(corpus0, "vec_id", repl).localCheckpoint(true)
    val docsRepl = replicate(spark.read.parquet(
      s"$sfDir/documents.parquet"), "doc_id", repl).localCheckpoint(true)

    val postings = Bm25.buildPostings(docsRepl, "doc_id", "text")
      .localCheckpoint(true)
    val lexStats = Bm25.corpusStats(docsRepl, "text", postings)
    val (avgdl, idfMap) = (lexStats.avgdl, lexStats.idf)
    val sparseVecs = Sparse.tfVectors(docsRepl, "doc_id", "text")
      .localCheckpoint(true)

    // ---- collect once; shard driver-side; write the shard files
    val workDir = java.nio.file.Files.createTempDirectory("graft-fleet").toString
    val lexRows = MemoryPostingsIndex.collectRows(postings, "doc_id")
    val sparseRows = MemorySparseIndex.collectRows(sparseVecs, "doc_id")
    val denseRows = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val dim = denseRows.head._2.length

    /** Write every shard's three index files, excluding `purged` ids —
      * the same writer serves the initial publish and the republish's
      * amended artifacts (empty purge = initial).
      */
    def writeShardFiles(purged: Set[Long]): Unit = {
      // Recompute the BM25 corpus header (avgdl, per-term idf) over the
      // SURVIVING docs when the publish amends a purge (ADVICE r15): a
      // published doc's removal shifts df/N/Σdl, and the repo's own
      // doctrine (Forget/republish family) is that removal IS a stats
      // rebuild — shipping the pre-purge header would score the amended
      // corpus as if the victim were still counted.
      val (hdrAvgdl, hdrIdf) =
        if (purged.isEmpty) (avgdl, idfMap)
        else {
          val docDl = lexRows.iterator.collect {
            case (_, (id, _, dl)) if !purged(id) => id -> dl
          }.toMap
          val n = docDl.size.toLong
          val a = docDl.valuesIterator.map(_.toDouble).sum / n
          val termDoc: Set[(String, Long)] = lexRows.iterator.collect {
            case (t, (id, _, _)) if !purged(id) => (t, id)
          }.toSet
          val df = termDoc.groupMapReduce(_._1)(_ => 1L)(_ + _)
          (a, Bm25.idfByTerm(df, n, spark))
        }
      FleetShardServer.writeShards(workDir, nShards, hdrAvgdl, hdrIdf,
        lexRows.filterNot(r => purged(r._2._1)),
        sparseRows.filterNot(r => purged(r._2._1)),
        denseRows.filterNot(r => purged(r._1)))
    }
    writeShardFiles(Set.empty)

    // ---- in-process twins for the bit-identity cross-check
    val inLex = MemoryPostingsIndex.sharded(
      postings, "doc_id", idfMap, avgdl, nShards)
    val inSparse = MemorySparseIndex.sharded(sparseVecs, "doc_id", nShards)
    val denseCents =
      graft.operators.Ann.sampleCentroids(corpus0, "vec_id", "embedding", 16)
    val inDense = MemoryAnnIndex.sharded(
      graft.operators.Ann.withIvfAssignment(corpus, "embedding", denseCents),
      "vec_id", "embedding", "ivf_cell", denseCents, nShards)
    val inHybrid = Sharded.hybrid(inDense, inLex)
    // the in-process HYBRID door the composed fleet hybrid door must match
    val inHybridDoor = new graft.api.HybridSearch(corpus, "vec_id",
      "embedding", postings, "doc_id", idfMap, avgdl,
      memory = Some(inHybrid))
    // the in-process routed door the composed fleet door must match
    // byte-for-byte: same SemanticSearch class, memory tier behind it
    val memDenseAll = MemoryAnnIndex.fromRows(
      denseRows.map { case (id, v) => (id, v, 0) }.toSeq,
      centroids = Seq(denseRows.head._2))
    val inRouted = new SemanticSearch(corpus, HashingTfEmbedder(dim),
      idCol = "vec_id", textCol = "label", embCol = "embedding",
      memory = Some(new MemoryServer(memDenseAll, None)))

    // ---- workload, the ServeBench shapes
    val qvecs = corpus0.orderBy("vec_id").limit(64)
      .select("embedding").collect().map(_.getSeq[Float](0).toSeq).toIndexedSeq
    val termSets = IndexedSeq(Seq("dup", "vector", "query"),
      Seq("dup", "stream"), Seq("vector", "join", "fast"), Seq("scan", "hash"))
    val sparseQueries: IndexedSeq[Map[String, Long]] =
      termSets.map(_.zipWithIndex.map { case (t, i) => t -> (i + 1L) }.toMap)
    def jsonReq(qv: Seq[Float], k: Int): String =
      s"""{"query_vector":[${qv.mkString(",")}],"columns":["vec_id"],"limit":$k}"""
    def hybridReq(qv: Seq[Float], terms: Seq[String], k: Int): String =
      s"""{"query_vector":[${qv.mkString(",")}],"terms":[${
        terms.map("\"" + _ + "\"").mkString(",")}],"limit":$k,"pool_k":20}"""
    def jsonReqUncovered(qv: Seq[Float], k: Int): String =
      s"""{"query_vector":[${qv.mkString(",")}],"columns":["vec_id"],"limit":$k,"filter":{"@gte":{"vec_id":0}}}"""

    // admission for the composed door's exact fallbacks — the ServeBench
    // defaults (2 permits, the declared FAIR pool) so the composed rows
    // compare 1:1 with the in-process *_shed rows
    val gate = new FallbackGate("graft-fallback", maxConcurrent = 2)
    val shedCount = new java.util.concurrent.atomic.AtomicInteger(0)

    // ---- spawn the fleet: one JVM per shard, ephemeral ports via READY.
    // Pinned mode gives each shard a disjoint 6-core set (0-5, 6-11, ...)
    // and the client JVM the remainder — the dedicated-host anchor.
    val procs = (0 until nShards).map(sh => FleetShardServer.start(workDir, sh,
      prefix = if (pinned) Seq("taskset", "-c", s"${sh * 6}-${sh * 6 + 5}") else Nil))
    val ports = try procs.map(p => FleetShardServer.awaitReady(p)
      .getOrElse(sys.error("shard server died before READY")))
    catch { case e: Throwable => procs.foreach(_.destroyForcibly()); throw e }
    // the live process per shard slot — the churn phase replaces a killed
    // shard with a fresh process on the SAME port, so every later phase
    // (the permanent-kill row, the orderly shutdown) must go through this
    // table, not the original immutable list
    val shardProcs: Array[Process] = procs.toArray

    /** Spawn a replacement process for shard `sh` bound to `port` (the
      * failover contract: the address the clients already know). Waits
      * for READY; retries the bind briefly (the dead listener's port can
      * take a moment to free).
      */
    def spawnShard(sh: Int, port: Int, attempt: Int = 1): Process = {
      val p = FleetShardServer.start(workDir, sh, port)
      if (FleetShardServer.awaitReady(p).nonEmpty) p
      else {
        p.destroyForcibly(): Unit
        require(attempt < 5, s"replacement shard $sh failed to bind $port")
        Thread.sleep(400)
        spawnShard(sh, port, attempt + 1)
      }
    }
    val suffix = if (pinned) "_pinned" else ""
    val extraRows = scala.collection.mutable.ArrayBuffer.empty[String]

    try {
      if (pinned) {
        // pin this JVM to the cores the shards don't own. Two steps:
        // `-a` (all threads) is best-effort — iterating a JVM's hundreds
        // of threads races thread exits, so a nonzero rc there is noise;
        // what MUST succeed is pinning the main thread (`-p` on the pid
        // = the main task), because every client request thread below is
        // spawned from main and inherits its mask. Spark's pre-existing
        // executor threads stay idle in pinned mode (the composed rows
        // that would run jobs are skipped).
        val self = ProcessHandle.current().pid()
        val lo = nShards * 6
        new ProcessBuilder("taskset", "-acp", s"$lo-31", self.toString)
          .redirectErrorStream(true).start().waitFor(): Unit
        val pr = new ProcessBuilder("taskset", "-cp", s"$lo-31", self.toString)
          .redirectErrorStream(true).start()
        require(pr.waitFor() == 0, "taskset on the client JVM's main thread failed")
        System.err.println(s"[fleet] pinned: shards on 0-${lo - 1} (6 cores each), client on $lo-31")
      }
      // ---- bit-identity cross-check: fleet == in-process, score BITS;
      // composed door == in-process routed door, response BYTES
      def bits(xs: Seq[(Long, Double)]): Seq[(Long, Long)] =
        xs.map { case (id, s) => (id, java.lang.Double.doubleToLongBits(s)) }
      val check = new FleetClient(ports, timeoutMs = timeoutMs)
      val checkTier = new FleetTier(check)
      val checkDoor = new SemanticSearch(corpus, HashingTfEmbedder(dim),
        idCol = "vec_id", textCol = "label", embCol = "embedding",
        memory = Some(checkTier))
      val checkHybridDoor = new graft.api.HybridSearch(corpus, "vec_id",
        "embedding", postings, "doc_id", idfMap, avgdl,
        memory = Some(checkTier))
      try {
        // JIT warm-up BEFORE the required comparisons: the first full-scan
        // ops on a cold shard JVM run interpreted (seconds at the 10×
        // corpus) — give every shard a few of each op so the identity
        // check below measures agreement, not C2 compile latency
        (0 until 3).foreach { w =>
          (0 until nShards).foreach(sh =>
            check.denseOn(sh, qvecs(w % qvecs.size), 5): Unit)
          check.lex(termSets(w % termSets.size), 5): Unit
          check.sparse(sparseQueries(w % sparseQueries.size), 5): Unit
          check.hybrid(qvecs(w % qvecs.size), termSets(w % termSets.size),
            10, poolK = 20): Unit
        }
        (0 until 8).foreach { i =>
          val terms = termSets(i % termSets.size)
          val qv = qvecs(i % qvecs.size)
          val fd = check.dense(qv, 5)
          val idn = Sharded.topK(inDense, 5)(_.topK(qv, 5))
          require(bits(fd) == bits(idn),
            s"fleet dense != in-process: $fd vs $idn")
          val fl = check.lex(terms, 5)
          val il = Sharded.topK(inLex, 5)(_.searchWand(terms, 5))
          require(bits(fl) == bits(il),
            s"fleet lex != in-process for $terms: $fl vs $il")
          val fs = check.sparse(sparseQueries(i % sparseQueries.size), 5)
          val is = Sharded.countedLong(inSparse, 5)(
            _.topKWandCounted(sparseQueries(i % sparseQueries.size), 5))._1
          require(fs == is, s"fleet sparse != in-process: $fs vs $is")
          val fh = check.hybrid(qv, terms, 10, poolK = 20)
          val ih = inHybrid.searchHybrid(qv, terms, 10, poolK = 20)
          require(bits(fh) == bits(ih),
            s"fleet hybrid != in-process: $fh vs $ih")
          // the COMPOSED path: same door class, fleet tier vs memory tier
          val req = jsonReq(qv, 5)
          val fresp = checkDoor.searchResponseJson(req)
          val iresp = inRouted.searchResponseJson(req)
          require(fresp == iresp,
            s"fleet routed door != in-process routed door: $fresp vs $iresp")
          // the composed HYBRID door: same door class, fleet hybrid tier
          // vs in-process sharded tier — row-identical (id, rrf bits)
          val hreq = hybridReq(qv, terms, 10)
          def rrfRows(df: org.apache.spark.sql.DataFrame) =
            df.collect().map(r => (r.getLong(0),
              java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq
          val fh2 = rrfRows(checkHybridDoor.search(hreq))
          val ih2 = rrfRows(inHybridDoor.search(hreq))
          require(fh2 == ih2,
            s"fleet hybrid door != in-process hybrid door: $fh2 vs $ih2")
          // the uncovered request must ROUTE THE SAME on both doors
          val (_, fCov) = checkDoor.searchRouted(jsonReqUncovered(qv, 5))
          val (_, iCov) = inRouted.searchRouted(jsonReqUncovered(qv, 5))
          require(!fCov && !iCov, "filtered request must fall back on both doors")
        }
        // a shard marked dead during warm-up would make every comparison
        // above a PARTIAL merge — the identity check must only ever pass
        // against the full fleet
        require(check.liveShards == nShards,
          s"only ${check.liveShards}/$nShards shards alive after warm-up — " +
            "a slow/dead shard invalidates the bit-identity check")
      } finally check.close()
      println(s"[fleet] bit-identity cross-check passed over ${ports.size} shard processes (raw ops + routed door)")

      // ---- the battery
      final case class Level(requests: Int, failed: Int, p50: Double,
                             p95: Double, mean: Double, qps: Double,
                             wall: Double, shed: Int)
      final case class Ctx(client: FleetClient, door: SemanticSearch,
                           hybridDoor: graft.api.HybridSearch)
      def newCtx(): Ctx = {
        val cl = new FleetClient(ports, timeoutMs = timeoutMs)
        val tier = new FleetTier(cl)
        Ctx(cl,
          new SemanticSearch(corpus, HashingTfEmbedder(dim),
            idCol = "vec_id", textCol = "label", embCol = "embedding",
            memory = Some(tier)),
          new graft.api.HybridSearch(corpus, "vec_id", "embedding",
            postings, "doc_id", idfMap, avgdl, memory = Some(tier)))
      }
      /** `n` request threads (thread t in FAIR pool `serve-t`), thread t
        * calling `request(t, i)` for i = 0, 1, … while `more(i)`; `during`
        * runs on the calling thread meanwhile. Returns `during`'s result,
        * the successful requests' sorted latencies (ms), the failure count
        * (each failure is logged, never thrown) and the wall seconds.
        */
      def storm[A](label: String, n: Int, more: Int => Boolean)(during: => A)(
          request: (Int, Int) => Unit): (A, IndexedSeq[Double], Int, Double) = {
        val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
        val failures = new java.util.concurrent.atomic.AtomicInteger(0)
        val t0 = System.nanoTime()
        val threads = (0 until n).map { t =>
          val th = new Thread(() => {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"serve-$t")
            var i = 0
            while (more(i)) {
              val s = System.nanoTime()
              try { request(t, i); lat.add((System.nanoTime() - s) / 1e6): Unit }
              catch { case e: Throwable =>
                failures.incrementAndGet()
                System.err.println(s"[fleet] $label t$t req$i FAILED: ${e.getMessage}")
              }
              i += 1
            }
          })
          th.start(); th
        }
        val out = during
        threads.foreach(_.join())
        (out, lat.asScala.toIndexedSeq.sorted, failures.get(), (System.nanoTime() - t0) / 1e9)
      }
      def runLevel(fire: (Ctx, Int) => Unit, n: Int,
                   reqsPerThread: Int): Level = {
        val shed0 = shedCount.get()
        val ctxs = (0 until n).map(_ => newCtx())
        try {
          (0 until 4).foreach(i => fire(ctxs.head, i)) // warm
          val (_, ls, failed, wall) = storm("level", n, _ < reqsPerThread)(())(
            (t, i) => fire(ctxs(t), t * 7 + i))
          // an all-failed level (a shard died mid-run) must report as a
          // failed row, not crash the bench on pct(empty)/0-division
          if (ls.isEmpty)
            Level(0, failed, 0.0, 0.0, 0.0, 0.0, wall, shedCount.get() - shed0)
          else Level(ls.size, failed, pct(ls, 0.50), pct(ls, 0.95),
            ls.sum / ls.size, ls.size / wall, wall, shedCount.get() - shed0)
        } finally ctxs.foreach(_.client.close())
      }

      val paths: Seq[(String, (Ctx, Int) => Unit, Int)] = {
        val raw: Seq[(String, (Ctx, Int) => Unit, Int)] = Seq(
          (s"fleet_dense$suffix", { (ctx: Ctx, qi: Int) =>
            val n = ctx.client.dense(qvecs(qi % qvecs.size), 10).length
            require(n == 10, s"fleet_dense returned $n rows")
          }, perThread * 64),
          (s"fleet_lex$suffix", { (ctx: Ctx, qi: Int) =>
            val n = ctx.client.lex(termSets(qi % termSets.size), 5).length
            require(n == 5, s"fleet_lex returned $n rows")
          }, perThread * 64),
          (s"fleet_sparse$suffix", { (ctx: Ctx, qi: Int) =>
            val n = ctx.client.sparse(
              sparseQueries(qi % sparseQueries.size), 5).length
            require(n == 5, s"fleet_sparse returned $n rows")
          }, perThread * 64),
          (s"fleet_hybrid$suffix", { (ctx: Ctx, qi: Int) =>
            val n = ctx.client.hybrid(qvecs(qi % qvecs.size),
              termSets(qi % termSets.size), 10, poolK = 20).length
            require(n == 10, s"fleet_hybrid returned $n rows")
          }, perThread * 64))
        val composed: Seq[(String, (Ctx, Int) => Unit, Int)] = Seq(
          // the COMPOSED flagship path: JSON parse → route → shard-process
          // fan-out → merge → stringify, one measured request
          ("fleet_routed", { (ctx: Ctx, qi: Int) =>
            val resp = ctx.door.searchResponseJson(
              jsonReq(qvecs(qi % qvecs.size), 5))
            require(resp.contains("\"results\":[{"),
              s"fleet_routed empty response: ${resp.take(60)}")
          }, perThread * 64),
          // the composed door's honest 90/10 mix WITH the shed lever:
          // covered requests fan out over the shard processes; uncovered
          // ones (filtered — the fleet tier ships no predicates) go
          // through the FallbackGate, refusing on a deep queue
          // the composed HYBRID front door: one JSON request, both legs
          // over the shard processes in one frame each, RRF fused, local
          // relation out — the flagship fused path end to end
          ("fleet_hybrid_routed", { (ctx: Ctx, qi: Int) =>
            val n = ctx.hybridDoor.search(hybridReq(qvecs(qi % qvecs.size),
              termSets(qi % termSets.size), 10)).collect().length
            require(n == 10, s"fleet_hybrid_routed returned $n rows")
          }, perThread * 64),
          ("fleet_mixed_shed", { (ctx: Ctx, qi: Int) =>
            val qv = qvecs(qi % qvecs.size)
            if (qi % 10 == 0) {
              val (df, covered) = ctx.door.searchRouted(jsonReqUncovered(qv, 5))
              require(!covered, "the filtered request must fall back")
              if (gate.queueLength >= gate.maxConcurrent)
                shedCount.incrementAndGet(): Unit // refused: no job submitted
              else {
                val n = gate.admit(spark)(df.collect()).length
                require(n == 5, s"admitted fallback returned $n rows")
              }
            } else {
              val (df, covered) = ctx.door.searchRouted(jsonReq(qv, 5))
              require(covered, "the plain request must be fleet-covered")
              val n = df.collect().length
              require(n == 5, s"covered fleet request returned $n rows")
            }
          }, perThread * 8))
        if (pinned) raw else raw ++ composed
      }

      // two temporally-separated passes, lower p50 wins (host-stall rule)
      val cells = for { (pname, fire, reqs) <- paths; n <- levels }
        yield (pname, fire, reqs, n)
      val pass1 = cells.map { case (_, f, r, n) => runLevel(f, n, r) }
      val pass2 = cells.map { case (_, f, r, n) => runLevel(f, n, r) }
      val chosenLevels: Map[(String, Int), Level] =
        cells.zip(pass1.zip(pass2)).map { case ((pname, _, _, n), (a, b)) =>
          val r = if (a.failed == b.failed) { if (a.p50 <= b.p50) a else b }
                  else if (a.failed < b.failed) a else b
          (pname, n) -> r
        }.toMap
      val results = cells.map { case (pname, _, _, n) =>
        val r = chosenLevels((pname, n))
        val extra = if (pname.endsWith("_shed")) s""","shed":${r.shed}""" else ""
        f"""{"path":"$pname","concurrency":$n,"requests":${r.requests},"failed":${r.failed},"p50_ms":${r.p50}%.1f,"p95_ms":${r.p95}%.1f,"mean_ms":${r.mean}%.1f,"qps":${r.qps}%.1f,"wall_s":${r.wall}%.2f$extra}"""
      }

      // ---- the POOLED composed door (r15 verdict items 2+6): the SAME
      // routed workload as fleet_routed's top level, but through ONE
      // shared SemanticSearch over a FleetTier (FleetDoor checkout
      // per request) with the FleetCoordinator's health loop attached —
      // the deployment shape a real server loop uses. The row pins that
      // promoting the control plane out of the bench costs no QPS: the
      // pooled cell must reach >=70% of the per-thread-client cell
      // (checkout contention is the only added work; the floor is loose
      // because two separated runs on this host can swing that much).
      if (!pinned) {
        val n = levels.max
        val reqs = perThread * 64
        val door = new graft.serve.FleetDoor(ports, poolSize = n,
          timeoutMs = timeoutMs)
        val coord = new graft.serve.FleetCoordinator(ports, Some(door),
          timeoutMs = timeoutMs, checkIntervalMs = 100,
          backoffBaseMs = 100).start()
        val pooledDoor = new SemanticSearch(corpus, HashingTfEmbedder(dim),
          idCol = "vec_id", textCol = "label", embCol = "embedding",
          memory = Some(new FleetTier(door)))
        try {
          // bit-identity first: pooled door == in-process routed door
          (0 until 8).foreach { i =>
            val req = jsonReq(qvecs(i % qvecs.size), 5)
            require(pooledDoor.searchResponseJson(req) ==
              inRouted.searchResponseJson(req),
              "pooled fleet door != in-process routed door")
          }
          val (_, ls, failed, wall) = storm("pooled", n, _ < reqs)(()) { (t, i) =>
            val resp = pooledDoor.searchResponseJson(
              jsonReq(qvecs((t * 7 + i) % qvecs.size), 5))
            require(resp.contains("\"results\":[{"),
              s"pooled response empty: ${resp.take(60)}")
          }
          require(failed == 0, s"$failed pooled requests failed")
          val qps = ls.size / wall
          chosenLevels.get(("fleet_routed", n)).foreach { base =>
            require(qps >= 0.7 * base.qps,
              f"pooled door $qps%.0f QPS < 70%% of per-thread ${base.qps}%.0f " +
                "QPS — the pool is taxing the hot path")
          }
          extraRows +=
            f"""{"path":"fleet_routed_pooled","concurrency":$n,"pool_size":$n,"requests":${ls.size},"failed":0,"p50_ms":${pct(ls, 0.50)}%.1f,"p95_ms":${pct(ls, 0.95)}%.1f,"mean_ms":${ls.sum / ls.size}%.1f,"qps":$qps%.1f,"wall_s":$wall%.2f}"""
        } finally { coord.close(); door.close() }
      }

      // ---- the CHURN row (r15 verdict item 4): covered routed traffic
      // while a shard DIES and a parallel republish LANDS in the same
      // window, with the promoted control plane (coordinator health loop
      // + pooled door) driving the recovery — the failure row and the
      // republish row composed, which is what a real deployment sees.
      // Timeline (controller thread): steady state → SIGKILL shard 1 →
      // replacement process respawns on the SAME port → coordinator
      // auto-redials control plane + heals the pool → parallel
      // republish through the coordinator → post-churn traffic. The
      // request storm never stops; the pin is failed = 0 end to end
      // (degraded requests serve the exact partial merge, the
      // FleetClient doctrine) and full recovery (live_after = nShards).
      if (!pinned) {
        val n = levels.max
        val door = new graft.serve.FleetDoor(ports, poolSize = n,
          timeoutMs = timeoutMs)
        val coord = new graft.serve.FleetCoordinator(ports, Some(door),
          timeoutMs = timeoutMs, checkIntervalMs = 100,
          backoffBaseMs = 100).start()
        val pooledDoor = new SemanticSearch(corpus, HashingTfEmbedder(dim),
          idCol = "vec_id", textCol = "label", embCol = "embedding",
          memory = Some(new FleetTier(door)))
        def awaitUntil(ms: Long)(cond: => Boolean): Boolean = {
          val deadline = System.nanoTime() + ms * 1000000L
          var ok = cond
          while (!ok && System.nanoTime() < deadline) {
            Thread.sleep(50); ok = cond
          }
          ok
        }
        try {
          (0 until 4).foreach(i =>
            require(pooledDoor.searchResponseJson(jsonReq(qvecs(i), 5))
              .contains("\"results\":[{"), "churn warm-up failed"))
          @volatile var stop = false
          val t0 = System.nanoTime()
          def since0: Double = (System.nanoTime() - t0) / 1e6
          // controller: the churn script, inside the storm
          val (churned, ls, failed, wall) = storm("churn", n, _ => !stop)(try {
            Thread.sleep(1500) // steady state
            System.err.println("[fleet] churn: killing shard 1")
            val tKill = since0
            shardProcs(1).destroyForcibly(): Unit
            require(awaitUntil(15000)(door.anyDead(1)),
              "churn: no pooled client ever marked the killed shard dead")
            val minLive = door.minLiveShards
            Thread.sleep(300)
            shardProcs(1) = spawnShard(1, ports(1))
            val tRespawn = since0
            require(awaitUntil(20000)(!door.anyDead(1) &&
              coord.liveShards == nShards),
              "churn: coordinator never recovered the replacement shard")
            val tRecovered = since0
            // the republish lands while traffic still flows
            val window = coord.republishParallel()
            Thread.sleep(1000) // post-churn traffic
            (tKill, minLive, tRespawn, tRecovered, window)
          } finally stop = true) { (t, i) =>
            val resp = pooledDoor.searchResponseJson(
              jsonReq(qvecs((t * 7 + i) % qvecs.size), 5))
            require(resp.contains("\"results\":[{"),
              s"churn response empty: ${resp.take(60)}")
          }
          require(failed == 0,
            s"$failed requests failed across the churn — degraded " +
              "mode must absorb kill+republish with partial results, not errors")
          val (tKill, minLiveDuring, tRespawn, tRecovered, republishWindowMs) = churned
          require(minLiveDuring == nShards - 1,
            s"expected ${nShards - 1} live during the kill, got $minLiveDuring")
          require(door.minLiveShards == nShards,
            "churn: pool not whole after recovery")
          extraRows +=
            f"""{"path":"fleet_routed_churn","concurrency":$n,"requests":${ls.size},"failed":0,"shed":0,"p50_ms":${pct(ls, 0.50)}%.1f,"p95_ms":${pct(ls, 0.95)}%.1f,"mean_ms":${ls.sum / ls.size}%.1f,"qps":${ls.size / wall}%.1f,"wall_s":$wall%.2f,"killed_shard":1,"kill_at_ms":$tKill%.0f,"respawn_at_ms":$tRespawn%.0f,"recovered_at_ms":$tRecovered%.0f,"republish_window_ms":$republishWindowMs%.1f,"min_live_during":$minLiveDuring,"live_after":$nShards,"coordinator_recoveries":${coord.recoveryCount}}"""
        } finally { coord.close(); door.close() }
      }

      // ---- fleet republish: amend the artifacts (one purged doc),
      // staggered per-shard reload under background load, staleness
      // window measured, victim unservable from EVERY shard after.
      // Consistency story (documented, measured): the swap is staggered,
      // so between the first and last ack the fleet serves a MIX of old
      // and new corpus — each shard is internally consistent, and a
      // given doc's purge lands at ITS OWN shard's ack (disjoint slices:
      // no cross-shard state). The window below bounds that staleness.
      if (!pinned) {
        // victim: a corpus doc present in the dense slice of shard 0 and
        // in the lex/sparse tables (replicated ids overlap numerically)
        val lexIds = lexRows.iterator.map(_._2._1).toSet
        val victim = denseRows.iterator.map(_._1)
          .find(id => Sharded.shardOf(id, nShards) == 0 && lexIds(id))
          .getOrElse(sys.error("no victim id on shard 0"))
        val victimVec = denseRows.find(_._1 == victim).get._2
        val victimTerm = lexRows.collectFirst {
          case (t, (id, _, _)) if id == victim && t.nonEmpty => t
        }.getOrElse(sys.error("victim has no terms"))
        /** Run `swap` under background full-fleet dense queries; its
          * result and the number of queries served meanwhile. Every
          * background query must succeed (serving continuity).
          */
        def underLoad[A](what: String)(swap: => A): (A, Int) = {
          val served = new java.util.concurrent.atomic.AtomicInteger(0)
          val failed = new java.util.concurrent.atomic.AtomicInteger(0)
          @volatile var stop = false
          val bg = new Thread(() => {
            val cl = new FleetClient(ports, timeoutMs = timeoutMs)
            try {
              var i = 0
              while (!stop) {
                try {
                  if (cl.dense(qvecs(i % qvecs.size), 10).length == 10)
                    served.incrementAndGet(): Unit
                  else failed.incrementAndGet(): Unit
                } catch { case _: Throwable => failed.incrementAndGet(): Unit }
                i += 1
              }
            } finally cl.close()
          })
          bg.start()
          val out = try swap finally { stop = true; bg.join() }
          require(failed.get() == 0,
            s"${failed.get()} background queries failed during the $what")
          (out, served.get())
        }
        val probe = new FleetClient(ports, timeoutMs = timeoutMs)
        try {
          // pre-purge: the victim's own vector must surface it (cos = 1)
          val pre = probe.denseOn(0, victimVec, 1)
          require(pre.headOption.exists(_._1 == victim),
            s"victim $victim not served by its shard pre-purge: $pre")
          val tAmend0 = System.nanoTime()
          writeShardFiles(Set(victim))
          val amendMs = (System.nanoTime() - tAmend0) / 1e6
          val ((reloadMs, windowMs), swapQueries) = underLoad("swap") {
            val tSwap0 = System.nanoTime()
            val ms = (0 until nShards).map { sh =>
              val t0 = System.nanoTime()
              probe.reload(sh)
              (System.nanoTime() - t0) / 1e6
            }
            (ms, (System.nanoTime() - tSwap0) / 1e6)
          }
          // post-swap: the victim must be unservable from EVERY shard —
          // its own vector as the query, and its strongest term lexically
          (0 until nShards).foreach { sh =>
            val got = probe.denseOn(sh, victimVec, 1)
            require(!got.exists(_._1 == victim),
              s"purged doc $victim still served by shard $sh")
          }
          require(!probe.lex(Seq(victimTerm), 50).exists(_._1 == victim),
            s"purged doc $victim still in the lexical fleet")

          // ---- the PARALLEL swap lever, measured on a second victim:
          // all shards reload CONCURRENTLY (each reload runs on its own
          // connection's serve thread; OTHER connections keep serving the
          // volatile snapshot throughout), so the fleet-wide staleness
          // window shrinks from Σ reloads to ~max(reload) — the trade is
          // every shard re-reading its slice at once. Continuity is
          // asserted the same way (zero failed background queries).
          val victim2 = denseRows.iterator.map(_._1)
            .find(id => id != victim && lexIds(id) &&
              Sharded.shardOf(id, nShards) == 1)
            .getOrElse(sys.error("no second victim id on shard 1"))
          val victim2Vec = denseRows.find(_._1 == victim2).get._2
          writeShardFiles(Set(victim, victim2))
          val (parWindowMs, parQueries) = underLoad("parallel swap") {
            val tPar0 = System.nanoTime()
            val parThreads = (0 until nShards).map { sh =>
              val th = new Thread(() => probe.reload(sh)) // distinct conns: safe
              th.start(); th
            }
            parThreads.foreach(_.join())
            (System.nanoTime() - tPar0) / 1e6
          }
          (0 until nShards).foreach { sh =>
            require(!probe.denseOn(sh, victim2Vec, 1).exists(_._1 == victim2),
              s"purged doc $victim2 still served by shard $sh after parallel swap")
          }

          val row =
            f"""{"fleet_shards":$nShards,"docs":${denseRows.length},"purged":1,"amend_ms":$amendMs%.1f,"reload_ms":[${reloadMs.map(m => f"$m%.1f").mkString(",")}],"staleness_window_ms":$windowMs%.1f,"queries_during_swap":$swapQueries,"failed_during_swap":0,"victim_absent_all_shards":true,"parallel_window_ms":$parWindowMs%.1f,"parallel_queries_during_swap":$parQueries,"parallel_failed":0}"""
          // splice into REPUBLISH.json next to the single-process rows
          val repPath = java.nio.file.Paths.get("REPUBLISH.json")
          if (java.nio.file.Files.exists(repPath)) {
            val prev = java.nio.file.Files.readString(repPath).trim
            val prevCells = JsonSplice.elementsOf(
              JsonSplice.member(prev, "results")
                .getOrElse(sys.error("REPUBLISH.json has no results member")))
            val kept = prevCells.filterNot(_.contains("\"fleet_shards\""))
            val merged = JsonSplice.emitObject(JsonSplice.membersOf(prev).map {
              case ("results", _) =>
                "results" -> JsonSplice.emitArray(kept :+ row)
              case kv => kv
            })
            java.nio.file.Files.writeString(repPath, merged + "\n")
            println(s"[fleet] republish row spliced into REPUBLISH.json: $row")
          } else println(s"[fleet] republish row (REPUBLISH.json absent): $row")
        } finally probe.close()
      }

      // ---- failure injection, LAST (it permanently degrades the fleet):
      // kill one shard process mid-level at the top concurrency; the
      // pinned client semantics (mark-dead + exact partial results over
      // the live shards) must absorb it with ZERO failed requests.
      if (!pinned) {
        val n = levels.max
        val reqs = perThread * 64
        val killAt = (n.toLong * reqs / 3).toInt // ~1/3 into the level
        val fired = new java.util.concurrent.atomic.AtomicInteger(0)
        val killed = new java.util.concurrent.atomic.AtomicBoolean(false)
        val ctxs = (0 until n).map(_ => newCtx())
        val (_, ls, failed, wall) = storm("degraded", n, _ < reqs)(()) { (t, i) =>
          val c = fired.incrementAndGet()
          if (c == killAt && killed.compareAndSet(false, true)) {
            System.err.println(s"[fleet] killing shard 1 at request $c")
            shardProcs(1).destroyForcibly(): Unit
          }
          val got = ctxs(t).client.dense(qvecs((t * 7 + i) % qvecs.size), 10)
          require(got.length == 10, s"degraded dense returned ${got.length} rows")
        }
        val minLive = ctxs.map(_.client.liveShards).min
        ctxs.foreach(_.client.close())
        require(minLive == nShards - 1,
          s"expected ${nShards - 1} live shards after the kill, got $minLive")
        require(failed == 0,
          s"$failed requests failed across the kill — the degraded " +
            "mode must absorb a shard death with partial results, not errors")
        val row =
          f"""{"path":"fleet_dense_degraded","concurrency":$n,"requests":${ls.size},"failed":$failed,"p50_ms":${pct(ls, 0.50)}%.1f,"p95_ms":${pct(ls, 0.95)}%.1f,"mean_ms":${ls.sum / ls.size}%.1f,"qps":${ls.size / wall}%.1f,"wall_s":$wall%.2f,"killed_shard":1,"live_shards_after":$minLive}"""
        extraRows += row
      }

      val allResults = results ++ extraRows.filter(_.contains("\"path\""))
      val line =
        s"""{"metric":"fleet_bench","sf":"$sfDir","replicas":$repl,"shards":$nShards,"dense_docs":${denseRows.length},"lex_docs":${lexStats.n},"dim":$dim,"cpus":${GraftSession.cpus},"pinned":$pinned,"results":[${allResults.mkString(",")}]}"""
      println(line)
      val fleetOut = if (pinned) "FLEET_BENCH_PINNED.json" else "FLEET_BENCH.json"
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(fleetOut), line + "\n")
      catch { case _: Throwable => () }
      // splice the fleet rows into the serving battery file next to the
      // per-shard projection rows they were built to test. Replace ONLY
      // the paths this run measured (a pinned run must not delete the
      // unpinned rows, and vice versa).
      val spliceTo = java.nio.file.Paths.get(spliceFile)
      if (java.nio.file.Files.exists(spliceTo)) {
        // replace exactly the paths this run WROTE — a pinned run (which
        // skips the kill phase) must not delete the unpinned run's
        // degraded row
        val newPaths = cells.map(_._1).toSet ++
          (if (pinned) Set.empty[String]
           else Set("fleet_dense_degraded", "fleet_routed_pooled",
             "fleet_routed_churn"))
        val prev = java.nio.file.Files.readString(spliceTo).trim
        val prevCells = JsonSplice.elementsOf(
          JsonSplice.member(prev, "results")
            .getOrElse(sys.error(s"$spliceFile has no results member")))
        def pathOf(cell: String): String = JsonSplice.member(cell, "path")
          .getOrElse("").stripPrefix("\"").stripSuffix("\"")
        val kept = prevCells.filterNot(c => newPaths(pathOf(c)))
        val merged = JsonSplice.emitObject(JsonSplice.membersOf(prev).map {
          case ("results", _) =>
            "results" -> JsonSplice.emitArray(kept ++ allResults)
          case kv => kv
        })
        java.nio.file.Files.writeString(spliceTo, merged + "\n")
        println(s"[fleet] spliced ${allResults.size} rows into $spliceFile")
      }

      // orderly fleet shutdown (dead shards skipped by the client)
      val bye = new FleetClient(ports.zipWithIndex.collect {
        case (p, i) if shardProcs(i).isAlive => p
      })
      bye.shutdown()
    } finally {
      // shardProcs holds the live table (churn replacements included);
      // the original procs entries a replacement superseded are already
      // dead, so sweeping both is a no-op on the stale ones
      (procs ++ shardProcs).foreach { p =>
        if (!p.waitFor(5, java.util.concurrent.TimeUnit.SECONDS))
          p.destroyForcibly(): Unit
      }
    }
    spark.stop()
  }
}
