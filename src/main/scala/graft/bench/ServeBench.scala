package graft.bench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.api.{GraftSession, SemanticSearch}
import graft.embed.HashingTfEmbedder
import graft.operators.{Ann, Bm25}

/** Concurrent-serving benchmark — the reference's PRODUCTION SLO, which
  * single-query wall times cannot measure: ~1,000 QPS at ~300 ms p50 over a
  * ~10K-doc index (`/root/reference/README.md:19-21`,
  * `02_method2_manual_vector_embedding.sql:429-434`).
  *
  * Setup (once, untimed): replicate the sf embeddings to the reference's
  * ~10K-doc envelope (disjoint ids) and persist them in the q144 IVF layout
  * (`partitionBy(ivf_cell)` parquet). Then, per concurrency level N, N
  * client threads — each in its OWN FAIR scheduler pool, the way a serving
  * deployment isolates request streams — issue randomized requests
  * back-to-back against the warm session; per-request wall times aggregate
  * to p50/p95 and throughput.
  *
  * Two serve paths, matching the engine's two scan envelopes:
  *  - `search_json`: the Method-1 front door ([[SemanticSearch.search]]) —
  *    JSON request in, brute-force cosine + TakeOrderedAndProject over the
  *    full index (the reference's own ~10K-doc design point);
  *  - `ivf_probe`: [[Ann.topKIvf]] over the PERSISTED partitioned layout —
  *    nProbe-cell partition pruning, the >=1M-doc scale path (`02:438-442`).
  *
  * Prints one JSON line and writes SERVE_BENCH.json.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.bench.ServeBench"
  * Env knobs: SPARK_GRAFT_SERVE_LEVELS (default "1,8,16,32"),
  * SPARK_GRAFT_SERVE_REQS (per-thread requests, default 16),
  * SPARK_GRAFT_SERVE_REPL (corpus replication factor, default 5 ≈ the
  * reference's ~10K docs; 50 = the 10x battery), and
  * SPARK_GRAFT_SERVE_OUT (output file, default SERVE_BENCH.json — the
  * 10x run writes SERVE_BENCH_10X.json so both scales stay recorded).
  */
object ServeBench {

  /** Nearest-rank percentile (p in (0,1]) of raw latencies. */
  private[graft] def pct(sorted: IndexedSeq[Double], p: Double): Double =
    sorted((math.ceil(p * sorted.size).toInt - 1).max(0).min(sorted.size - 1))

  /** `n` copies of `df` with disjoint ids: copy i shifts `idCol` by
    * i · (max id + 1) — the serving benches' 10× corpora.
    */
  private[graft] def replicate(df: org.apache.spark.sql.DataFrame, idCol: String,
                               n: Int): org.apache.spark.sql.DataFrame =
    if (n <= 1) df
    else {
      val stride = df.agg(max(col(idCol))).head().getLong(0) + 1
      (0 until n).map(i => df.withColumn(idCol, col(idCol) + lit(i * stride)))
        .reduce(_ unionByName _)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repl = sys.env.getOrElse("SPARK_GRAFT_SERVE_REPL", "5").toInt
    val perThread = sys.env.getOrElse("SPARK_GRAFT_SERVE_REQS", "16").toInt
    val levels = sys.env.getOrElse("SPARK_GRAFT_SERVE_LEVELS", "1,8,16,32")
      .split(",").map(_.trim.toInt).toSeq
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SERVE_OUT", "SERVE_BENCH.json")
    // explicit equal-weight FAIR pools, one per client stream (an
    // allocation file, so the pools are declared rather than created ad
    // hoc with a per-job warning)
    val poolsXml = java.nio.file.Files.createTempFile("graft-pools", ".xml")
    java.nio.file.Files.writeString(poolsXml,
      ((0 until levels.max).map(i =>
        s"""<pool name="serve-$i"><schedulingMode>FIFO</schedulingMode><weight>1</weight><minShare>1</minShare></pool>""")
        // the FallbackGate's dedicated pool: admitted exact-fallback jobs
        // share the cluster under FAIR weighting instead of FIFO-blocking
        // their caller stream's subsequent jobs
        :+ """<pool name="graft-fallback"><schedulingMode>FAIR</schedulingMode><weight>1</weight><minShare>0</minShare></pool>""")
        .mkString("<?xml version=\"1.0\"?><allocations>", "", "</allocations>"))
    val spark = GraftSession.builder()
      // FAIR + one pool per client thread: concurrent requests share the
      // cluster instead of queueing FIFO behind each other's jobs
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", poolsXml.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- corpus: sf embeddings replicated (disjoint ids) to ~10K docs
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus0 = emb.where(col("vec_id") =!= 0)
    val corpus = replicate(corpus0, "vec_id", repl)

    // ---- persist ONCE in the q144 IVF layout; serving reads the
    // partition-pruned parquet, not a cached DataFrame — the honest
    // persisted-index path (page cache is the only warmth)
    val cents = Ann.sampleCentroids(corpus0, "vec_id", "embedding", 16)
    val workDir = java.nio.file.Files.createTempDirectory("graft-serve").toString
    Ann.withIvfAssignment(corpus, "embedding", cents)
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(workDir)
    val index = spark.read.parquet(workDir)
      .withColumn("ivf_cell", col("ivf_cell").cast("int"))
    val nDocs = index.count()
    val dim = corpus0.select("embedding").head().getSeq[Float](0).size

    // ---- randomized workload: 64 real corpus vectors, round-robin with a
    // per-thread offset so concurrent threads probe different cells
    val qvecs = corpus0.orderBy("vec_id").limit(64)
      .select("embedding").collect().map(_.getSeq[Float](0).toSeq).toIndexedSeq

    // ---- lexical leg: replicated documents -> postings persisted
    // partitionBy(term), so a query's term filter is PARTITION PRUNING.
    // Corpus stats (N, avgdl, df) collect once — the bounded dimension
    // lookups a serving tier holds in memory.
    val docsRepl = replicate(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", repl)
    val postDir = java.nio.file.Files.createTempDirectory("graft-serve-post").toString
    Bm25.buildPostings(docsRepl, "doc_id", "text")
      .write.mode("overwrite").partitionBy("term").parquet(postDir)
    val postings = spark.read.parquet(postDir)
    val lexStats = Bm25.corpusStats(docsRepl, "text", postings)
    val (sumDl, nLex, avgdl, idfMap) =
      (lexStats.sumDl, lexStats.n, lexStats.avgdl, lexStats.idf)
    val termSets = IndexedSeq(Seq("dup", "vector", "query"),
      Seq("dup", "stream"), Seq("vector", "join", "fast"), Seq("scan", "hash"))

    val searcher = new SemanticSearch(index, HashingTfEmbedder(dim),
      idCol = "vec_id", textCol = "label", embCol = "embedding")
    def jsonReq(qv: Seq[Float], k: Int): String =
      s"""{"query_vector":[${qv.mkString(",")}],"columns":["vec_id"],"limit":$k}"""

    // ---- memory tier: load the SAME persisted artifacts (IVF parquet +
    // postings + idf metadata) into the job-free serving runtime — the
    // "specialized online runtime" the reference's QPS target implies.
    // Results are bit-identical to the DataFrame paths (ServeSpec); what
    // this bench measures is the throughput gap between job-per-request
    // and memory-resident serving.
    val memDense = graft.serve.MemoryAnnIndex.fromDataFrame(
      index, "vec_id", "embedding", "ivf_cell", cents,
      metaCols = Seq("label"))
    // the deployment form of the flat tier: disjoint hash shards, query
    // fan-out, k-bounded merge (one shard per replica in production;
    // here the shards share a process, so the bench measures the
    // fan-out + merge overhead vs the monolithic scan)
    val memSharded = graft.serve.MemoryAnnIndex.sharded(
      index, "vec_id", "embedding", "ivf_cell", cents, nShards = 4)
    // a selective conjunction (~1/10 of the corpus): the payload-index
    // vs filtered-scan comparison below
    val serveFilter = Seq(graft.serve.MetaFilter("label", 3, 3))
    val memLex = graft.serve.MemoryPostingsIndex.fromDataFrame(
      postings, "doc_id", idfMap, avgdl)
    val memServer = new graft.serve.MemoryServer(memDense, Some(memLex),
      defaultNProbe = 2)
    val memExact = new graft.serve.MemoryServer(memDense, Some(memLex))
    // the ROUTED front door: same SemanticSearch class, memory attached —
    // a covered JSON request (columns + filter ops within the loaded
    // metadata) serves job-free; anything else falls back to the job path
    val searcherRouted = new SemanticSearch(index, HashingTfEmbedder(dim),
      idCol = "vec_id", textCol = "label", embCol = "embedding",
      memory = Some(memExact))
    // same routed door plus the opted-in IVF fallback: uncovered requests
    // probe the persisted partitionBy(ivf_cell) layout (nProbe=2 of 16)
    val searcherRoutedIvf = new SemanticSearch(index, HashingTfEmbedder(dim),
      idCol = "vec_id", textCol = "label", embCol = "embedding",
      memory = Some(memExact),
      ivfFallback = Some(graft.api.SemanticSearch.IvfFallback(
        "ivf_cell", cents, nProbe = 2)))
    // the hybrid REQUEST front door, routed: both legs + fusion job-free
    // (the job-path twin is the composed "hybrid" cell below). The EXACT
    // server, deliberately: the door only routes onto servesExactDense
    // servers (bit-identity contract) — the probed memServer would make
    // it silently fall back to the job path
    val hybridDoor = new graft.api.HybridSearch(index, "vec_id", "embedding",
      postings, "doc_id", idfMap, avgdl, memory = Some(memExact))
    val memSq8 = graft.serve.MemorySq8Index.fromDataFrame(
      graft.operators.Quantize.withSq8(index, "embedding"),
      "vec_id", "embedding")
    val pqBooks = graft.operators.Ann.pqCodebooks(corpus0, "vec_id",
      "embedding", m = 8, ksub = 16, iters = 1)
    val memPq = graft.serve.MemoryPqIndex.fromDataFrame(
      graft.operators.Ann.withPqCodes(index, "embedding", pqBooks),
      "vec_id", "embedding", "pq_code", pqBooks)
    val memBinary = graft.serve.MemoryBinaryIndex.fromDataFrame(
      graft.operators.Quantize.withBinary(index, "embedding"),
      "vec_id", "embedding")
    // matryoshka tier: prefix quarter-dim candidate scan (resident
    // prefix array = 1/4 the bytes of the flat scan) + exact rerank
    val memMrl = graft.serve.MemoryMrlIndex.fromDataFrame(
      index, "vec_id", "embedding", prefixDim = dim / 4)
    val memHnsw = graft.serve.MemoryHnswIndex.build(
      index.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq,
      m = 16, efConstruction = 100)
    // learned-sparse tier: the postings ARE the sparse vectors (tf
    // weighting); a trained model would swap the weights, not the path
    val sparseVecs = graft.operators.Sparse.tfVectors(docsRepl, "doc_id", "text")
      .localCheckpoint(true)
    val memSparse = graft.serve.MemorySparseIndex.fromDataFrame(
      sparseVecs, "doc_id")
    // the lexical replica fan-out (global idf/avgdl, disjoint doc shards)
    // — the deployment form for the tiers the 10x battery showed QPS-bound
    val memShardedLex = graft.serve.MemoryPostingsIndex.sharded(
      postings, "doc_id", idfMap, avgdl, nShards = 4)
    // the sparse replica fan-out (no global stats at all — see
    // serve/Sharded) and the hybrid door over BOTH sharded legs
    val memShardedSparse = graft.serve.MemorySparseIndex.sharded(
      sparseVecs, "doc_id", nShards = 4)
    val shardedHybrid = graft.serve.Sharded.hybrid(memSharded, memShardedLex)
    val sparseQueries: IndexedSeq[Map[String, Long]] =
      termSets.map(_.zipWithIndex.map { case (t, i) => t -> (i + 1L) }.toMap)
    // freshness tier under churn: every request WRITES one row (upsert
    // into the delta segment) then searches the merged view — the
    // TARGET_LAG live half measured as a serving path, not a batch job.
    // BOUNDED like the lex/sparse rows since round 15: crossing 1,000
    // delta docs folds the segment into a new immutable base IN-BAND
    // (DeltaAnnIndex.republish — O(base) for this flat-array tier, the
    // honest fold cost, visible in the cell's p-max; nothing discarded).
    // The base is METADATA-FREE (the fold contract: delta rows carry no
    // filter columns; filtered deployments keep the Spark-rebuild model)
    val memDensePlain = graft.serve.MemoryAnnIndex.fromDataFrame(
      index, "vec_id", "embedding", "ivf_cell", cents)
    val deltaBounded = new graft.serve.BoundedDelta(
      new graft.serve.DeltaAnnIndex(memDensePlain), maxDeltaDocs = 1000L)
    val deltaSeq = new java.util.concurrent.atomic.AtomicLong(10_000_000L)
    // the LEXICAL freshness tier under churn: same write-then-read shape,
    // with the per-query merged-stats re-derivation on the read path.
    // BOUNDED delta (the round-15 protocol): crossing 1,000 delta docs
    // folds the segment into a new immutable base IN-BAND
    // (DeltaTier.republish — no write is ever discarded; the crossing
    // request pays the fold, visible in the cell's p95/max), so the
    // per-query delta cost stays bounded however long the churn runs
    val deltaLexBounded = new graft.serve.BoundedDelta(
      graft.serve.DeltaPostingsIndex.fromDataFrame(postings, "doc_id",
        nLex, sumDl), maxDeltaDocs = 1000L)
    val deltaLexSeq = new java.util.concurrent.atomic.AtomicLong(20_000_000L)
    // the SPARSE freshness tier under churn — the write mix includes
    // RETRACTIONS (this tier's distinguishing delete: an in-flight
    // purge, exact with no corpus stats to re-derive). Same bounded
    // protocol; the add+retract pair runs atomically inside write(), so
    // a fold can never land between a request's add and its retract
    val deltaSparseBounded = new graft.serve.BoundedDelta(
      graft.serve.DeltaSparseIndex.fromDataFrame(sparseVecs, "doc_id"),
      maxDeltaDocs = 1000L)
    val deltaSparseSeq = new java.util.concurrent.atomic.AtomicLong(30_000_000L)
    // the GRAPH freshness tier under churn (round 16): same bounded
    // write-then-read protocol; the fold is the full deterministic
    // graph rebuild — the honest cost of graph freshness, in p-max
    val deltaHnswBounded = new graft.serve.BoundedDelta(
      new graft.serve.DeltaHnswIndex(memHnsw), maxDeltaDocs = 1000L)
    val deltaHnswSeq = new java.util.concurrent.atomic.AtomicLong(40_000_000L)

    // admission for the exact-required rows: at most 2 concurrent
    // fallback jobs (fair queue), in the dedicated FAIR pool declared in
    // the allocation file — the documented default for a door that must
    // stay exact (SemanticSearch class doc)
    val fallbackGate = new graft.api.FallbackGate("graft-fallback",
      maxConcurrent = 2)
    // refusals issued by the shed row (see search_json_mixed_shed)
    val shedCount = new java.util.concurrent.atomic.AtomicInteger(0)
    // background burst generator for the covered-under-burst row:
    // 2 submitter threads + a small bounded queue, so the burst is
    // sustained for the whole level but sheds (never accumulates an
    // unbounded backlog that would bleed far past the cell)
    val burstPool = new java.util.concurrent.ThreadPoolExecutor(
      2, 2, 30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.ArrayBlockingQueue[Runnable](4))

    val paths: Seq[(String, Int => Unit)] = Seq(
      // exact brute-force over the whole memory-resident corpus — the
      // reference's own ~10K-doc design point, job-free
      "memory_search" -> { qi: Int =>
        val n = memExact.topKVec(qvecs(qi % qvecs.size), 5).length
        require(n == 5, s"memory_search returned $n rows")
      },
      "memory_ivf" -> { qi: Int =>
        val n = memDense.topKIvf(qvecs(qi % qvecs.size), 5, nProbe = 2).length
        require(n == 5, s"memory_ivf returned $n rows")
      },
      // sharded fan-out + merge (4 disjoint slices) — the replica
      // deployment shape; bit-identical results to memory_search
      "memory_sharded" -> { qi: Int =>
        val qv = qvecs(qi % qvecs.size)
        val n = graft.serve.Sharded.topK(memSharded, 5)(_.topK(qv, 5)).length
        require(n == 5, s"memory_sharded returned $n rows")
      },
      "memory_hybrid" -> { qi: Int =>
        val n = memServer.searchHybrid(qvecs(qi % qvecs.size),
          termSets(qi % termSets.size), k = 10, poolK = 20).length
        require(n == 10, s"memory_hybrid returned $n rows")
      },
      // SQ8 byte-code scan + exact rerank — the compressed replica's
      // request path (4x smaller resident set than memory_search)
      "memory_sq8" -> { qi: Int =>
        val n = memSq8.topK(qvecs(qi % qvecs.size), 5, rerankFactor = 4).length
        require(n == 5, s"memory_sq8 returned $n rows")
      },
      // PQ ADC table + m-lookup scan + exact rerank — the 32x-compression
      // tier (m=8 bytes of codes per dim-64 vector)
      "memory_pq" -> { qi: Int =>
        val n = memPq.topK(qvecs(qi % qvecs.size), 5, rerankFactor = 4).length
        require(n == 5, s"memory_pq returned $n rows")
      },
      // filtered serving, two candidate-enumeration strategies over the
      // SAME index and filter (results identical — ServeSpec): the full
      // scan testing every row vs the payload index jumping straight to
      // the ~1/10 matching rows
      "memory_filtered_scan" -> { qi: Int =>
        val n = memDense.topK(qvecs(qi % qvecs.size), 5, serveFilter).length
        require(n == 5, s"memory_filtered_scan returned $n rows")
      },
      "memory_filtered_indexed" -> { qi: Int =>
        val n = memDense.topKFilteredIndexed(
          qvecs(qi % qvecs.size), 5, serveFilter).length
        require(n == 5, s"memory_filtered_indexed returned $n rows")
      },
      // 1-bit sign codes: xor+popcount scan (integer-only kernel over a
      // 32x-smaller resident set) + exact rerank
      "memory_binary" -> { qi: Int =>
        val n = memBinary.topK(qvecs(qi % qvecs.size), 5, rerankFactor = 8).length
        require(n == 5, s"memory_binary returned $n rows")
      },
      // matryoshka prefix scan (quarter-dim resident prefix array — 4x
      // less candidate-scan bandwidth than memory_search) + exact rerank
      "memory_mrl" -> { qi: Int =>
        val n = memMrl.topK(qvecs(qi % qvecs.size), 5, rerankFactor = 4).length
        require(n == 5, s"memory_mrl returned $n rows")
      },
      // write-then-read churn over the delta tier: one upsert + one
      // merged search per request. BOUNDED: every 1,000th write pays the
      // in-band fold (O(base) on this flat-array tier) and the corpus
      // GROWS over the cell — no write discarded, delta scan + tombstone
      // overscan capped at 1,000 by construction
      "memory_delta_mixed" -> { qi: Int =>
        val qv = qvecs(qi % qvecs.size)
        val seq = deltaSeq.incrementAndGet()
        val d = deltaBounded.write(_.add(seq, qv))
        val n = d.topK(qv, 5).length
        require(n == 5, s"memory_delta_mixed returned $n rows")
      },
      // write-then-read churn on the LEXICAL delta tier: one addDoc +
      // one merged-stats search per request (idf/avgdl re-derive over
      // base+delta each query — the freshness-honesty cost measured).
      // BOUNDED delta: every 1,000th write crosses maxDeltaDocs and pays
      // the in-band republish fold — the corpus GROWS over the cell (no
      // write discarded), which is the honest freshness-tier workload
      "memory_delta_lex_mixed" -> { qi: Int =>
        val seq = deltaLexSeq.incrementAndGet()
        val d = deltaLexBounded.write(_.addDoc(seq, s"dup stream doc$seq fresh"))
        val n = d.topKWand(termSets(qi % termSets.size), 5).length
        require(n == 5, s"memory_delta_lex_mixed returned $n rows")
      },
      // the sparse churn twin: every write adds one doc; every 3rd write
      // immediately retracts its OWN add (the in-flight GDPR purge
      // shape); reads take the base-WAND + exhaustive-delta merge. The
      // pair runs atomically inside BoundedDelta.write, so the fold can
      // never publish the add before the retract lands
      "memory_delta_sparse_mixed" -> { qi: Int =>
        val seq = deltaSparseSeq.incrementAndGet()
        val d = deltaSparseBounded.write { h =>
          h.addDoc(seq, Map("dup" -> 2L, "stream" -> 1L, s"doc$seq" -> 1L))
          if (seq % 3 == 0) h.retractDoc(seq)
        }
        val n = d.topKWand(sparseQueries(qi % sparseQueries.size), 5).length
        require(n == 5, s"memory_delta_sparse_mixed returned $n rows")
      },
      // HNSW graph walk (m=16, efC=100): O(M·ef·log n) vectors touched
      // per request instead of a scan — the sub-linear serving tier
      "memory_hnsw" -> { qi: Int =>
        val n = memHnsw.topK(qvecs(qi % qvecs.size), 5, ef = 40).length
        require(n == 5, s"memory_hnsw returned $n rows")
      },
      // write-then-read churn on the GRAPH tier (round 16: HNSW joins
      // the bounded-delta family) — one upsert + one merged search
      // (filtered base walk + exhaustive delta scan) per request.
      // BOUNDED like its siblings: crossing 1,000 delta docs pays the
      // in-band fold, which for the graph tier is the FULL deterministic
      // rebuild (O(n·efC·M) — seconds at this corpus, the honest cost,
      // visible in the cell's p-max; DeltaHnswIndex's class doc points
      // bigger bases at BoundedDelta's maintenance-thread option)
      "memory_delta_hnsw_mixed" -> { qi: Int =>
        val qv = qvecs(qi % qvecs.size)
        val seq = deltaHnswSeq.incrementAndGet()
        val d = deltaHnswBounded.write(_.add(seq, qv))
        val n = d.topK(qv, 5, ef = 40).length
        require(n == 5, s"memory_delta_hnsw_mixed returned $n rows")
      },
      // learned-sparse dot product over the term postings (q205's scan
      // envelope served job-free — integer arithmetic end to end)
      // WAND-pruned integer dot product (bit-identical to the TAAT
      // topK — SparseSpec pins it); the exhaustive scan made this the
      // slowest memory path before round 10
      "memory_sparse" -> { qi: Int =>
        val n = memSparse
          .topKWand(sparseQueries(qi % sparseQueries.size), 5).length
        require(n == 5, s"memory_sparse returned $n rows")
      },
      // lexical fan-out + merge (4 disjoint doc shards, per-shard WAND)
      // — bit-identical to the single-replica walk; in production each
      // shard is a replica, so aggregate QPS scales with the fleet
      "memory_sharded_lex" -> { qi: Int =>
        val n = graft.serve.Sharded.topK(memShardedLex, 5)(
          _.searchWand(termSets(qi % termSets.size), 5)).length
        require(n == 5, s"memory_sharded_lex returned $n rows")
      },
      // learned-sparse fan-out + merge (4 disjoint doc shards, per-shard
      // WAND over integer dot products) — bit-identical to the
      // single-replica walk; the sparse twin of memory_sharded_lex
      "memory_sharded_sparse" -> { qi: Int =>
        val n = graft.serve.Sharded.countedLong(memShardedSparse, 5)(
          _.topKWandCounted(sparseQueries(qi % sparseQueries.size), 5))._1.length
        require(n == 5, s"memory_sharded_sparse returned $n rows")
      },
      // the hybrid request over SHARDED legs: dense fan-out + lexical
      // fan-out + local RRF — bit-identical to memory_hybrid on an exact
      // server (ServeSpec); the deployment form for the hybrid tiers the
      // 10x battery showed QPS-bound on their lexical walk
      "memory_sharded_hybrid" -> { qi: Int =>
        val n = shardedHybrid.searchHybrid(qvecs(qi % qvecs.size),
          termSets(qi % termSets.size), k = 10, poolK = 20).length
        require(n == 10, s"memory_sharded_hybrid returned $n rows")
      },
      // ONE shard's per-query work — the fleet-projection cell. The
      // in-process fan-out rows above walk all shards SEQUENTIALLY on
      // the same cores, so they cannot show the deployment gain; in the
      // fleet every query visits every replica IN PARALLEL, each doing
      // exactly this row's work, so fleet QPS ≈ this row's QPS (the
      // k-bounded merge is the aggregator's ~µs) and fleet p50 ≈ this
      // row's p50 + RTT. Requests rotate the probed shard so the cell
      // averages over slice skew.
      "memory_lex_shard" -> { qi: Int =>
        val sh = memShardedLex(qi % memShardedLex.size)
        val n = sh.searchWand(termSets(qi % termSets.size), 5).length
        require(n == 5, s"memory_lex_shard returned $n rows")
      },
      "memory_sparse_shard" -> { qi: Int =>
        val sh = memShardedSparse(qi % memShardedSparse.size)
        val n = sh.topKWand(sparseQueries(qi % sparseQueries.size), 5).length
        require(n == 5, s"memory_sparse_shard returned $n rows")
      },
      // ONE shard's per-query work for the HYBRID door (the flagship
      // fused path's fleet-projection cell, r13 verdict #3): both legs
      // walk one replica's slice — dense shard scan + lexical shard WAND
      // at the door's poolK — plus the local RRF fold (coordinator work,
      // ~µs, included to keep the cell conservative). In the fleet every
      // query visits every replica in parallel, each doing exactly this
      // row's work, so fleet QPS ≈ this row's QPS.
      "memory_hybrid_shard" -> { qi: Int =>
        val si = qi % memShardedLex.size
        val n = graft.serve.HybridTier.fuse(
          memSharded(si % memSharded.size).topK(qvecs(qi % qvecs.size), 20),
          memShardedLex(si).searchWand(termSets(qi % termSets.size), 20),
          10, 60).length
        require(n == 10, s"memory_hybrid_shard returned $n rows")
      },
      "search_json" -> { qi: Int =>
        val n = searcher.search(jsonReq(qvecs(qi % qvecs.size), 5)).collect().length
        require(n == 5, s"search_json returned $n rows")
      },
      // the same front-door request ROUTED onto the memory tier (request
      // covered: columns=[vec_id], no filter) — the ~ms local-relation
      // path a deployment serves covered requests from
      "search_json_routed" -> { qi: Int =>
        val n = searcherRouted.search(jsonReq(qvecs(qi % qvecs.size), 5))
          .collect().length
        require(n == 5, s"search_json_routed returned $n rows")
      },
      // the REAL front-door workload is a MIX: most requests covered by
      // the memory tier, a tail falling back to the Spark job path (90/10
      // here — the uncovered request filters on a column the index did
      // not load). This row's p50/p95 is the door's honest user-facing
      // latency; the routed row alone hides the fallback. Admission: each
      // fallback job runs in ITS caller's FAIR pool, so a fallback burst
      // degrades its own stream and queues behind nothing else — covered
      // traffic never waits on a job.
      "search_json_mixed" -> { qi: Int =>
        val qv = qvecs(qi % qvecs.size)
        val req =
          if (qi % 10 == 0)
            s"""{"query_vector":[${qv.mkString(",")}],"columns":["vec_id"],"limit":5,"filter":{"@gte":{"vec_id":0}}}"""
          else jsonReq(qv, 5)
        val n = searcherRouted.search(req).collect().length
        require(n == 5, s"search_json_mixed returned $n rows")
      },
      // the EXACT-REQUIRED deployment's 90/10 mix: same requests as
      // search_json_mixed, but uncovered collects go through the
      // FallbackGate (bounded fair semaphore + the dedicated FAIR pool)
      // — fallback bursts queue instead of multiplying full-scan jobs.
      // Covered requests stay job-free and untouched; results stay
      // exact. This is the documented admission DEFAULT for a door that
      // cannot accept the IVF knob's approximation.
      "search_json_mixed_admitted" -> { qi: Int =>
        val qv = qvecs(qi % qvecs.size)
        if (qi % 10 == 0) {
          val req =
            s"""{"query_vector":[${qv.mkString(",")}],"columns":["vec_id"],"limit":5,"filter":{"@gte":{"vec_id":0}}}"""
          val (df, covered) = searcherRouted.searchRouted(req)
          require(!covered, "the @gte-on-unloaded-filter request must fall back")
          val n = fallbackGate.admit(spark)(df.collect()).length
          require(n == 5, s"admitted fallback returned $n rows")
        } else {
          val (df, covered) = searcherRouted.searchRouted(jsonReq(qv, 5))
          require(covered, "the plain request must be memory-covered")
          val n = df.collect().length
          require(n == 5, s"covered request returned $n rows")
        }
      },
      // the THIRD admission lever measured (gate queue → refuse): same
      // 90/10 mix, but an uncovered request arriving to a deep fallback
      // queue (queueLength >= maxConcurrent) SHEDS — returns a refusal
      // immediately (the HTTP-503 analog) instead of queueing. The row
      // shows the mix's latency with shedding on (the p95 queue tail of
      // the *_admitted row collapses); the shed total prints after the
      // battery so the refusal rate is recorded, not hidden.
      "search_json_mixed_shed" -> { qi: Int =>
        val qv = qvecs(qi % qvecs.size)
        if (qi % 10 == 0) {
          val req =
            s"""{"query_vector":[${qv.mkString(",")}],"columns":["vec_id"],"limit":5,"filter":{"@gte":{"vec_id":0}}}"""
          val (df, covered) = searcherRouted.searchRouted(req)
          require(!covered, "the @gte-on-unloaded-filter request must fall back")
          if (fallbackGate.queueLength >= fallbackGate.maxConcurrent)
            shedCount.incrementAndGet(): Unit // refused: no job submitted
          else {
            val n = fallbackGate.admit(spark)(df.collect()).length
            require(n == 5, s"admitted (unshed) fallback returned $n rows")
          }
        } else {
          val (df, covered) = searcherRouted.searchRouted(jsonReq(qv, 5))
          require(covered, "the plain request must be memory-covered")
          val n = df.collect().length
          require(n == 5, s"covered request returned $n rows")
        }
      },
      // the burst claim measured directly: each TIMED request is a
      // COVERED search while a sustained uncovered-fallback burst runs
      // in the background through the same gate (one async fallback
      // submitted per request onto a bounded executor; beyond the bound
      // the burst sheds — the gate's queueLength signal). The row's
      // p50/p95 is therefore the covered population's latency UNDER the
      // burst: "covered traffic unharmed" as a number, not a prose claim.
      "search_json_covered_under_burst" -> { qi: Int =>
        val qv = qvecs(qi % qvecs.size)
        val req =
          s"""{"query_vector":[${qv.mkString(",")}],"columns":["vec_id"],"limit":5,"filter":{"@gte":{"vec_id":0}}}"""
        try burstPool.execute(() => {
          val (df, _) = searcherRouted.searchRouted(req)
          val n = fallbackGate.admit(spark)(df.collect()).length
          if (n != 5) System.err.println(s"[serve] burst fallback returned $n")
        })
        catch { case _: java.util.concurrent.RejectedExecutionException => () }
        val (df, covered) = searcherRouted.searchRouted(jsonReq(qv, 5))
        require(covered, "the plain request must be memory-covered")
        val n = df.collect().length
        require(n == 5, s"covered-under-burst returned $n rows")
      },
      // the same 90/10 mix with the OPTED-IN approximate fallback
      // (SemanticSearch.IvfFallback): uncovered requests probe the
      // persisted IVF layout (partition pruning) instead of paying the
      // exact flat-scan job — the knob SCALE.md names for the 10x
      // fallback tail. Covered requests still serve exactly from memory.
      "search_json_mixed_ivf" -> { qi: Int =>
        val qv = qvecs(qi % qvecs.size)
        val req =
          if (qi % 10 == 0)
            s"""{"query_vector":[${qv.mkString(",")}],"columns":["vec_id"],"limit":5,"filter":{"@gte":{"vec_id":0}}}"""
          else jsonReq(qv, 5)
        val n = searcherRoutedIvf.search(req).collect().length
        require(n == 5, s"search_json_mixed_ivf returned $n rows")
      },
      // the hybrid REQUEST front door routed: one JSON request, both legs
      // + RRF fusion job-free (the composed job-path twin is "hybrid")
      "hybrid_routed" -> { qi: Int =>
        val qv = qvecs(qi % qvecs.size)
        val terms = termSets(qi % termSets.size)
        val n = hybridDoor.search(
          s"""{"query_vector":[${qv.mkString(",")}],
             |"terms":[${terms.map("\"" + _ + "\"").mkString(",")}],
             |"limit":10,"pool_k":20}""".stripMargin).collect().length
        require(n == 10, s"hybrid_routed returned $n rows")
      },
      "ivf_probe" -> { qi: Int =>
        val n = Ann.topKIvf(index, "vec_id", "embedding", "ivf_cell", cents,
          qvecs(qi % qvecs.size), k = 5, nProbe = 2).collect().length
        require(n == 5, s"ivf_probe returned $n rows")
      },
      // the q163 surface under load: dense IVF probe + BM25 over the
      // term-partitioned postings, the LEGS CONCURRENT within the request
      // (the child thread inherits the caller's FAIR pool), fused
      // DRIVER-SIDE — both legs are k-bounded lists, and a distributed
      // join of two 20-row frames costs more in job scheduling than the
      // whole request (measured 385 ms p50 vs local fusion)
      "hybrid" -> { qi: Int =>
        @volatile var dense: Seq[(Long, Int)] = null
        // capture the leg's failure: swallowed by the default handler it
        // would surface later as an unrelated NPE in the fuse
        @volatile var denseErr: Throwable = null
        val t = new Thread(() => {
          try {
            dense = Ann.topKIvf(index, "vec_id", "embedding", "ivf_cell",
                cents, qvecs(qi % qvecs.size), k = 20, nProbe = 2)
              .select("vec_id").collect()
              .zipWithIndex.map { case (r, i) => (r.getLong(0), i + 1) }.toSeq
          } catch { case e: Throwable => denseErr = e }
        })
        t.start()
        val lex = Bm25.searchPostings(postings, "doc_id",
            termSets(qi % termSets.size), idfMap, avgdl, k = 20)
          .select("doc_id").collect()
          .zipWithIndex.map { case (r, i) => (r.getLong(0), i + 1) }.toSeq
        t.join()
        if (denseErr != null) throw denseErr
        val n = Bm25.rrfFuseLocal(Seq(dense, lex), c = 60, k = 10).length
        require(n == 10, s"hybrid returned $n rows")
      })

    final case class Level(requests: Int, failed: Int, p50: Double,
                           p95: Double, mean: Double, qps: Double,
                           wall: Double, shed: Int, republishes: Long)
    def runLevel(pname: String, fire: Int => Unit, n: Int): Level = {
      // per-(path, concurrency) shed + republish counts: a shed request
      // returns fast and is TIMED, so the row's p50/p95 is uninterpretable
      // without its refusal count — snapshot the counters around the level
      // and emit the diff in the row instead of one aggregated stderr line
      val shed0 = shedCount.get()
      val repub0 = deltaLexBounded.republishCount +
        deltaSparseBounded.republishCount + deltaBounded.republishCount
      // memory-tier requests are sub-millisecond: run 64x more of them so
      // percentiles and QPS are measured over thousands of requests, not
      // amortizing thread startup over sixteen
      val reqs = if (pname.startsWith("memory_") || pname.endsWith("_routed"))
        perThread * 64
      // mixed/admitted/burst: enough requests that the fallback tail is
      // a measured population (~50 jobs per level), without job-path
      // wall times dominating the whole bench
      else if (pname.endsWith("_mixed") || pname.endsWith("_admitted") ||
        pname.endsWith("_burst") || pname.endsWith("_shed")) perThread * 8
      else perThread
      (0 until 4).foreach(fire) // untimed warm-up: codegen + file listing
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      val t0 = System.nanoTime()
      val threads = (0 until n).map { t =>
        val th = new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"serve-$t")
          var i = 0
          while (i < reqs) {
            val s = System.nanoTime()
            try { fire(t * 7 + i); lat.add((System.nanoTime() - s) / 1e6) }
            catch { case e: Throwable =>
              // a crashed request must not vanish into a rosy percentile
              failures.incrementAndGet()
              System.err.println(s"[serve] $pname t$t req$i FAILED: ${e.getMessage}")
            }
            i += 1
          }
        })
        th.start(); th
      }
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      // the burst row's background fallbacks must not bleed into the
      // NEXT cell's measurements: drain AFTER the timed window closed
      // (latencies and wall are already fixed above)
      if (pname == "search_json_covered_under_burst")
        while (burstPool.getActiveCount > 0 || !burstPool.getQueue.isEmpty)
          Thread.sleep(50)
      val ls = lat.asScala.toIndexedSeq.sorted
      Level(ls.size, failures.get(), pct(ls, 0.50), pct(ls, 0.95),
        ls.sum / ls.size, ls.size / wall, wall,
        shed = shedCount.get() - shed0,
        republishes = deltaLexBounded.republishCount +
          deltaSparseBounded.republishCount +
          deltaBounded.republishCount - repub0)
    }
    // optional path subset (comma-separated names): re-measuring one
    // tier family at an expensive corpus scale must not pay for the
    // whole battery — the subset's cells SPLICE into the existing output
    // file below (the write path), never overwrite it
    val pathFilter = sys.env.get("SPARK_GRAFT_SERVE_PATHS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    pathFilter.foreach { want =>
      val known = paths.map(_._1).toSet
      val unknown = want -- known
      require(unknown.isEmpty, s"unknown serve paths: ${unknown.mkString(",")}")
    }
    val selected = pathFilter.fold(paths)(want => paths.filter(p => want(p._1)))
    // two temporally-separated passes, keep the lower-p50 one per level:
    // the shared host's multi-minute stall windows would otherwise read as
    // engine latency (the Bench.scala min-of-2 rationale)
    val cells = for { (pname, fire) <- selected; n <- levels } yield (pname, fire, n)
    // the burst generator's CORE threads are non-daemon and never time
    // out — without the shutdown the JVM survives main() on
    // DestroyJavaVM and the bench process hangs after printing its
    // result line (or, on the failure path, after the exception)
    val (pass1, pass2) =
      try (cells.map { case (p, f, n) => runLevel(p, f, n) },
        cells.map { case (p, f, n) => runLevel(p, f, n) })
      finally burstPool.shutdown()
    val results = cells.zip(pass1.zip(pass2)).map { case ((pname, _, n), (a, b)) =>
      val r = if (a.failed == b.failed) { if (a.p50 <= b.p50) a else b }
              else if (a.failed < b.failed) a else b
      // shed/republishes only where the mechanism exists (keeps every
      // other row's schema unchanged) — the kept pass's counts, so the
      // refusal rate interprets the same percentiles it shipped with
      val extra =
        (if (pname.endsWith("_shed")) s""","shed":${r.shed}""" else "") +
          (if (pname.startsWith("memory_delta_"))
            s""","republishes":${r.republishes}""" else "")
      f"""{"path":"$pname","concurrency":$n,"requests":${r.requests},"failed":${r.failed},"p50_ms":${r.p50}%.1f,"p95_ms":${r.p95}%.1f,"mean_ms":${r.mean}%.1f,"qps":${r.qps}%.1f,"wall_s":${r.wall}%.2f$extra}"""
    }

    val line =
      s"""{"metric":"serve_bench","sf":"$sfDir","docs":$nDocs,"dim":$dim,"replicas":$repl,"per_thread_requests":$perThread,"cpus":${GraftSession.cpus},"results":[${results.mkString(",")}]}"""
    println(line)
    // a PATH-SUBSET run must not clobber the full battery file (the
    // FullScaleBench rule): splice the re-measured paths' cells into the
    // existing results array, keeping every other path's cells. The
    // splice is structural (JsonSplice depth scan), never regex.
    val outPath = java.nio.file.Paths.get(outFile)
    val out =
      if (pathFilter.isDefined && java.nio.file.Files.exists(outPath)) {
        val want = pathFilter.get
        val prev = java.nio.file.Files.readString(outPath).trim
        val prevCells = graft.tools.JsonSplice.elementsOf(
          graft.tools.JsonSplice.member(prev, "results")
            .getOrElse(sys.error(s"$outFile has no \"results\" member")))
        def pathOf(cell: String): String =
          graft.tools.JsonSplice.member(cell, "path")
            .getOrElse(sys.error(s"cell without path: ${cell.take(60)}"))
            .stripPrefix("\"").stripSuffix("\"")
        val kept = prevCells.filterNot(c => want(pathOf(c)))
        val mergedResults = graft.tools.JsonSplice.emitArray(kept ++ results)
        graft.tools.JsonSplice.emitObject(
          graft.tools.JsonSplice.membersOf(prev).map {
            case ("results", _) => "results" -> mergedResults
            case kv => kv
          })
      } else line
    try java.nio.file.Files.writeString(outPath, out + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
