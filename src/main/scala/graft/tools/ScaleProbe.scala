package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.GraftSession

/** 10x-scale probe: replicates the sf0.1 tables into a MULTI-FILE corpus
  * (disjoint id ranges per shard) and times the shuffle-heavy operator
  * families on it. Two things the gate-scale runs cannot show:
  *
  *  1. multi-file scans split across cores by themselves — the explicit
  *     `rdPar` rebalances the single-row-group testdata needs become
  *     no-ops, which is the claim SCALE.md makes about real corpora;
  *  2. near-linear scaling of the pair/dedup/component pipelines: the
  *     blocked/bucketed joins grow with corpus size, not its square —
  *     pair counts multiply by the shard count (disjoint ids keep shard
  *     cluster structure), so seconds-per-pair should hold or improve.
  *
  * Usage: runMain graft.tools.ScaleProbe [baseSfDir] [shards] [workDir] [op...]
  * (trailing op names filter the run — local iteration aid)
  * Prints one JSON line of per-op wall seconds at 1x and Nx.
  */
object ScaleProbe {

  /** Click intervals with every start collapsed onto one 1970-01-01 "hot
    * day" (time-of-day preserved): the worst-case span for time-bucketed
    * operators — maximum rows, minimum distinct buckets.
    */
  private def hotDayIntervals(e: DataFrame): DataFrame =
    e.where(col("event_type") === "click")
      .select(timestamp_micros(pmod(unix_micros(col("ts")),
        lit(86400000000L))).as("s"))
      .withColumn("e", col("s") + expr("INTERVAL 1 HOUR"))

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val shards = if (args.length > 1) args(1).toInt else 10
    val workDir = if (args.length > 2) args(2) else "/tmp/graft-scale10"
    val spark = GraftSession.getOrCreate()

    // ---- build the sharded corpus (once; reuse across runs). The marker
    // file records a COMPLETED build at this shard count AND base corpus —
    // a crashed, re-parameterized, or re-based earlier run must rebuild,
    // not silently time a stale/partial corpus under a 10x label.
    val docsPath = s"$workDir/documents"
    val embPath = s"$workDir/embeddings"
    val baseTag = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(baseDir))
    // BUILT2: the marker name versions the corpus LAYOUT — round 7 added
    // the events replica inside this guarded block, so a workDir built by
    // an earlier round (marker present, events dir absent) must rebuild,
    // not crash at the events read below
    val marker = new java.io.File(s"$workDir/_BUILT2_${shards}_$baseTag")
    def deleteRec(f: java.io.File): Unit = if (f.exists()) {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(): Unit
    }
    if (!marker.exists()) {
      deleteRec(new java.io.File(workDir))
      // per-shard ids shift by (max id + 1), NOT the row count: in a sparse
      // id space (max >= count) a count stride would collide ids across
      // shards, and exact-dedup would then collapse real rows — silently
      // deflating the very Nx numbers the probe exists to measure
      val docs = spark.read.parquet(s"$baseDir/documents.parquet")
      val docStride = docs.agg(max("doc_id")).head().getLong(0) + 1
      (0 until shards).foreach { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * docStride))
          .coalesce(1).write.mode("append").parquet(docsPath)
      }
      val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
      val embStride = emb.agg(max("vec_id")).head().getLong(0) + 1
      (0 until shards).foreach { i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i * embStride))
          .coalesce(1).write.mode("append").parquet(embPath)
      }
      // events: disjoint event ids AND disjoint users per shard — the
      // time-series ops' scale axis is key cardinality, so an Nx corpus
      // must mean Nx users over the same time range (more keys, not
      // longer history)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = graft.SparkEntry.canonTs(
        spark.read.parquet(s"$baseDir/events.parquet"))
      val evStride = ev.agg(max("event_id")).head().getLong(0) + 1
      val userStride = ev.agg(max("user_id")).head().getLong(0) + 1
      (0 until shards).foreach { i =>
        ev.withColumn("event_id", col("event_id") + lit(i * evStride))
          .withColumn("user_id", col("user_id") + lit(i * userStride))
          .coalesce(1).write.mode("append").parquet(s"$workDir/events")
      }
      marker.createNewFile()
    }

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // ONE execution: the row count rides the noop write as an observed
    // metric (a separate df.count() would run the whole pipeline twice)
    def noopCount(df: DataFrame): Long = {
      val obs = new org.apache.spark.sql.Observation
      df.observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      obs.get("n").asInstanceOf[Long]
    }

    val big = spark.read.parquet(docsPath)
    val bigEmb = spark.read.parquet(embPath)
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val baseEmb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val qv = baseEmb.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)

    import graft.operators.{Components, Decontaminate, Dedup, Sampling, TextAnalysis, Ann}
    val ops: Seq[(String, (DataFrame, DataFrame) => Long)] = Seq(
      "scan_partitions" -> ((d, _) => d.rdd.getNumPartitions.toLong),
      "exact_dedup" -> ((d, _) => noopCount(Dedup.exactDedup(d, "doc_id", "text"))),
      "jaccard_prefix_090" -> ((d, _) => noopCount(Dedup.jaccardPairs(
        d, "doc_id", "text", Seq("lang", "source"), n = 1, threshold = 0.9))),
      "minhash_lsh_pairs" -> ((d, _) => noopCount(Dedup.minHashLshPairs(
        d, "doc_id", "text", numHashes = 16, bands = 2))),
      "components" -> { (d, _) =>
        val pairs = Dedup.jaccardPairs(d, "doc_id", "text",
          Seq("lang", "source"), n = 1, threshold = 0.9).select("id_a", "id_b")
        noopCount(Components.componentStats(pairs, d.select("doc_id"), "doc_id"))
      },
      "decontaminate" -> { (d, _) =>
        val bench = d.where(col("source") === "src19")
        val corpus = d.where(col("source") =!= "src19")
        noopCount(Decontaminate.contaminatedIds(corpus, bench, "doc_id", "text", n = 4))
      },
      "curate_battery" -> ((d, _) => noopCount(Sampling.splitAssign(
        TextAnalysis.profile(d, "text"), "doc_id",
        Seq("train" -> 0.875, "val" -> 0.0625, "test" -> 0.0625)))),
      "ann_topk" -> ((_, e) => noopCount(
        Ann.topK(e.where(col("vec_id") =!= 0), "vec_id", "embedding", qv, 10))),
      // round-5 continuation families: per-row array math (repetition),
      // shared-exchange tf/df ranking (keywords), bounded pair expansion
      // (overlap). Expected shapes: repetition ~linear map-only; keywords
      // ~linear (one gram shuffle + broadcast df); overlap key-bounded.
      "repetition" -> ((d, _) => noopCount(
        TextAnalysis.repetitionMetrics(d, "doc_id", "text"))),
      "keywords_topk" -> ((d, _) => noopCount(
        graft.operators.Keywords.topTerms(d, "doc_id", "text", k = 3))),
      "source_overlap" -> ((d, _) => noopCount(Dedup.overlapMatrix(
        d.select(explode(Dedup.wordNgrams(col("text"), 4)).as("gram"),
          col("source")),
        "gram", "source"))),
      "quality_gate_topfrac" -> { (d, _) =>
        val scored = d.select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(TextAnalysis.qualityMetrics(col("text"))).as("q"))
        noopCount(graft.operators.Gate.topFraction(scored, "source", "q", 0.75))
      },
      // round-6 families. editdist_routed: the q-gram candidate path —
      // on this replica-dense corpus the pair set itself grows ~shards^2
      // inside replica clusters (the same exact-dedup-first lesson as
      // LSH), so the claim to check is seconds tracking the EMITTED pair
      // count, not corpus^2. repeated_spans: one positional-gram shuffle
      // + in-row island math — expected ~linear in corpus tokens.
      "editdist_routed" -> ((d, _) => noopCount(Dedup.editDistancePairs(
        d, "doc_id", "text", Seq("lang", "source"), prefixLen = 64, maxDist = 8))),
      "repeated_spans" -> ((d, _) => noopCount(
        graft.operators.Spans.repeatedSpanStats(d, "doc_id", "text",
          k = 6, minDocs = 2))),
      // bloom_decontaminate: the corpus-side cost is the map-side
      // might_contain scan + a near-hit-bounded verify shuffle — expected
      // ~linear in corpus grams with a flat sketch-build prefix.
      // vocab_sketch: one-pass MG buffers, per-doc rollup the only
      // corpus-keyed shuffle — expected ~linear, no token exchange.
      "bloom_decontaminate" -> { (d, _) =>
        val bench = d.where(col("source") === "src18")
        val corpus = d.where(col("source") =!= "src18")
        noopCount(graft.operators.Decontaminate.decontaminateBloom(
          corpus, bench, "doc_id", "text", n = 5, expectedItems = 1L << 18))
      },
      "vocab_sketch" -> ((d, _) => noopCount(
        graft.operators.Vocab.oovStatsApprox(d, "doc_id", "text",
          v = 20, capacity = 1024))),
      // round-6 second wave. token_chunks: map-side explode whose OUTPUT
      // multiplies by ~(1 + overlap/stride) — expected ~linear in corpus
      // tokens, cost tracking emitted chunks. pii_scrub: three regex
      // counts + three rewrites in one codegen'd projection — the pure
      // scan-bound rewrite, the most linear thing in the suite.
      // group_heavy_hitters: per-group MG buffers — the token stream
      // never shuffles, so Nx cost is the scan plus a flat sketch merge.
      "token_chunks" -> ((d, _) => noopCount(
        graft.operators.Chunk.tokenWindows(d, "doc_id", "text",
          size = 32, stride = 24))),
      "pii_scrub" -> ((d, _) => noopCount(
        graft.operators.Pii.scrub(d, "text"))),
      "group_heavy_hitters" -> ((d, _) => noopCount(
        graft.operators.Vocab.heavyHittersByGroup(d, "source", "text",
          k = 5, capacity = 1024))),
      // round-7 families. bigram_rarity: two gram-keyed count shuffles +
      // the scoring joins — expected ~linear in corpus tokens (the count
      // tables grow sub-linearly on a replica corpus). inverted_postings:
      // bounded heaps per term — linear scan, k-row partials.
      "bigram_rarity" -> ((d, _) => noopCount(
        graft.operators.LmScore.bigramRarity(d, "doc_id", "text"))),
      "inverted_postings" -> ((d, _) => noopCount(
        graft.operators.Vocab.topPostings(d, "doc_id", "text", k = 5)))
    )
    // events-keyed round-7 families: Nx = Nx USERS over the same range.
    // resample_ffill: per-key windows (more keys = more parallelism, same
    // per-key work). sweep_concurrency: bucket count FIXED by the time
    // range — the two-level prefix's driver leg must stay flat while the
    // distributed legs scale with rows.
    val evOps: Seq[(String, DataFrame => Long)] = Seq(
      "resample_ffill" -> (e => noopCount(graft.operators.Resample
        .ffillGrid(e, "user_id", "ts", "value", stepMinutes = 60))),
      "sweep_concurrency" -> { e =>
        val iv = e.where(col("event_type") === "click")
          .select(col("ts").as("s"),
            (col("ts") + expr("INTERVAL 1 HOUR")).as("e"))
        noopCount(graft.operators.Sweep.maxConcurrency(iv, "s", "e"))
      },
      // PATHOLOGICAL span for the Sweep bucket-width knob
      // (operators/Sweep.scala:34-36): every event collapsed onto ONE hot
      // day. At the default day-wide bucket the whole sweep lands in a
      // single window partition — the exact single-task shape the
      // two-level design exists to avoid; narrowing the knob to 1 hour
      // rebalances it across ~25 buckets (the driver prefix-sum stays a
      // 25-row collect). The MEASURED claim: narrow ~flat as rows grow Nx,
      // wide degrading toward single-task behavior.
      "sweep_hotday_wide" -> { e =>
        val iv = hotDayIntervals(e)
        noopCount(graft.operators.Sweep.maxConcurrency(iv, "s", "e",
          bucketUs = 86400000000L))
      },
      "sweep_hotday_narrow" -> { e =>
        val iv = hotDayIntervals(e)
        noopCount(graft.operators.Sweep.maxConcurrency(iv, "s", "e",
          bucketUs = 3600000000L))
      }
    )

    val baseEv = graft.SparkEntry.canonTs(
      spark.read.parquet(s"$baseDir/events.parquet"))
    val bigEv = spark.read.parquet(s"$workDir/events")
    val only = args.drop(3).toSet
    def keep(name: String): Boolean = only.isEmpty || only(name)
    val results = ops.filter(o => keep(o._1)).map { case (name, f) =>
      f(base, baseEmb) // untimed warm-up: JIT + codegen + shuffle setup,
                       // else the 1x-first ordering biases toward "Nx faster"
      val (t1x, n1x) = time(f(base, baseEmb))
      val (tNx, nNx) = time(f(big, bigEmb))
      (name, t1x, n1x, tNx, nNx)
    } ++ evOps.filter(o => keep(o._1)).map { case (name, f) =>
      f(baseEv)
      val (t1x, n1x) = time(f(baseEv))
      val (tNx, nNx) = time(f(bigEv))
      (name, t1x, n1x, tNx, nNx)
    }
    val js = results.map { case (n, t1, c1, tN, cN) =>
      f""""$n":{"sec_1x":$t1%.2f,"rows_1x":$c1,"sec_${shards}x":$tN%.2f,"rows_${shards}x":$cN}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","shards":$shards,"ops":$js}""")
    spark.stop()
  }
}
