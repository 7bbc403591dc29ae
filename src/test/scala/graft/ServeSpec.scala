package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.scheduler.SchedulingMode
import org.apache.spark.sql.functions._

import graft.api.SemanticSearch
import graft.embed.HashingTfEmbedder

/** Serving-concurrency contracts behind `graft.bench.ServeBench`: FAIR
  * scheduler pools isolate request streams, so a search does not queue
  * FIFO behind an unrelated bulk job's whole task backlog.
  */
class ServeSpec extends SparkSpec {
  import spark.implicits._

  test("FAIR pools: a search in its own pool overtakes a running bulk job") {
    val sc = spark.sparkContext
    assert(sc.getSchedulingMode == SchedulingMode.FAIR,
      s"session must run the FAIR scheduler, got ${sc.getSchedulingMode}")

    val index = Seq.tabulate(64)(i =>
        (i.toLong, s"doc$i", Array.tabulate(8)(j => (i * 8 + j) / 512f)))
      .toDF("ID", "EMBED_STR", "EMBEDDING")
    val searcher = new SemanticSearch(index, HashingTfEmbedder(8))

    // bulk: 64 short tasks on 4 cores ≈ 16 waves. Under FIFO a search
    // submitted later would wait for ALL of them; under FAIR its pool
    // gets slots as the next wave frees.
    val bulkDone = new AtomicBoolean(false)
    val bulkWall = new java.util.concurrent.atomic.AtomicLong(0L)
    val t0 = System.nanoTime()
    val bulk = new Thread(() => {
      sc.setLocalProperty("spark.scheduler.pool", "bulk")
      spark.range(64).repartition(64)
        .mapPartitions { it => Thread.sleep(300); it }
        .write.format("noop").mode("overwrite").save()
      bulkWall.set(System.nanoTime() - t0)
      bulkDone.set(true)
    })
    bulk.start()
    Thread.sleep(500) // let the bulk job occupy the cluster first

    sc.setLocalProperty("spark.scheduler.pool", "serve")
    try {
      val s0 = System.nanoTime()
      val got = searcher.topK("doc7", k = 3).collect()
      val serveNanos = System.nanoTime() - s0
      val doneWhenServed = bulkDone.get()
      bulk.join(120000)
      assert(got.length == 3)
      // the sharp FIFO counterfactual: the search must finish well before
      // the bulk backlog drains (FIFO would serialize it after ~16 waves)
      assert(!doneWhenServed,
        "bulk finished before the search — contention never happened, the assertion is vacuous")
      assert(serveNanos < bulkWall.get() / 2,
        f"search took ${serveNanos / 1e9}%.2f s vs bulk ${bulkWall.get() / 1e9}%.2f s — not isolated")
      // both pools actually materialized in the scheduler
      assert(sc.getPoolForName("bulk").isDefined && sc.getPoolForName("serve").isDefined)
    } finally {
      sc.setLocalProperty("spark.scheduler.pool", null)
      bulk.join(120000)
    }
  }

  // ---- memory serving tier: the job-free runtime must return exactly
  // what the DataFrame path returns — same rows, same order, same score
  // BITS — or it is a different engine wearing the same API.

  private lazy val annCorpus = Seq.tabulate(300)(i =>
    (i.toLong, Seq.tabulate(8)(j => math.sin(i * 13 + j * 7).toFloat)))
    .toDF("vec_id", "embedding")
  private lazy val annCents =
    graft.operators.Ann.sampleCentroids(annCorpus, "vec_id", "embedding", 4)
  private lazy val annAssigned = graft.operators.Ann
    .withIvfAssignment(annCorpus, "embedding", annCents)
    .localCheckpoint(true)
  private lazy val annQueries = Seq.tabulate(5)(qi =>
    Seq.tabulate(8)(j => math.cos(qi * 5 + j * 3).toFloat))

  test("memory dense tier: exact and IVF top-k == DataFrame path bit-for-bit") {
    val mem = graft.serve.MemoryAnnIndex.fromDataFrame(
      annAssigned, "vec_id", "embedding", "ivf_cell", annCents)
    assert(mem.size == 300 && mem.nCells == 4 && mem.dim == 8)
    annQueries.foreach { q =>
      val wantExact = graft.operators.Ann
        .topK(annAssigned, "vec_id", "embedding", q, 7)
        .select("vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(mem.topK(q, 7) == wantExact, s"exact mismatch for query $q")
      val wantIvf = graft.operators.Ann
        .topKIvf(annAssigned, "vec_id", "embedding", "ivf_cell", annCents,
          q, k = 7, nProbe = 2)
        .select("vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(mem.topKIvf(q, 7, nProbe = 2) == wantIvf,
        s"ivf mismatch for query $q")
    }
  }

  private lazy val lexDocs = Seq.tabulate(60)(i =>
    (i.toLong, Seq.tabulate(5 + i % 7)(j =>
      Seq("dup", "vector", "scan", "hash", "query", "join")((i + j) % 6))
      .mkString(" ")))
    .toDF("doc_id", "text")

  test("memory lexical tier: BM25 top-k == searchPostings bit-for-bit") {
    import graft.operators.Bm25
    val postings = Bm25.buildPostings(lexDocs, "doc_id", "text")
      .localCheckpoint(true)
    val stats = lexDocs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(sum("dl"), count(lit(1))).head()
    val avgdl = stats.getLong(0).toDouble / stats.getLong(1).toDouble
    val dfMap = postings.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idfMap = Bm25.idfByTerm(dfMap, stats.getLong(1), spark)
    val mem = graft.serve.MemoryPostingsIndex.fromDataFrame(
      postings, "doc_id", idfMap, avgdl)
    Seq(Seq("dup", "vector"), Seq("scan"), Seq("hash", "join", "query"))
      .foreach { terms =>
        val want = Bm25.searchPostings(postings, "doc_id", terms, idfMap,
            avgdl, k = 10)
          .select("doc_id", "score").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(mem.search(terms, 10) == want, s"lexical mismatch for $terms")
      }
    // wholly-unknown query: empty on BOTH tiers, not an error
    assert(mem.search(Seq("zzzz"), 10).isEmpty)
    assert(Bm25.searchPostings(postings, "doc_id", Seq("zzzz"), idfMap,
      avgdl, k = 10).collect().isEmpty)
  }

  // ---- WAND dynamic pruning: same bits as the exhaustive scan, fewer
  // evaluations. Parity is the contract — pruning that changes ANY bit
  // of the answer is a different ranking function.

  /** Postings frame straight from (id, term, tf, dl) rows — the memory
    * tier only needs the relation shape, not the text pipeline.
    */
  private def postingsOf(rows: Seq[(Long, String, Long, Long)]) =
    rows.toDF("doc_id", "term", "tf", "dl")

  test("WAND: skewed corpus — bit-identical to exhaustive, evaluates a fraction") {
    // 505 docs of only the common term + 5 docs that also carry a rare
    // term — three at the head (so the heap fills with rare-doc scores
    // and θ jumps above the common term's upper bound immediately) and
    // two mid-stream (so the common cursor must SEEK over the gaps, not
    // just terminate)
    val common = (0L until 505L).map(id => (id, "common", 1L + id % 3, 10L))
    val rare = Seq(0L, 1L, 2L, 250L, 400L).map(id => (id, "rare", 1L, 10L))
    val idfMap = Map("common" -> 0.01, "rare" -> 5.0)
    val mem = graft.serve.MemoryPostingsIndex.fromDataFrame(
      postingsOf(common ++ rare), "doc_id", idfMap, avgdl = 10.0)
    val (got, evaluated, skipped) = mem.searchWandCounted(Seq("common", "rare"), 3)
    assert(got == mem.search(Seq("common", "rare"), 3))
    assert(evaluated <= 10,
      s"WAND evaluated $evaluated of 505 docs — pruning never engaged")
    assert(skipped >= 350, s"only $skipped postings skipped")
  }

  test("WAND: randomized parity against the exhaustive scan (bits, order, ties)") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    for (iter <- 1 to 25) {
      val nDocs = 20 + rnd.nextInt(60)
      val rows = (0L until nDocs.toLong).flatMap { id =>
        val dl = 5L + rnd.nextInt(20)
        val terms = rnd.shuffle(vocab).take(1 + rnd.nextInt(5))
        terms.map(t => (id, t, 1L + rnd.nextInt(4).toLong, dl))
      }
      val idfMap = vocab.map(t => t -> (0.05 + rnd.nextDouble() * 4.0)).toMap
      val mem = graft.serve.MemoryPostingsIndex.fromDataFrame(
        postingsOf(rows), "doc_id", idfMap, avgdl = 12.0)
      val q = rnd.shuffle(vocab :+ "unknown").take(1 + rnd.nextInt(4))
      val k = 1 + rnd.nextInt(15)
      assert(mem.searchWand(q, k) == mem.search(q, k),
        s"iter $iter: WAND diverged for q=$q k=$k")
    }
  }

  test("WAND: identical docs tie on score and keep ascending-id order") {
    // 30 clones → 30 identical scores; the top-k must be ids 0..k-1
    val rows = (0L until 30L).flatMap(id =>
      Seq((id, "x", 2L, 8L), (id, "y", 1L, 8L)))
    val mem = graft.serve.MemoryPostingsIndex.fromDataFrame(
      postingsOf(rows), "doc_id", Map("x" -> 1.5, "y" -> 0.7), avgdl = 8.0)
    val got = mem.searchWand(Seq("x", "y"), 5)
    assert(got == mem.search(Seq("x", "y"), 5))
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(got.map(_._2).distinct.size == 1)
  }

  test("WAND contracts: k<=0 and unknown-only queries return empty") {
    val mem = graft.serve.MemoryPostingsIndex.fromDataFrame(
      postingsOf(Seq((0L, "x", 1L, 4L))), "doc_id", Map("x" -> 1.0), avgdl = 4.0)
    assert(mem.searchWand(Seq("x"), 0).isEmpty)
    assert(mem.searchWand(Seq("zzzz"), 5).isEmpty)
  }

  test("memory hybrid == IVF leg + postings leg fused with rrfFuseLocal") {
    import graft.operators.Bm25
    // ids overlap by construction: both tiers serve the SAME 0..59 id
    // space so the fusion genuinely merges
    val emb = lexDocs.select(col("doc_id").as("vec_id")).limit(60)
      .withColumn("embedding",
        transform(sequence(lit(0), lit(7)),
          j => sin(col("vec_id") * lit(13) + j * lit(7)).cast("float")))
    val cents = graft.operators.Ann.sampleCentroids(emb, "vec_id", "embedding", 3)
    val assigned = graft.operators.Ann
      .withIvfAssignment(emb, "embedding", cents).localCheckpoint(true)
    val postings = Bm25.buildPostings(lexDocs, "doc_id", "text")
      .localCheckpoint(true)
    val stats = lexDocs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(sum("dl"), count(lit(1))).head()
    val avgdl = stats.getLong(0).toDouble / stats.getLong(1).toDouble
    val dfMap = postings.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idfMap = Bm25.idfByTerm(dfMap, stats.getLong(1), spark)
    val server = new graft.serve.MemoryServer(
      graft.serve.MemoryAnnIndex.fromDataFrame(
        assigned, "vec_id", "embedding", "ivf_cell", cents),
      Some(graft.serve.MemoryPostingsIndex.fromDataFrame(
        postings, "doc_id", idfMap, avgdl)),
      defaultNProbe = 2)
    val q = annQueries.head
    val terms = Seq("dup", "scan")
    // the Spark-path composition ServeBench uses
    val denseLeg = graft.operators.Ann
      .topKIvf(assigned, "vec_id", "embedding", "ivf_cell", cents, q,
        k = 20, nProbe = 2)
      .select("vec_id").collect()
      .zipWithIndex.map { case (r, i) => (r.getLong(0), i + 1) }.toSeq
    val lexLeg = Bm25.searchPostings(postings, "doc_id", terms, idfMap,
        avgdl, k = 20)
      .select("doc_id").collect()
      .zipWithIndex.map { case (r, i) => (r.getLong(0), i + 1) }.toSeq
    val want = Bm25.rrfFuseLocal(Seq(denseLeg, lexLeg), c = 60, k = 10)
    assert(server.searchHybrid(q, terms, k = 10, poolK = 20) == want)
  }

  test("memory convex-fusion hybrid == batch legs + normFuseLocal bit-for-bit") {
    import graft.operators.{Ann, Bm25}
    val docs = Seq(
      (0L, "dup dup stream fast"), (1L, "vector stream join"),
      (2L, "dup vector vector scan"), (3L, "stream query dup"),
      (4L, "query scan hash")).toDF("doc_id", "text")
    val postings = Bm25.buildPostings(docs, "doc_id", "text").localCheckpoint(true)
    val stats = docs.select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(sum("dl"), count(lit(1))).head()
    val avgdl = stats.getLong(0).toDouble / stats.getLong(1).toDouble
    val dfMap = postings.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idfMap = Bm25.idfByTerm(dfMap, stats.getLong(1), spark)
    val mem = graft.serve.MemoryAnnIndex.fromDataFrame(
      annAssigned, "vec_id", "embedding", "ivf_cell", annCents)
    val server = new graft.serve.MemoryServer(mem,
      Some(graft.serve.MemoryPostingsIndex.fromDataFrame(
        postings, "doc_id", idfMap, avgdl)))
    annQueries.foreach { qv =>
      val d = Ann.topK(annAssigned, "vec_id", "embedding", qv, 12)
        .select("vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val l = Bm25.searchPostings(postings, "doc_id", Seq("dup", "query"),
          idfMap, avgdl, k = 12)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = Bm25.normFuseLocal(Seq((d, 0.6), (l, 0.4)), k = 7)
      assert(server.searchHybridNorm(qv, Seq("dup", "query"), k = 7,
        poolK = 12) == want, s"norm-fusion hybrid drifted for $qv")
    }
  }

  test("MemoryServer JSON request path: query_vector in, ranked ids out") {
    val mem = graft.serve.MemoryAnnIndex.fromDataFrame(
      annAssigned, "vec_id", "embedding", "ivf_cell", annCents)
    val server = new graft.serve.MemoryServer(mem, None)
    val q = annQueries.head
    val resp = server.search(
      s"""{"query_vector":[${q.mkString(",")}],"limit":3}""")
    val want = mem.topK(q, 3)
    val wantJson = want.map { case (id, s) =>
      s"""{"id":"$id","score":"$s"}""" }.mkString(",")
    assert(resp == s"""{"results":[$wantJson]}""")
    // text queries belong to the embedder-backed DataFrame tier
    intercept[IllegalArgumentException] {
      server.search("""{"query":"free text"}""")
    }
  }

  test("memory SQ8 tier: prune-and-rerank == Quantize.topKSq8 bit-for-bit; byte packing lossless") {
    import graft.operators.Quantize
    val staged = Quantize.withSq8(annCorpus, "embedding").localCheckpoint(true)
    val mem = graft.serve.MemorySq8Index.fromDataFrame(staged, "vec_id", "embedding")
    assert(mem.size == 300 && mem.dim == 8)
    annQueries.foreach { q =>
      val want = Quantize.topKSq8(staged, "vec_id", "embedding", q,
          k = 7, rerankFactor = 3)
        .select("vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(mem.topK(q, 7, rerankFactor = 3) == want,
        s"sq8 rerank mismatch for query $q")
    }
    // the approx-only (compressed, no floats) deployment: same candidate
    // ORDER as the staged approximate column — byte packing lost nothing
    val q = annQueries(2)
    val approx = mem.topKApprox(q, 12)
    val qd = q.map(_.toDouble)
    val sq = qd.foldLeft(0.0)(_ + _)
    val qn = math.sqrt(qd.foldLeft(0.0)((a, x) => a + x * x))
    val want = staged
      .select("vec_id", "codes", "mn", "scale", "csum", "csum2").collect()
      .map { r =>
        val cs = r.getSeq[Int](1)
        val mn = r.getDouble(2); val s = r.getDouble(3)
        var qdot = 0.0
        var j = 0
        while (j < cs.length) { qdot += qd(j) * cs(j).toDouble; j += 1 }
        val num = mn * sq + s * qdot
        val den = math.sqrt(8.0 * mn * mn + 2.0 * mn * s * r.getDouble(4) +
          s * s * r.getDouble(5)) * qn
        (r.getLong(0), num / den)
      }.sortBy { case (id, sc) => (-sc, id) }.take(12).toSeq
    assert(approx == want, "approx-only scores drifted from the staged algebra")
    // approx-only index refuses exact rerank instead of lying
    val approxOnly = graft.serve.MemorySq8Index
      .fromDataFrameApproxOnly(staged, "vec_id")
    intercept[RuntimeException] { approxOnly.topK(q, 5) }
    assert(approxOnly.topKApprox(q, 5) == approx.take(5))
  }

  test("memory metadata filters: pre-filter == DataFrame WHERE; JSON @and/@eq/@gte/@lte path") {
    import graft.serve.{MemoryAnnIndex, MemoryServer, MetaFilter}
    val tagged = annAssigned.withColumn("grp",
      pmod(col("vec_id"), lit(7)).cast("int")).localCheckpoint(true)
    val mem = MemoryAnnIndex.fromDataFrame(tagged, "vec_id", "embedding",
      "ivf_cell", annCents, metaCols = Seq("grp"))
    val q = annQueries(3)
    // conjunction of a range and the DataFrame twin
    val want = graft.operators.Ann
      .topK(tagged.where(col("grp") >= 2 && col("grp") <= 4),
        "vec_id", "embedding", q, 6)
      .select("vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = mem.topK(q, 6, Seq(MetaFilter("grp", 2, 4)))
    assert(got == want, "filtered memory scan != DataFrame WHERE")
    got.foreach { case (id, _) => assert(id % 7 >= 2 && id % 7 <= 4) }
    // the JSON request path parses the Method-1 numeric DSL subset
    val server = new MemoryServer(mem, None)
    val resp = server.search(
      s"""{"query_vector":[${q.mkString(",")}],"limit":6,
         |"filter":{"@and":[{"@gte":{"grp":2}},{"@lte":{"grp":4}}]}}""".stripMargin)
    val wantJson = got.map { case (id, s) =>
      s"""{"id":"$id","score":"$s"}""" }.mkString(",")
    assert(resp == s"""{"results":[$wantJson]}""")
    // @eq form; and an unloaded column is an explicit error, not a no-op
    assert(mem.topK(q, 3, Seq(MetaFilter("grp", 3, 3)))
      .forall(_._1 % 7 == 3))
    intercept[RuntimeException] {
      mem.topK(q, 3, Seq(MetaFilter("nope", 0, 1)))
    }
  }

  test("string metadata: dictionary encoding, JSON string @eq, unseen value = empty not error") {
    import graft.serve.{MemoryAnnIndex, MemoryServer}
    val tagged = annAssigned.withColumn("cat",
        concat(lit("cat"), pmod(col("vec_id"), lit(3)).cast("string")))
      .localCheckpoint(true)
    val mem = MemoryAnnIndex.fromDataFrame(tagged, "vec_id", "embedding",
      "ivf_cell", annCents, metaCols = Seq("cat"))
    val q = annQueries(4)
    val want = graft.operators.Ann
      .topK(tagged.where(col("cat") === "cat1"), "vec_id", "embedding", q, 5)
      .select("vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = mem.topK(q, 5, Seq(mem.stringFilter("cat", "cat1")))
    assert(got == want)
    got.foreach { case (id, _) => assert(id % 3 == 1) }
    // the notebook's request shape end-to-end
    val server = new MemoryServer(mem, None)
    val resp = server.search(
      s"""{"query_vector":[${q.mkString(",")}],"limit":5,
         |"filter":{"@eq":{"cat":"cat1"}}}""".stripMargin)
    val wantJson = got.map { case (id, s) =>
      s"""{"id":"$id","score":"$s"}""" }.mkString(",")
    assert(resp == s"""{"results":[$wantJson]}""")
    // a category with no docs is an ordinary empty result
    assert(mem.topK(q, 5, Seq(mem.stringFilter("cat", "catX"))).isEmpty)
    // a non-dictionary column is an explicit error
    intercept[RuntimeException] { mem.stringFilter("vec_id", "1") }
  }

  test("DNF filters: @or/@ne/@contains requests == DataFrame WHERE bit-for-bit") {
    import graft.serve.{MemoryAnnIndex, MemoryServer}
    val tagged = annAssigned
      .withColumn("cat",
        concat(lit("cat"), pmod(col("vec_id"), lit(3)).cast("string")))
      .withColumn("grp", pmod(col("vec_id"), lit(7)).cast("int"))
      .localCheckpoint(true)
    val mem = MemoryAnnIndex.fromDataFrame(tagged, "vec_id", "embedding",
      "ivf_cell", annCents, metaCols = Seq("cat", "grp"))
    val server = new MemoryServer(mem, None)
    val q = annQueries(2)
    def wantWhere(p: org.apache.spark.sql.Column, k: Int) =
      graft.operators.Ann.topK(tagged.where(p), "vec_id", "embedding", q, k)
        .select("vec_id", "score").collect()
        .map(r => s"""{"id":"${r.getLong(0)}","score":"${r.getDouble(1)}"}""")
        .mkString("""{"results":[""", ",", "]}")
    def req(filter: String, k: Int) = server.search(
      s"""{"query_vector":[${q.mkString(",")}],"limit":$k,"filter":$filter}""")
    // the notebook Q3 shape: @and[@eq, @or[@eq, @eq]]
    assert(req("""{"@and":[{"@eq":{"cat":"cat1"}},
                 |{"@or":[{"@eq":{"grp":2}},{"@eq":{"grp":5}}]}]}""".stripMargin, 6)
      == wantWhere(col("cat") === "cat1" && (col("grp") === 2 || col("grp") === 5), 6))
    // @ne numeric (two ranges) and string (code-resolved)
    assert(req("""{"@ne":{"grp":3}}""", 7)
      == wantWhere(col("grp") =!= 3, 7))
    assert(req("""{"@and":[{"@ne":{"cat":"cat0"}},{"@gte":{"grp":4}}]}""", 6)
      == wantWhere(col("cat") =!= "cat0" && col("grp") >= 4, 6))
    // @ne of an UNSEEN string value excludes nothing
    assert(req("""{"@ne":{"cat":"catX"}}""", 5)
      == wantWhere(lit(true), 5))
    // @contains resolves through the dictionary ("at1" matches cat1 only)
    assert(req("""{"@contains":{"cat":"at1"}}""", 5)
      == wantWhere(col("cat").contains("at1"), 5))
    // @contains with no dictionary match = ordinary empty result
    assert(req("""{"@contains":{"cat":"zzz"}}""", 5) == """{"results":[]}""")
    // strictness survives the DNF rewrite: ranges on string columns and
    // non-string @contains stay explicit errors
    intercept[IllegalArgumentException] { req("""{"@gte":{"cat":2}}""", 3) }
    intercept[IllegalArgumentException] { req("""{"@contains":{"grp":3}}""", 3) }
    // cross-product explosion is refused, not served
    val blowup = (1 to 7).map(_ => """{"@or":[{"@eq":{"grp":1}},{"@eq":{"grp":2}}]}""")
      .mkString("""{"@and":[""", ",", "]}")
    intercept[IllegalArgumentException] { req(blowup, 3) }
  }

  test("routed front door: covered JSON requests serve job-free == job path bit-for-bit") {
    import graft.serve.{MemoryAnnIndex, MemoryServer}
    val tagged = annAssigned
      .withColumn("cat",
        concat(lit("cat"), pmod(col("vec_id"), lit(3)).cast("string")))
      .withColumn("grp", pmod(col("vec_id"), lit(7)).cast("int"))
      .withColumn("txt", concat(lit("doc "), col("vec_id").cast("string")))
      .localCheckpoint(true)
    val mem = MemoryAnnIndex.fromDataFrame(tagged, "vec_id", "embedding",
      "ivf_cell", annCents, metaCols = Seq("cat", "grp"))
    val server = new MemoryServer(mem, None)
    def door(m: Option[MemoryServer]) = new SemanticSearch(tagged,
      HashingTfEmbedder(8), idCol = "vec_id", textCol = "txt",
      embCol = "embedding", memory = m)
    val routedDoor = door(Some(server))
    val jobDoor = door(None)
    val q = annQueries(1)
    val qvJson = s""""query_vector":[${q.mkString(",")}]"""
    // routed == the result plans as a driver-local relation: no scan of
    // the corpus, no shuffle, no job at collect time
    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    def compare(reqJson: String, expectRouted: Boolean): Unit = {
      val a = routedDoor.search(reqJson)
      val b = jobDoor.search(reqJson)
      assert(isLocal(a) === expectRouted,
        s"routing decision mismatch for $reqJson")
      assert(!isLocal(b), "the job door must never route")
      assert(a.columns.toSeq === b.columns.toSeq, reqJson)
      assert(a.collect().map(_.toSeq).toSeq === b.collect().map(_.toSeq).toSeq,
        s"routed != job path for $reqJson")
    }
    // covered: id-only projection, no filter
    compare(s"""{$qvJson,"columns":["vec_id"],"limit":5}""", true)
    // covered: metadata projection + string @eq + @or over numerics
    compare(s"""{$qvJson,"columns":["vec_id","cat","grp"],"limit":6,
      |"filter":{"@and":[{"@eq":{"cat":"cat1"}},
      |{"@or":[{"@eq":{"grp":2}},{"@eq":{"grp":5}}]}]}}""".stripMargin, true)
    // covered: numeric range + @ne string
    compare(s"""{$qvJson,"columns":["grp","vec_id"],"limit":6,
      |"filter":{"@and":[{"@ne":{"cat":"cat0"}},{"@gte":{"grp":4}}]}}"""
      .stripMargin, true)
    // covered: a text query embeds ON THE DRIVER and still routes
    compare(s"""{"query":"doc 7","columns":["vec_id"],"limit":4}""", true)
    // covered: an unseen @eq value is an ordinary empty result
    compare(s"""{$qvJson,"columns":["vec_id"],"limit":4,
      |"filter":{"@eq":{"cat":"catX"}}}""".stripMargin, true)
    // NOT covered: requests the text column — falls back, still equal
    compare(s"""{$qvJson,"columns":["vec_id","txt"],"limit":4}""", false)
    // NOT covered: filter on a column the index did not load
    compare(s"""{$qvJson,"columns":["vec_id"],"limit":4,
      |"filter":{"@gte":{"vec_id":100}}}""".stripMargin, false)
    // NOT covered: a FRACTIONAL numeric literal — the memory tier's long
    // encoding would asLong()-truncate 4.5 to 4 and admit grp=4 rows the
    // Spark tier's >= 4.5 comparison rejects; the parser now refuses, so
    // the request falls back and stays bit-identical to the job path
    compare(s"""{$qvJson,"columns":["vec_id","grp"],"limit":6,
      |"filter":{"@gte":{"grp":4.5}}}""".stripMargin, false)
    compare(s"""{$qvJson,"columns":["vec_id","grp"],"limit":6,
      |"filter":{"@eq":{"grp":2.0}}}""".stripMargin, false)
    // an IVF-probed (approximate) server must NEVER route: the door's
    // results are promised bit-identical to the job path, and a probe
    // trades recall for latency — covered requests take the job path
    val probedDoor = door(Some(new MemoryServer(mem, None, defaultNProbe = 1)))
    val covered = s"""{$qvJson,"columns":["vec_id"],"limit":5}"""
    val viaProbed = probedDoor.search(covered)
    assert(!isLocal(viaProbed), "probed server must not serve the routed door")
    assert(viaProbed.collect().map(_.toSeq).toSeq ===
      jobDoor.search(covered).collect().map(_.toSeq).toSeq)
  }

  /** The exact-required deployment's admission story (round-14): the
    * door exposes the route bit, and the gate bounds concurrent
    * fallback jobs while scoping them to the dedicated FAIR pool —
    * covered traffic never queues behind a fallback burst.
    */
  test("searchRouted route bit + FallbackGate: bounded, pool-scoped, exception-safe") {
    import graft.serve.{MemoryAnnIndex, MemoryServer}
    val tagged = annAssigned
      .withColumn("txt", concat(lit("doc "), col("vec_id").cast("string")))
      .localCheckpoint(true)
    val mem = MemoryAnnIndex.fromDataFrame(tagged, "vec_id", "embedding",
      "ivf_cell", annCents)
    val door = new SemanticSearch(tagged, HashingTfEmbedder(8),
      idCol = "vec_id", textCol = "txt", embCol = "embedding",
      memory = Some(new MemoryServer(mem, None)))
    val q = annQueries(0)
    val qvJson = s""""query_vector":[${q.mkString(",")}]"""
    // route bit: covered -> (local relation, true); uncovered -> (job, false)
    val (cov, covBit) = door.searchRouted(
      s"""{$qvJson,"columns":["vec_id"],"limit":5}""")
    assert(covBit && cov.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val uncoveredReq =
      s"""{$qvJson,"columns":["vec_id"],"limit":5,"filter":{"@gte":{"vec_id":0}}}"""
    val (unc, uncBit) = door.searchRouted(uncoveredReq)
    assert(!uncBit && !unc.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    // searchRouted._1 is exactly search()
    assert(unc.collect().map(_.toSeq).toSeq ===
      door.search(uncoveredReq).collect().map(_.toSeq).toSeq)

    val gate = new graft.api.FallbackGate("graft-fallback", maxConcurrent = 2)
    // admitted collect: results identical, pool property scoped + restored
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "caller-pool")
    try {
      val inGate = gate.admit(spark) {
        assert(spark.sparkContext.getLocalProperty("spark.scheduler.pool")
          == "graft-fallback", "admitted body must run in the gate's pool")
        door.search(uncoveredReq).collect().map(_.toSeq).toSeq
      }
      assert(spark.sparkContext.getLocalProperty("spark.scheduler.pool")
        == "caller-pool", "caller's pool must be restored")
      assert(inGate === unc.collect().map(_.toSeq).toSeq)
    } finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    // bounded: 6 concurrent admits never exceed 2 in flight
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val ts = (0 until 6).map { _ =>
      val t = new Thread(() => gate.admit(spark) {
        val a = active.incrementAndGet()
        maxSeen.updateAndGet(m => math.max(m, a)): Unit
        Thread.sleep(50)
        active.decrementAndGet(): Unit
      })
      t.start(); t
    }
    ts.foreach(_.join())
    assert(maxSeen.get() <= 2, s"gate admitted ${maxSeen.get()} concurrently")
    // exception-safe: the permit releases and the pool restores
    intercept[RuntimeException](gate.admit(spark) { sys.error("boom") })
    assert(spark.sparkContext.getLocalProperty("spark.scheduler.pool") == null)
    assert(gate.admit(spark)(42) == 42, "permit must release after a failure")
    intercept[IllegalArgumentException](new graft.api.FallbackGate("p", 0))
  }

  test("IVF fallback knob: uncovered requests probe; covered requests stay exact and routed") {
    import graft.serve.{MemoryAnnIndex, MemoryServer}
    val tagged = annAssigned
      .withColumn("txt", concat(lit("doc "), col("vec_id").cast("string")))
      .localCheckpoint(true)
    val mem = MemoryAnnIndex.fromDataFrame(tagged, "vec_id", "embedding",
      "ivf_cell", annCents)
    val fb = graft.api.SemanticSearch.IvfFallback("ivf_cell", annCents, nProbe = 1)
    val doorIvf = new SemanticSearch(tagged, HashingTfEmbedder(8),
      idCol = "vec_id", textCol = "txt", embCol = "embedding",
      memory = Some(new MemoryServer(mem, None)), ivfFallback = Some(fb))
    val doorExact = new SemanticSearch(tagged, HashingTfEmbedder(8),
      idCol = "vec_id", textCol = "txt", embCol = "embedding")
    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    def uncoveredReq(q: Seq[Float]) =
      s"""{"query_vector":[${q.mkString(",")}],"columns":["vec_id","txt"],"limit":6}"""
    // UNCOVERED (requests the text column): the fallback is the opted-in
    // probe — exactly Ann.topKIvf's semantics, stringified, for EVERY query
    annQueries.foreach { q =>
      val got = doorIvf.search(uncoveredReq(q))
      assert(!isLocal(got), "uncovered request must take the job path")
      val want = graft.operators.Ann.topKIvf(tagged, "vec_id", "embedding",
          "ivf_cell", annCents, q, k = 6, nProbe = 1)
        .select(col("vec_id").cast("string"), col("txt").cast("string"))
        .collect().map(_.toSeq).toSeq
      assert(got.collect().map(_.toSeq).toSeq === want,
        "IVF fallback drifted from Ann.topKIvf")
    }
    // the knob is a REAL trade, shown on a PLANTED boundary case: the
    // exact best vector lives in the cell the query does NOT probe —
    // with explicit centroids c0=e1, c1=e2, vector A=(0.8,0.6,..) sits
    // in cell 0 (cos 0.8 vs 0.6) but the query (0.6,0.8,..) probes only
    // cell 1 at nProbe=1, where B=(0.1,0.995,..) scores 0.856 < A's 0.96
    val e = (v: Seq[Float]) => v ++ Seq.fill(6)(0f)
    val planted = Seq(
      (1L, "A", e(Seq(0.8f, 0.6f))),
      (2L, "B", e(Seq(0.1f, 0.995f))),
      (3L, "C", e(Seq(0.99f, 0.05f))),
      (4L, "D", e(Seq(0.05f, 0.9f)))).toDF("vec_id", "txt", "embedding")
    val pCents = Seq(e(Seq(1f, 0f)), e(Seq(0f, 1f)))
    val pTagged = graft.operators.Ann
      .withIvfAssignment(planted, "embedding", pCents).localCheckpoint(true)
    val pDoor = new SemanticSearch(pTagged, HashingTfEmbedder(8),
      idCol = "vec_id", textCol = "txt", embCol = "embedding",
      ivfFallback = Some(graft.api.SemanticSearch.IvfFallback(
        "ivf_cell", pCents, nProbe = 1)))
    val pExact = new SemanticSearch(pTagged, HashingTfEmbedder(8),
      idCol = "vec_id", textCol = "txt", embCol = "embedding")
    val pReq =
      s"""{"query_vector":[${e(Seq(0.6f, 0.8f)).mkString(",")}],"columns":["vec_id"],"limit":1}"""
    assert(pExact.search(pReq).collect().map(_.getString(0)).toSeq === Seq("1"),
      "exact top-1 must be A")
    assert(pDoor.search(pReq).collect().map(_.getString(0)).toSeq === Seq("2"),
      "probed top-1 must be B — the trade the caller opted into")
    // COVERED requests are untouched by the knob: still routed, still
    // the exact memory tier's rows == the exact job path's
    val q = annQueries(2)
    val qvJson = s""""query_vector":[${q.mkString(",")}]"""
    val covered = s"""{$qvJson,"columns":["vec_id"],"limit":5}"""
    val viaIvfDoor = doorIvf.search(covered)
    assert(isLocal(viaIvfDoor), "covered request must still route to memory")
    assert(viaIvfDoor.collect().map(_.toSeq).toSeq ===
      doorExact.search(covered).collect().map(_.toSeq).toSeq,
      "covered requests must stay exact regardless of the fallback knob")
    intercept[IllegalArgumentException] {
      graft.api.SemanticSearch.IvfFallback("ivf_cell", annCents, nProbe = 0)
    }
  }

  test("hybrid front door: routed JSON request == job path bit-for-bit") {
    import graft.operators.Bm25
    val postings = Bm25.buildPostings(lexDocs, "doc_id", "text")
      .localCheckpoint(true)
    val stats = lexDocs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(sum("dl"), count(lit(1))).head()
    val avgdl = stats.getLong(0).toDouble / stats.getLong(1).toDouble
    val dfMap = postings.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = Bm25.idfByTerm(dfMap, stats.getLong(1), spark)
    val server = new graft.serve.MemoryServer(
      graft.serve.MemoryAnnIndex.fromDataFrame(
        annAssigned, "vec_id", "embedding", "ivf_cell", annCents),
      Some(graft.serve.MemoryPostingsIndex.fromDataFrame(
        postings, "doc_id", idf, avgdl)))
    def door(m: Option[graft.serve.MemoryServer]) =
      new graft.api.HybridSearch(annAssigned, "vec_id", "embedding",
        postings, "doc_id", idf, avgdl, memory = m)
    annQueries.take(3).foreach { q =>
      val req = s"""{"query_vector":[${q.mkString(",")}],
        |"terms":["dup","vector"],"limit":10,"pool_k":20}""".stripMargin
      val routed = door(Some(server)).search(req)
      val job = door(None).search(req)
      assert(routed.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        "hybrid request with memory attached must serve job-free")
      assert(!job.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(routed.columns.toSeq === job.columns.toSeq)
      assert(routed.collect().map(_.toSeq).toSeq ===
        job.collect().map(_.toSeq).toSeq,
        s"routed hybrid != job hybrid for query $q")
    }
    // a probed (approximate) server must NOT route the hybrid door: its
    // dense leg would silently serve IVF-probed results under the door's
    // bit-identity promise — the request takes the job path instead
    val probed = new graft.serve.MemoryServer(
      graft.serve.MemoryAnnIndex.fromDataFrame(
        annAssigned, "vec_id", "embedding", "ivf_cell", annCents),
      Some(graft.serve.MemoryPostingsIndex.fromDataFrame(
        postings, "doc_id", idf, avgdl)),
      defaultNProbe = 2)
    val q0 = annQueries.head
    val req0 = s"""{"query_vector":[${q0.mkString(",")}],
      |"terms":["dup","vector"],"limit":10,"pool_k":20}""".stripMargin
    val viaProbed = door(Some(probed)).search(req0)
    assert(!viaProbed.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "probed server must not serve the hybrid door")
    assert(viaProbed.collect().map(_.toSeq).toSeq ===
      door(None).search(req0).collect().map(_.toSeq).toSeq)
    // a DENSE-ONLY server cannot serve the lexical leg: the door must
    // take the job path, not crash per-request inside searchLexical
    val denseOnly = new graft.serve.MemoryServer(
      graft.serve.MemoryAnnIndex.fromDataFrame(
        annAssigned, "vec_id", "embedding", "ivf_cell", annCents), None)
    val viaDense = door(Some(denseOnly)).search(req0)
    assert(!viaDense.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "dense-only server must not serve the hybrid door")
    assert(viaDense.collect().map(_.toSeq).toSeq ===
      door(None).search(req0).collect().map(_.toSeq).toSeq)
  }

  test("sharded postings tier: fan-out merge == unsharded WAND == TAAT bit-for-bit") {
    import graft.operators.Bm25
    import graft.serve.{MemoryPostingsIndex, Sharded}
    val lexDocs = Seq.tabulate(150)(i =>
      (i.toLong, (Seq.fill(i % 4 + 1)("common") ++
        (if (i % 9 == 0) Seq("rare") else Nil) ++
        Seq.fill(2)(s"w$i")).mkString(" ")))
      .toDF("doc_id", "text")
    val postings = Bm25.buildPostings(lexDocs, "doc_id", "text")
      .localCheckpoint(true)
    val stats = lexDocs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(sum("dl"), count(lit(1))).head()
    val avgdl = stats.getLong(0).toDouble / stats.getLong(1).toDouble
    val dfMap = postings.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = Bm25.idfByTerm(dfMap, stats.getLong(1), spark)
    val whole = MemoryPostingsIndex.fromDataFrame(postings, "doc_id", idf, avgdl)
    for (n <- Seq(1, 3, 4, 16)) {
      val sharded = MemoryPostingsIndex.sharded(
        postings, "doc_id", idf, avgdl, nShards = n)
      // 16 shards over 150 docs: empty slices drop, occupied ones serve
      assert(sharded.size <= n && sharded.size >= 1)
      for (terms <- Seq(Seq("common"), Seq("rare", "common"),
                        Seq("rare", "w7"), Seq("unknownterm"));
           k <- Seq(1, 5, 10)) {
        assert(Sharded.topK(sharded, k)(_.searchWand(terms, k)) == whole.searchWand(terms, k),
          s"sharded($n) != unsharded for $terms k=$k")
        assert(Sharded.topK(sharded, k)(_.searchWand(terms, k)) == whole.search(terms, k),
          s"sharded($n) != TAAT for $terms k=$k")
      }
    }
    // pruning survives the fan-out: counters still report skipping
    val sh4 = MemoryPostingsIndex.sharded(
      postings, "doc_id", idf, avgdl, nShards = 4)
    val (_, evaluated, skipped) = Sharded.counted(sh4, 3)(_.searchWandCounted(Seq("rare", "common"), 3))
    assert(skipped > 0 && evaluated < 150,
      s"per-shard WAND lost pruning (evaluated=$evaluated, skipped=$skipped)")
  }

  test("sharded hybrid server: sharded legs + local RRF == MemoryServer.searchHybrid bit-for-bit") {
    import graft.operators.Bm25
    import graft.serve.{HybridTier, MemoryAnnIndex, MemoryPostingsIndex, MemoryServer,
      Sharded}
    // lexical ids overlap the dense corpus (0..149 ⊂ 0..299) so the RRF
    // fusion actually merges ids seen by both legs
    val lexDocs = Seq.tabulate(150)(i =>
      (i.toLong, (Seq.fill(i % 4 + 1)("common") ++
        (if (i % 9 == 0) Seq("rare") else Nil) ++
        Seq.fill(2)(s"w$i")).mkString(" ")))
      .toDF("doc_id", "text")
    val postings = Bm25.buildPostings(lexDocs, "doc_id", "text")
      .localCheckpoint(true)
    val stats = lexDocs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(sum("dl"), count(lit(1))).head()
    val avgdl = stats.getLong(0).toDouble / stats.getLong(1).toDouble
    val dfMap = postings.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = Bm25.idfByTerm(dfMap, stats.getLong(1), spark)
    // the unsharded reference: EXACT server (defaultNProbe == 0), the
    // only form whose hybrid results the sharded server claims
    val whole = new MemoryServer(
      MemoryAnnIndex.fromDataFrame(annAssigned, "vec_id", "embedding",
        "ivf_cell", annCents),
      Some(MemoryPostingsIndex.fromDataFrame(postings, "doc_id", idf, avgdl)))
    for (n <- Seq(1, 3, 4)) {
      val sharded = Sharded.hybrid(
        MemoryAnnIndex.sharded(annAssigned, "vec_id", "embedding",
          "ivf_cell", annCents, nShards = n),
        MemoryPostingsIndex.sharded(postings, "doc_id", idf, avgdl,
          nShards = n))
      for (q <- annQueries;
           terms <- Seq(Seq("common"), Seq("rare", "common"), Seq("rare", "w7"));
           k <- Seq(3, 10)) {
        assert(sharded.searchHybrid(q, terms, k, poolK = 20) ==
          whole.searchHybrid(q, terms, k, poolK = 20),
          s"sharded($n) hybrid drifted for terms=$terms k=$k")
      }
    }
    // the JSON front door routes onto the sharded server too: same
    // request, LocalRelation plan, rows == the memory route == the job
    val sh4 = Sharded.hybrid(
      MemoryAnnIndex.sharded(annAssigned, "vec_id", "embedding",
        "ivf_cell", annCents, nShards = 4),
      MemoryPostingsIndex.sharded(postings, "doc_id", idf, avgdl,
        nShards = 4))
    def door(m: Option[HybridTier]) = new graft.api.HybridSearch(
      annAssigned, "vec_id", "embedding", postings, "doc_id", idf, avgdl,
      memory = m)
    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val q0 = annQueries.head
    val req = s"""{"query_vector":[${q0.mkString(",")}],
      |"terms":["rare","common"],"limit":10,"pool_k":20}""".stripMargin
    val viaSharded = door(Some(sh4)).search(req)
    assert(isLocal(viaSharded), "sharded server must serve the door job-free")
    val viaMemory = door(Some(whole)).search(req)
    val viaJob = door(None).search(req)
    assert(!isLocal(viaJob))
    assert(viaSharded.collect().map(_.toSeq).toSeq ===
      viaMemory.collect().map(_.toSeq).toSeq)
    assert(viaSharded.collect().map(_.toSeq).toSeq ===
      viaJob.collect().map(_.toSeq).toSeq)
  }

  test("searchLexical serves through WAND: == exhaustive TAAT scan bit-for-bit") {
    import graft.operators.Bm25
    val lexDocs = Seq.tabulate(120)(i =>
      (i.toLong, (Seq.fill(i % 5 + 1)("common") ++
        (if (i % 11 == 0) Seq("rare", "rare") else Nil) ++
        Seq.fill(3)(s"w$i")).mkString(" ")))
      .toDF("doc_id", "text")
    val postings = Bm25.buildPostings(lexDocs, "doc_id", "text")
      .localCheckpoint(true)
    val stats = lexDocs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(sum("dl"), count(lit(1))).head()
    val avgdl = stats.getLong(0).toDouble / stats.getLong(1).toDouble
    val dfMap = postings.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idfMap = Bm25.idfByTerm(dfMap, stats.getLong(1), spark)
    val idx = graft.serve.MemoryPostingsIndex.fromDataFrame(
      postings, "doc_id", idfMap, avgdl)
    val server = new graft.serve.MemoryServer(
      graft.serve.MemoryAnnIndex.fromDataFrame(
        annAssigned, "vec_id", "embedding", "ivf_cell", annCents),
      Some(idx))
    for (terms <- Seq(Seq("common"), Seq("common", "rare"), Seq("rare", "w7")))
      assert(server.searchLexical(terms, 10) == idx.search(terms, 10),
        s"WAND-served lexical leg drifted from TAAT for $terms")
  }

  test("sharded flat/IVF tier: disjoint cover; fan-out merge == unsharded bit-for-bit") {
    import graft.serve.{MemoryAnnIndex, MetaFilter, Sharded}
    val tagged = annAssigned
      .withColumn("grp", pmod(col("vec_id"), lit(7)).cast("int"))
      .withColumn("cat",
        concat(lit("cat"), pmod(col("vec_id"), lit(3)).cast("string")))
      .localCheckpoint(true)
    val whole = MemoryAnnIndex.fromDataFrame(tagged, "vec_id", "embedding",
      "ivf_cell", annCents, metaCols = Seq("grp", "cat"))
    val sharded = MemoryAnnIndex.sharded(tagged, "vec_id",
      "embedding", "ivf_cell", annCents, nShards = 4,
      metaCols = Seq("grp", "cat"))
    // disjoint cover: every id in exactly one shard, sizes sum
    assert(sharded.size == 4 && sharded.map(_.size).sum == whole.size)
    val perShardIds = sharded.map(sh =>
      sh.topK(annQueries.head, sh.size).map(_._1).toSet)
    assert(perShardIds.map(_.size).sum == whole.size,
      "shards must partition the corpus")
    perShardIds.foreach(s => s.foreach(id =>
      assert(Sharded.shardOf(id, 4) ==
        perShardIds.indexWhere(_.contains(id)))))
    annQueries.foreach { q =>
      assert(Sharded.topK(sharded, 9)(_.topK(q, 9)) == whole.topK(q, 9),
        "flat fan-out merge drifted from the unsharded scan")
      assert(Sharded.topK(sharded, 9)(_.topKIvf(q, 9, nProbe = 2)) == whole.topKIvf(q, 9, 2),
        "IVF fan-out (same centroids per shard) drifted")
      assert(Sharded.topK(sharded, 6)(_.topK(q, 6, Seq(MetaFilter("grp", 2, 4)))) ==
        whole.topK(q, 6, Seq(MetaFilter("grp", 2, 4))),
        "numeric-filtered fan-out drifted")
      assert(Sharded.topK(sharded, 6)(sh => sh.topK(q, 6, Seq(sh.stringFilter("cat", "cat1")))) ==
        whole.topK(q, 6, Seq(whole.stringFilter("cat", "cat1"))),
        "per-shard dictionary resolution drifted")
    }
    // a corpus smaller than the shard count serves from occupied shards
    val tiny = MemoryAnnIndex.sharded(
      tagged.where(col("vec_id") < 3), "vec_id", "embedding",
      "ivf_cell", annCents, nShards = 8)
    assert(tiny.map(_.size).sum == 3 && Sharded.topK(tiny, 3)(_.topK(annQueries.head, 3)).size == 3)
  }

  test("memory MRL tier: prefix prune-and-rerank == Ann.topKMatryoshka bit-for-bit") {
    import graft.operators.Ann
    val mem = graft.serve.MemoryMrlIndex.fromDataFrame(
      annCorpus, "vec_id", "embedding", prefixDim = 3)
    assert(mem.size == 300 && mem.dim == 8 && mem.prefixDim == 3)
    for (q <- annQueries; k <- Seq(1, 5, 9); f <- Seq(1, 3, 40)) {
      val want = Ann.topKMatryoshka(annCorpus, "vec_id", "embedding", q,
          k, prefixDim = 3, rerankFactor = f)
        .select("vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(mem.topK(q, k, rerankFactor = f) == want,
        s"mrl mismatch for k=$k f=$f")
    }
    // full-coverage rerank == the exact scan (the candidate stage is the
    // only approximation)
    val exact = Ann.topK(annCorpus, "vec_id", "embedding", annQueries.head, 7)
      .select("vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mem.topK(annQueries.head, 7, rerankFactor = 50) == exact)
    assert(mem.topK(annQueries.head, 0).isEmpty)
    intercept[IllegalArgumentException] {
      graft.serve.MemoryMrlIndex.fromDataFrame(
        annCorpus, "vec_id", "embedding", prefixDim = 9)
    }
  }

  test("memory PQ tier: ADC prune-and-rerank == Ann.topKPq bit-for-bit") {
    import graft.operators.Ann
    val books = Ann.pqCodebooks(annCorpus, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 1)
    val coded = Ann.withPqCodes(annCorpus, "embedding", books)
      .localCheckpoint(true)
    val mem = graft.serve.MemoryPqIndex.fromDataFrame(
      coded, "vec_id", "embedding", "pq_code", books)
    assert(mem.size == 300 && mem.dim == 8)
    annQueries.foreach { q =>
      val want = Ann.topKPq(coded, "vec_id", "embedding", "pq_code", books,
          q, k = 7, rerankFactor = 3)
        .select("vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(mem.topK(q, 7, rerankFactor = 3) == want,
        s"pq mismatch for query $q")
    }
  }

  test("memory residual-PQ tier: per-cell ADC + rerank == Ann.topKIvfResidualPq bit-for-bit") {
    import graft.operators.Ann
    val cents = Ann.sampleCentroids(annCorpus, "vec_id", "embedding", 4)
    val resid = Ann.withResiduals(
      Ann.withIvfAssignment(annCorpus, "embedding", cents),
      "embedding", "ivf_cell", cents)
    val books = Ann.pqCodebooks(resid, "vec_id", "residual", m = 2, ksub = 4)
    val coded = Ann.withPqCodes(resid, "residual", books).localCheckpoint(true)
    val mem = graft.serve.MemoryRpqIndex.fromDataFrame(
      coded, "vec_id", "embedding", "ivf_cell", "pq_code", cents, books)
    assert(mem.size == 300 && mem.dim == 8)
    annQueries.foreach { q =>
      Seq(1, 2, 4).foreach { nProbe =>
        val want = Ann.topKIvfResidualPq(coded, "vec_id", "embedding",
            "ivf_cell", "pq_code", cents, books, q, k = 7, nProbe = nProbe,
            rerankFactor = 3)
          .select("vec_id", "score").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(mem.topK(q, 7, nProbe = nProbe, rerankFactor = 3) == want,
          s"residual-pq mismatch for query $q at nProbe=$nProbe")
      }
    }
    assert(mem.topK(annQueries.head, 0, nProbe = 2).isEmpty)
  }

  test("memory binary tier: Hamming prune-and-rerank == Quantize.topKBinary bit-for-bit") {
    import graft.operators.Quantize
    val staged = Quantize.withBinary(annCorpus, "embedding").localCheckpoint(true)
    val mem = graft.serve.MemoryBinaryIndex.fromDataFrame(
      staged, "vec_id", "embedding")
    assert(mem.size == 300 && mem.dim == 8)
    annQueries.foreach { q =>
      val want = Quantize.topKBinary(staged, "vec_id", "embedding", q,
          k = 7, rerankFactor = 3)
        .select("vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(mem.topK(q, 7, rerankFactor = 3) == want,
        s"binary rerank mismatch for query $q")
    }
    // the approx-only (codes-only, 32x-smaller) replica: distances are
    // the integer Hamming counts in (h ASC, id ASC) order
    val q = annQueries(1)
    val qbits = Quantize.packSigns(q)
    val want = staged.select("vec_id", "bits").collect()
      .map { r =>
        val ws = r.getSeq[Long](1)
        val h = ws.indices.map(w =>
          java.lang.Long.bitCount(ws(w) ^ qbits(w))).sum
        (r.getLong(0), h)
      }.sortBy { case (id, h) => (h, id) }.take(12).toSeq
    val approxOnly = graft.serve.MemoryBinaryIndex.fromDataFrameApproxOnly(
      staged, "vec_id", dim = 8)
    assert(approxOnly.topKApprox(q, 12) == want,
      "approx-only Hamming order drifted from the packed-word fold")
    // approx-only index refuses exact rerank instead of lying
    val err = intercept[RuntimeException](approxOnly.topK(q, 5))
    assert(err.getMessage.contains("approx-only"))
  }

  test("request hardening: limit<=0 empty, textual range values rejected, no ranges on dict columns") {
    import graft.operators.Ann
    val df = annCorpus
      .withColumn("label", (col("vec_id") % 10).cast("long"))
      .withColumn("tag",
        concat(lit("t"), (col("vec_id") % 3).cast("string")))
    val mem = graft.serve.MemoryAnnIndex.fromDataFrame(
      Ann.withIvfAssignment(df, "embedding", annCents),
      "vec_id", "embedding", "ivf_cell", annCents,
      metaCols = Seq("label", "tag"))
    val server = new graft.serve.MemoryServer(mem, None)
    val qv = annQueries.head
    def req(extra: String) =
      s"""{"query_vector":[${qv.mkString(",")}]$extra}"""
    // limit <= 0 = the DataFrame front door's .limit(0): empty, no crash
    assert(server.search(req(""","limit":0""")) == """{"results":[]}""")
    assert(mem.topK(qv, 0).isEmpty && mem.topKIvf(qv, 0, 2).isEmpty)
    assert(mem.topKFilteredIndexed(qv, 0,
      Seq(graft.serve.MetaFilter("label", 3, 3))).isEmpty)
    // a textual @gte value must error, not coerce to 0 (= filter dropped)
    val e1 = intercept[IllegalArgumentException](
      server.search(req(""","limit":3,"filter":{"@gte":{"label":"three"}}""")))
    assert(e1.getMessage.contains("must be numeric"))
    // a numeric range on a dictionary-encoded string column must error,
    // not compare lexicographic codes
    val e2 = intercept[IllegalArgumentException](
      server.search(req(""","limit":3,"filter":{"@gte":{"tag":1}}""")))
    assert(e2.getMessage.contains("dictionary-encoded"))
    // a fractional value must error, not asLong()-truncate (>=2.5 read as
    // >=2 would admit label=2 rows the caller excluded)
    val e3 = intercept[IllegalArgumentException](
      server.search(req(""","limit":3,"filter":{"@gte":{"label":2.5}}""")))
    assert(e3.getMessage.contains("integral"))
    val e4 = intercept[IllegalArgumentException](
      server.search(req(""","limit":3,"filter":{"@eq":{"label":2.5}}""")))
    assert(e4.getMessage.contains("integral"))
    // an integral literal OUTSIDE long range (BigIntegerNode) must error,
    // not asLong()-wrap to the opposite sign (>=2^63 read as >=-2^63
    // would admit every row)
    val e5 = intercept[IllegalArgumentException](
      server.search(req(""","limit":3,"filter":{"@gte":{"label":9223372036854775808}}""")))
    assert(e5.getMessage.contains("integral"))
    // the legitimate shapes still work
    assert(server.search(req(""","limit":3,"filter":{"@eq":{"tag":"t1"}}"""))
      .contains("results"))
    assert(server.search(req(""","limit":3,"filter":{"@and":[{"@gte":{"label":2}},{"@lte":{"label":5}}]}"""))
      .contains("results"))
  }

  test("loaders: null embeddings filtered like the DataFrame tier; all-zero vectors rejected") {
    import graft.operators.Ann
    val withNull = annCorpus.limit(20).unionByName(
      Seq((5000L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding"))
    val mem = graft.serve.MemoryAnnIndex.fromDataFrame(
      Ann.withIvfAssignment(withNull, "embedding", annCents),
      "vec_id", "embedding", "ivf_cell", annCents)
    assert(mem.size == 20, "null embedding must drop at load (the scan filter's rule)")
    val withZero = annCorpus.limit(10).unionByName(
      Seq((5001L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding"))
    val err = intercept[IllegalArgumentException](
      graft.serve.MemoryAnnIndex.fromDataFrame(
        Ann.withIvfAssignment(withZero, "embedding", annCents),
        "vec_id", "embedding", "ivf_cell", annCents))
    assert(err.getMessage.contains("all-zero"))
  }

  test("keyset pagination: pages concatenate to topK(n*k); filters compose; past-end empty") {
    import graft.operators.Ann
    val mem = graft.serve.MemoryAnnIndex.fromDataFrame(
      annAssigned, "vec_id", "embedding", "ivf_cell", annCents)
    annQueries.foreach { q =>
      val full = mem.topK(q, 15)
      var pages = Seq(mem.topK(q, 5))
      (0 until 2).foreach { _ =>
        val last = pages.last.last
        pages :+= mem.topKAfter(q, 5, last._2, last._1)
      }
      assert(pages.flatten == full, s"pages != topK(15) for $q")
    }
    // with a filter: same contract over the filtered order
    val df = annCorpus.withColumn("label", (col("vec_id") % 4).cast("long"))
    val memF = graft.serve.MemoryAnnIndex.fromDataFrame(
      Ann.withIvfAssignment(df, "embedding", annCents),
      "vec_id", "embedding", "ivf_cell", annCents, metaCols = Seq("label"))
    val fs = Seq(graft.serve.MetaFilter("label", 2, 2))
    val q = annQueries.head
    val fFull = memF.topK(q, 10, fs)
    val p1 = memF.topK(q, 5, fs)
    val p2 = memF.topKAfter(q, 5, p1.last._2, p1.last._1, fs)
    assert(p1 ++ p2 == fFull)
    // past the end: empty, not an error
    val lastAll = memF.topK(q, 75, fs).last
    assert(memF.topKAfter(q, 5, lastAll._2, lastAll._1, fs).isEmpty)
  }

  test("memory MaxSim tier == LateInteraction.maxSimTopK bit-for-bit") {
    val parts = annCorpus
      .withColumn("doc_id", expr("vec_id div 3"))
    val mem = graft.serve.MemoryMaxSimIndex.fromDataFrame(
      parts, "doc_id", "embedding")
    assert(mem.nDocs == 100 && mem.nParts == 300)
    (0 until 3).foreach { bi =>
      val bag = (0 until 3).map(qi =>
        Seq.tabulate(8)(j => math.cos((bi * 3 + qi) * 5 + j * 3).toFloat))
      val want = graft.operators.LateInteraction
        .maxSimTopK(parts, "doc_id", "embedding", bag, 7)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(mem.topK(bag, 7) == want, s"maxsim tier mismatch for bag $bi")
    }
    // an all-zero part would score NaN, where Spark max (NaN greatest)
    // and an IEEE > fold diverge — the tier refuses the degenerate load
    // instead of silently breaking bit-parity
    val withZero = parts.limit(5).unionByName(
      Seq((9999L, Seq.fill(8)(0.0f), 3333L))
        .toDF("vec_id", "embedding", "doc_id"))
    val err = intercept[IllegalArgumentException](
      graft.serve.MemoryMaxSimIndex.fromDataFrame(withZero, "doc_id", "embedding"))
    assert(err.getMessage.contains("all-zero"))
  }

  test("payload index: topKFilteredIndexed == scan-path topK(filters) for a battery of filters") {
    import graft.operators.Ann
    // metadata: label = i % 10 (numeric), bucket = i % 3 (numeric)
    val df = annCorpus
      .withColumn("label", (col("vec_id") % 10).cast("long"))
      .withColumn("bucket", (col("vec_id") % 3).cast("long"))
    val mem = graft.serve.MemoryAnnIndex.fromDataFrame(
      Ann.withIvfAssignment(df, "embedding", annCents),
      "vec_id", "embedding", "ivf_cell", annCents,
      metaCols = Seq("label", "bucket"))
    val filterSets = Seq(
      Seq(graft.serve.MetaFilter("label", 3, 3)), // selective: 1/10
      Seq(graft.serve.MetaFilter("label", 2, 7)), // wide: falls back to scan
      Seq(graft.serve.MetaFilter("label", 3, 3),
        graft.serve.MetaFilter("bucket", 1, 1)), // conjunction: 1/30
      Seq(graft.serve.MetaFilter("bucket", 0, 0),
        graft.serve.MetaFilter("label", 0, 9)), // second filter vacuous
      Seq(graft.serve.MetaFilter("label", 99, 99))) // empty match
    annQueries.foreach { q =>
      filterSets.foreach { fs =>
        val viaIndex = mem.topKFilteredIndexed(q, 7, fs)
        val viaScan = mem.topK(q, 7, fs)
        assert(viaIndex == viaScan,
          s"indexed path diverged from scan for filters $fs")
      }
    }
    // the selectivity probe is exact
    assert(mem.countMatching(Seq(graft.serve.MetaFilter("label", 3, 3))) == 30)
    assert(mem.countMatching(Seq(graft.serve.MetaFilter("label", 3, 3),
      graft.serve.MetaFilter("bucket", 1, 1))) == 10)
    assert(mem.countMatching(Seq(graft.serve.MetaFilter("label", 99, 99))) == 0)
  }

  test("delta tier: adds/deletes/upserts merge == a full index rebuild bit-for-bit") {
    import graft.operators.Ann
    val baseDf = annCorpus.where(col("vec_id") < 250)
    val base = graft.serve.MemoryAnnIndex.fromDataFrame(
      Ann.withIvfAssignment(baseDf, "embedding", annCents),
      "vec_id", "embedding", "ivf_cell", annCents)
    val delta = new graft.serve.DeltaAnnIndex(base)
    // live adds: the held-out 50 rows
    val added = annCorpus.where(col("vec_id") >= 250)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    added.foreach { case (id, v) => delta.add(id, v) }
    // live deletes: some base rows, some delta rows, one unknown id
    val deleted = Seq(3L, 77L, 140L, 260L, 299L, 100000L)
    deleted.foreach(delta.delete)
    // live upsert: base row 10 gets a NEW vector (latest wins)
    val newVec10 = Seq.tabulate(8)(j => math.cos(j * 11 + 1).toFloat)
    delta.add(10L, newVec10)
    assert(delta.deltaSize == 50 - 2 + 1) // 2 delta rows deleted, 1 upsert
    // the rebuild the next publish would produce: (base ∖ deleted ∖ {10})
    // ∪ adds ∪ {10 → new vector}
    val logical = (baseDf.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .filterNot { case (id, _) => deleted.contains(id) || id == 10L } ++
      added.filterNot { case (id, _) => deleted.contains(id) } :+
      (10L -> newVec10.toSeq))
      .map { case (id, v) => (id, v, 0) }.toSeq
    val rebuilt = graft.serve.MemoryAnnIndex.fromRows(
      logical, Seq(Seq.fill(8)(0.0f)))
    annQueries.foreach { q =>
      assert(delta.topK(q, 9) == rebuilt.topK(q, 9),
        s"delta merge != rebuild for query $q")
    }
    // visibility: a fresh add is searchable by the NEXT call, a delete
    // gone by the next call, a re-add after delete resurrects
    val probe = Seq.tabulate(8)(j => math.sin(j * 5 + 2).toFloat)
    delta.add(9999L, probe)
    assert(delta.topK(probe, 1).head._1 == 9999L, "fresh add not visible")
    delta.delete(9999L)
    assert(delta.topK(probe, 1).head._1 != 9999L, "delete not applied")
    delta.add(9999L, probe)
    assert(delta.topK(probe, 1).head._1 == 9999L, "re-add did not resurrect")
    // rebuild handoff: deltaRows ∪ (base ∖ tombstonedIds) == what topK serves
    assert(delta.deltaRows.map(_._1).contains(9999L))
    assert(delta.tombstonedIds.contains(77L) && delta.tombstonedIds.contains(100000L))
  }

  test("delta tier republish: fold ≡ pre-fold ≡ rebuild; seal; metadata refusal; bounded handle") {
    import graft.operators.Ann
    val baseDf = annCorpus.where(col("vec_id") < 250)
    val base = graft.serve.MemoryAnnIndex.fromDataFrame(
      Ann.withIvfAssignment(baseDf, "embedding", annCents),
      "vec_id", "embedding", "ivf_cell", annCents)
    val delta = new graft.serve.DeltaAnnIndex(base)
    annCorpus.where(col("vec_id") >= 250)
      .select("vec_id", "embedding").collect()
      .foreach(r => delta.add(r.getLong(0), r.getSeq[Float](1)))
    Seq(3L, 77L, 260L).foreach(delta.delete)
    val newVec10 = Seq.tabulate(8)(j => math.cos(j * 11 + 1).toFloat)
    delta.add(10L, newVec10) // upsert of a BASE id: the fold must keep it
    val preFold = annQueries.map(q => q -> delta.topK(q, 9)).toMap
    val folded = delta.republish()
    assert(folded.deltaSize == 0L)
    annQueries.foreach { q =>
      assert(folded.topK(q, 9) == preFold(q),
        s"fold changed served results for $q")
      // the sealed old handle stays READABLE on the pre-fold snapshot
      assert(delta.topK(q, 9) == preFold(q))
    }
    // the folded base is a first-class index: further churn on top of it
    // must keep equality with its own merged view
    folded.add(9999L, newVec10)
    assert(folded.topK(newVec10, 1).head._1 == 10L ||
      folded.topK(newVec10, 1).head._1 == 9999L) // cosine tie: id rule
    assert(folded.topK(newVec10, 2).map(_._1).toSet == Set(10L, 9999L))
    // seal: writers on the old handle fail loudly
    intercept[graft.serve.RepublishedHandleException] {
      delta.add(55555L, newVec10)
    }
    intercept[graft.serve.RepublishedHandleException] { delta.delete(3L) }
    intercept[graft.serve.RepublishedHandleException] { delta.republish() }
    // a metadata-filtered base refuses the fold (it would strip the
    // filter columns) and points at the Spark rebuild
    val metaBase = graft.serve.MemoryAnnIndex.fromDataFrame(
      Ann.withIvfAssignment(
        baseDf.withColumn("label", (col("vec_id") % 10).cast("long")),
        "embedding", annCents),
      "vec_id", "embedding", "ivf_cell", annCents, metaCols = Seq("label"))
    val refusal = intercept[IllegalArgumentException] {
      new graft.serve.DeltaAnnIndex(metaBase).republish()
    }
    assert(refusal.getMessage.contains("rebuild"))
    // BoundedDelta over the dense tier: the bound holds, no write lost
    def vecFor(i: Long): Seq[Float] =
      Seq.tabulate(8)(j => math.sin(i * 7.3 + j * 1.7).toFloat)
    val bounded = new graft.serve.BoundedDelta(
      new graft.serve.DeltaAnnIndex(base), maxDeltaDocs = 10L)
    (1000L to 1040L).foreach { i =>
      val h = bounded.write(_.add(i, vecFor(i)))
      assert(h.topK(vecFor(i), 1).head._1 == i, s"read-your-write lost $i")
      assert(bounded.get.deltaSize < 10L)
    }
    assert(bounded.republishCount >= 4L)
    (1000L to 1040L).foreach(i =>
      assert(bounded.get.topK(vecFor(i), 1).head._1 == i,
        s"write $i lost across folds"))
  }

  test("streaming feed into the delta tier: rows searchable batch-by-batch (TARGET_LAG live half)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = graft.serve.MemoryAnnIndex.fromDataFrame(
      graft.operators.Ann.withIvfAssignment(
        annCorpus.where(col("vec_id") < 200), "embedding", annCents),
      "vec_id", "embedding", "ivf_cell", annCents)
    val delta = new graft.serve.DeltaAnnIndex(base)
    val mem = MemoryStream[(Long, Seq[Float])]
    // the live feed: each micro-batch lands in the delta segment —
    // bounded driver-side state (one lag window), the DataFrame tier
    // still owns the periodic rebuild
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("vec_id", "embedding").collect()
          .foreach(r => delta.add(r.getLong(0), r.getSeq[Float](1)))
      }
      .start()
    try {
      val lateRows = annCorpus.where(col("vec_id") >= 200)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
      val (b1, b2) = lateRows.splitAt(50)
      // before any batch: late rows invisible
      val probe = lateRows.head._2
      assert(!delta.topK(probe, 1).headOption.exists(_._1 == lateRows.head._1)
        || base.topK(probe, 1).headOption.exists(_._1 == lateRows.head._1))
      mem.addData(b1)
      q.processAllAvailable()
      assert(delta.deltaSize == 50, s"batch 1 not fully landed: ${delta.deltaSize}")
      // a batch-1 row is now the top hit for its own vector
      assert(delta.topK(b1.head._2, 1).head._1 == b1.head._1)
      mem.addData(b2)
      q.processAllAvailable()
      assert(delta.deltaSize == 100)
      // the merged view now equals the full-corpus rebuild, bit-for-bit
      val rebuilt = graft.serve.MemoryAnnIndex.fromDataFrame(
        graft.operators.Ann.withIvfAssignment(annCorpus, "embedding", annCents),
        "vec_id", "embedding", "ivf_cell", annCents)
      annQueries.foreach { qv =>
        assert(delta.topK(qv, 9) == rebuilt.topK(qv, 9),
          s"streamed delta view != rebuild for $qv")
      }
    } finally q.stop()
  }

  test("ServingIndex: follows an in-place index rebuild; in-flight handles keep the old immutable index") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-servingidx").toString
    val cents1 = graft.operators.Ann.sampleCentroids(
      annCorpus.limit(100), "vec_id", "embedding", 4)
    graft.plans.AnnIndexMeta.buildIvfIndex(
      annCorpus.limit(100), "embedding", cents1, tmp)
    val handle = new graft.serve.ServingIndex(spark, tmp, "vec_id")
    val v1 = handle.current()
    assert(v1.size == 100)
    assert(handle.current() eq v1, "unchanged sidecar must not reload")
    // rebuild IN PLACE with the full corpus (new sidecar mtime)
    Thread.sleep(1100) // mtime granularity on this fs is 1 s
    graft.plans.AnnIndexMeta.buildIvfIndex(
      annCorpus, "embedding", cents1, tmp)
    val v2 = handle.current()
    assert(v2.size == 300, s"reload missed the rebuild: ${v2.size}")
    assert(!(v2 eq v1))
    // the old handle an in-flight request holds still answers
    assert(v1.topK(annQueries.head, 3).nonEmpty)
    // and the new one serves the rebuilt corpus's results
    val want = graft.operators.Ann
      .topK(annCorpus, "vec_id", "embedding", annQueries.head, 5)
      .select("vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(handle.topK(annQueries.head, 5) == want)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("ServingIndex: two publishes inside one mtime granule still reload (content-hash key)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-servingidx2").toString
    val cents1 = graft.operators.Ann.sampleCentroids(
      annCorpus.limit(100), "vec_id", "embedding", 4)
    graft.plans.AnnIndexMeta.buildIvfIndex(
      annCorpus.limit(100), "embedding", cents1, tmp)
    val handle = new graft.serve.ServingIndex(spark, tmp, "vec_id")
    assert(handle.current().size == 100)
    // rebuild IMMEDIATELY (same second on a 1 s-granularity fs) with
    // DIFFERENT centroids: the mtime may not move, the sidecar content
    // does — the cache key must notice
    val cents2 = graft.operators.Ann.sampleCentroids(
      annCorpus, "vec_id", "embedding", 3)
    graft.plans.AnnIndexMeta.buildIvfIndex(
      annCorpus, "embedding", cents2, tmp)
    val v2 = handle.current()
    assert(v2.size == 300 && v2.nCells == 3,
      s"same-granule publish not picked up: size=${v2.size} cells=${v2.nCells}")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("memory index load(): persisted partitionBy layout + sidecar round-trips") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-memidx").toString
    annAssigned.write.mode("overwrite").partitionBy("ivf_cell").parquet(tmp)
    graft.plans.AnnIndexMeta.write(spark, tmp, graft.plans.AnnIndexMeta.Meta(
      "embedding", "ivf_cell", nProbe = 2, centroids = annCents))
    val mem = graft.serve.MemoryAnnIndex.load(spark, tmp, "vec_id")
    val q = annQueries(1)
    val want = graft.operators.Ann
      .topK(annAssigned, "vec_id", "embedding", q, 5)
      .select("vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mem.topK(q, 5) == want)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  // ---- oversized limits: a request's `limit` must never size an
  // allocation or overflow an over-fetch

  test("huge limit: a covered door request with limit 2e9 == the job path's response bytes") {
    import graft.serve.{MemoryAnnIndex, MemoryServer}
    val mem = MemoryAnnIndex.fromDataFrame(annAssigned, "vec_id", "embedding",
      "ivf_cell", annCents)
    def door(m: Option[MemoryServer]) = new SemanticSearch(annAssigned,
      HashingTfEmbedder(8), idCol = "vec_id", embCol = "embedding", memory = m)
    val routedDoor = door(Some(new MemoryServer(mem, None)))
    val q = annQueries(2)
    val req = s"""{"query_vector":[${q.mkString(",")}],"columns":["vec_id"],""" +
      """"limit":2000000000}"""
    val (routed, covered) = routedDoor.searchRouted(req)
    assert(covered, "a huge limit must stay on the memory tier")
    assert(routed.count() == 300)
    assert(routedDoor.searchResponseJson(req) == door(None).searchResponseJson(req))
    val viaJson = new MemoryServer(mem, None).search(req)
    assert(viaJson.split("\"id\"").length - 1 == 300)
  }

  test("huge limit: the delta tier's base over-fetch saturates instead of overflowing") {
    import graft.operators.Ann
    val baseDf = annCorpus.where(col("vec_id") < 250)
    val base = graft.serve.MemoryAnnIndex.fromDataFrame(
      Ann.withIvfAssignment(baseDf, "embedding", annCents),
      "vec_id", "embedding", "ivf_cell", annCents)
    val delta = new graft.serve.DeltaAnnIndex(base)
    val added = annCorpus.where(col("vec_id") >= 250)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    added.foreach { case (id, v) => delta.add(id, v) }
    Seq(3L, 77L, 260L).foreach(delta.delete)
    // k + |hidden| used to wrap negative here, dropping the whole base
    val got = delta.topK(annQueries.head, Int.MaxValue)
    val want = Ann.topK(annCorpus.where(!col("vec_id").isin(3L, 77L, 260L)),
        "vec_id", "embedding", annQueries.head, 1000)
      .select("vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.size == 297 && got == want)
  }

  test("huge limit: MRL's k·rerankFactor pool saturates instead of overflowing") {
    import graft.operators.Ann
    val mem = graft.serve.MemoryMrlIndex.fromDataFrame(
      annCorpus, "vec_id", "embedding", prefixDim = 3)
    // (2^30)·4 wrapped to 0: an empty pool, then a null peek
    val got = mem.topK(annQueries.head, 1 << 30, rerankFactor = 4)
    val exact = Ann.topK(annCorpus, "vec_id", "embedding", annQueries.head, 300)
      .select("vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exact)
  }

  test("NaN scores rank first, as in Spark's descending sort: tier == Ann.topK") {
    import graft.operators.Ann
    val withNan = annCorpus.limit(40).unionByName(Seq(
        (7001L, Float.NaN +: Seq.fill(7)(0.5f)),
        (7000L, Seq.fill(7)(0.25f) :+ Float.NaN))
      .toDF("vec_id", "embedding")).localCheckpoint(true)
    val rows = withNan.collect().map(r => (r.getLong(0), r.getSeq[Float](1), 0)).toSeq
    val mem = graft.serve.MemoryAnnIndex.fromRows(rows, Seq(Seq.fill(8)(0.0f)))
    for (q <- annQueries; k <- Seq(1, 3, 42)) {
      val want = Ann.topK(withNan, "vec_id", "embedding", q, k)
        .select("vec_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = mem.topK(q, k)
      assert(got.map(_._1) == want.map(_._1), s"id order differs at k=$k")
      assert(got.map(g => java.lang.Double.doubleToLongBits(g._2)) ==
        want.map(w => java.lang.Double.doubleToLongBits(w._2)))
    }
    assert(mem.topK(annQueries.head, 2).map(_._1) == Seq(7000L, 7001L))
  }

  test("delta tier: an all-zero add is refused, as a rebuilt index's loader refuses it") {
    import graft.serve.{DeltaAnnIndex, MemoryAnnIndex}
    val base = MemoryAnnIndex.fromRows(Seq((1L, Seq(1.0f, 0.0f), 0)),
      Seq(Seq(0.0f, 0.0f)))
    val delta = new DeltaAnnIndex(base)
    intercept[IllegalArgumentException](delta.add(2L, Seq(0.0f, -0.0f)))
    intercept[IllegalArgumentException](MemoryAnnIndex.fromRows(
      Seq((2L, Seq(0.0f, -0.0f), 0)), Seq(Seq(0.0f, 0.0f))))
    assert(delta.deltaSize == 0)
    delta.add(2L, Seq(0.0f, 1.0f))
    assert(delta.topK(Seq(0.0f, 1.0f), 1).map(_._1) == Seq(2L))
  }

  test("sharded dense build evaluates its input plan once") {
    import graft.serve.{MemoryAnnIndex, Sharded}
    val evals = spark.sparkContext.longAccumulator("sharded-build-evals")
    val tap = udf((id: Long) => { evals.add(1L); id }).asNondeterministic()
    val counted = annAssigned.withColumn("vec_id", tap(col("vec_id")))
    val sharded = MemoryAnnIndex.sharded(counted, "vec_id",
      "embedding", "ivf_cell", annCents, nShards = 4)
    assert(evals.value == 300L,
      s"${evals.value} row evaluations for 300 rows: the input ran more than once")
    val whole = MemoryAnnIndex.fromDataFrame(annAssigned, "vec_id",
      "embedding", "ivf_cell", annCents)
    assert(sharded.size == 4 && sharded.map(_.size).sum == 300)
    annQueries.foreach(q => assert(Sharded.topK(sharded, 9)(_.topK(q, 9)) == whole.topK(q, 9)))
  }

  test("sharded tiers over an empty corpus answer as the unsharded ones: Nil, or dense refuses") {
    import graft.operators.{Bm25, Sparse}
    import graft.serve.{MemoryAnnIndex, MemoryPostingsIndex, MemorySparseIndex, Sharded}
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val postings = Bm25.buildPostings(noDocs, "doc_id", "text")
    val lex = MemoryPostingsIndex.sharded(postings, "doc_id", Map.empty, 1.0, nShards = 4)
    assert(MemoryPostingsIndex.fromDataFrame(postings, "doc_id", Map.empty, 1.0)
      .searchWand(Seq("dup"), 5).isEmpty)
    assert(Sharded.counted(lex, 5)(_.searchWandCounted(Seq("dup"), 5)) == ((Nil, 0L, 0L)))
    val sv = Sparse.tfVectors(noDocs, "doc_id", "text")
    val sparse = MemorySparseIndex.sharded(sv, "doc_id", nShards = 4)
    assert(MemorySparseIndex.fromDataFrame(sv, "doc_id").topKWand(Map("dup" -> 1L), 5).isEmpty)
    assert(Sharded.countedLong(sparse, 5)(_.topKWandCounted(Map("dup" -> 1L), 5)) ==
      ((Nil, 0L, 0L)))
    val noVecs = annAssigned.where(lit(false))
    intercept[IllegalArgumentException](MemoryAnnIndex.fromDataFrame(
      noVecs, "vec_id", "embedding", "ivf_cell", annCents))
    intercept[IllegalArgumentException](MemoryAnnIndex.sharded(
      noVecs, "vec_id", "embedding", "ivf_cell", annCents, nShards = 4))
  }

  // ---- one request rule and one response writer on every route

  /** A routed door and a job-only door over `annAssigned` with a string
    * (`cat`) and an integral (`grp`) metadata column loaded.
    */
  private lazy val tagged = annAssigned
    .withColumn("cat", concat(lit("cat"), pmod(col("vec_id"), lit(3)).cast("string")))
    .withColumn("grp", pmod(col("vec_id"), lit(7)).cast("int"))
    .withColumn("txt", concat(lit("doc "), col("vec_id").cast("string")))
    .localCheckpoint(true)
  private lazy val taggedServer = new graft.serve.MemoryServer(
    graft.serve.MemoryAnnIndex.fromDataFrame(tagged, "vec_id", "embedding",
      "ivf_cell", annCents, metaCols = Seq("cat", "grp")), None)
  private def taggedDoor(m: Option[graft.serve.ServingTier]) = new SemanticSearch(
    tagged, HashingTfEmbedder(8), idCol = "vec_id", textCol = "txt",
    embCol = "embedding", memory = m)
  private lazy val hybridDoor = {
    val postings = graft.operators.Bm25.buildPostings(lexDocs, "doc_id", "text")
      .localCheckpoint(true)
    val dfMap = postings.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = graft.operators.Bm25.idfByTerm(dfMap, 60L, spark)
    new graft.api.HybridSearch(annAssigned, "vec_id", "embedding", postings,
      "doc_id", idf, 8.0, memory = Some(new graft.serve.MemoryServer(
        graft.serve.MemoryAnnIndex.fromDataFrame(annAssigned, "vec_id",
          "embedding", "ivf_cell", annCents),
        Some(graft.serve.MemoryPostingsIndex.fromDataFrame(postings, "doc_id", idf, 8.0)))))
  }
  private def qvJson(q: Seq[Float]) = s""""query_vector":[${q.mkString(",")}]"""

  Seq("negative" -> "-1", "fractional" -> "2.5", "textual" -> "\"abc\"",
      "out-of-Int-range" -> "10000000000").foreach { case (cls, v) =>
    test(s"request integers: a $cls limit, pool_k or c is refused on every route") {
      val routed = taggedDoor(Some(taggedServer))
      val qv = qvJson(annQueries.head)
      val covered = s"""{$qv,"columns":["vec_id","cat"],"limit":$v}"""
      val uncovered = s"""{$qv,"columns":["vec_id","txt"],"limit":$v}"""
      val refusals: Seq[(String, () => Any)] = Seq(
        "covered door" -> (() => routed.searchResponseJson(covered)),
        "covered searchRouted" -> (() => routed.searchRouted(covered)),
        "uncovered door" -> (() => routed.searchResponseJson(uncovered)),
        "job door" -> (() => taggedDoor(None).searchResponseJson(covered)),
        "MemoryServer.search" -> (() => taggedServer.search(covered))) ++
        Seq("limit", "pool_k", "c").map(f => s"hybrid $f" -> (() => hybridDoor.search(
          s"""{$qv,"terms":["dup"],"$f":$v}""")))
      refusals.foreach { case (route, call) =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains("non-negative integer"), s"$route: ${e.getMessage}")
      }
    }
  }

  test("request integers: limit 0, an absent limit and a null limit keep their answers") {
    val routed = taggedDoor(Some(taggedServer))
    val job = taggedDoor(None)
    val qv = qvJson(annQueries(1))
    Seq(""","limit":0""", "", ""","limit":null""").foreach { lim =>
      Seq("""["vec_id","cat"]""", """["vec_id","txt"]""").foreach { cols =>
        val req = s"""{$qv,"columns":$cols$lim}"""
        val want = job.searchResponseJson(req)
        assert(routed.searchResponseJson(req) == want, req)
        val n = if (lim == ""","limit":0""") 0 else 5
        assert(want.split("\"vec_id\"").length - 1 == n, want)
      }
      val viaServer = taggedServer.search(s"""{$qv$lim}""")
      assert(viaServer.split("\"id\"").length - 1 ==
        (if (lim == ""","limit":0""") 0 else 5), viaServer)
    }
    assert(taggedServer.search(s"""{$qv,"limit":0}""") == """{"results":[]}""")
    assert(hybridDoor.search(s"""{$qv,"terms":["dup"],"limit":0}""").isEmpty)
    assert(hybridDoor.search(s"""{$qv,"terms":["dup"]}""").count() == 10)
  }

  test("covered door requests start no Spark work: 4 threads, 200 requests, job-door bytes") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val routed = taggedDoor(Some(taggedServer))
    val filters = Seq("", ""","filter":{"@eq":{"cat":"cat1"}}""",
      ""","filter":{"@and":[{"@ne":{"cat":"cat0"}},{"@gte":{"grp":3}}]}""",
      ""","filter":{"@or":[{"@eq":{"grp":2}},{"@contains":{"cat":"2"}}]}""")
    val reqs = for (q <- annQueries; f <- filters) yield
      s"""{${qvJson(q)},"columns":["vec_id","grp","cat"],"limit":6$f}"""
    val reqsWithText = reqs :+ """{"query":"doc 7","columns":["cat","vec_id"]}"""
    val want = reqsWithText.map(r => r -> taggedDoor(None).searchResponseJson(r)).toMap
    reqsWithText.foreach(r => assert(routed.searchRouted(r)._2, s"not covered: $r"))

    // jobs and SQL executions seen between two marker jobs; the listener
    // bus delivers in posting order, so the end marker drains it
    val jobs = new AtomicInteger(0)
    val executions = new AtomicInteger(0)
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var counting = false
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "no-work-start" => counting = true
          case "no-work-end" => counting = false; ended.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart if counting => executions.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    try {
      marker("no-work-start")
      val threads = (0 until 4).map { t =>
        val th = new Thread(() => (0 until 50).foreach { i =>
          val r = reqsWithText((t * 50 + i) % reqsWithText.size)
          got.add(r -> routed.searchResponseJson(r))
        })
        th.start(); th
      }
      threads.foreach(_.join(120000))
      marker("no-work-end")
      assert(ended.await(60, TimeUnit.SECONDS), "end marker never delivered")
    } finally sc.removeSparkListener(listener)
    assert(got.size == 200)
    assert(jobs.get == 0 && executions.get == 0,
      s"covered requests started ${jobs.get} jobs and ${executions.get} SQL executions")
    got.forEach { case (r, resp) => assert(resp == want(r), s"bytes differ for $r") }
  }

  /** Strings whose JSON escapes differ between writers if they differ at all. */
  private val awkward = Seq("\"", "\\", "/", "</script>", "\n\r\t\b\f", "\u0001",
    "\u001F", "\u007F", "\u2028", "é", "中", "\uD83D\uDE00", "", "plain")

  test("escaping: covered responses == the job door's bytes for awkward metadata strings") {
    val labels = awkward.zipWithIndex.toDF("label", "li")
    val corpus = annAssigned
      .withColumn("li", pmod(col("vec_id"), lit(awkward.size)).cast("int"))
      .join(labels, "li").drop("li").localCheckpoint(true)
    val mem = graft.serve.MemoryAnnIndex.fromDataFrame(corpus, "vec_id",
      "embedding", "ivf_cell", annCents, metaCols = Seq("label"))
    def door(m: Option[graft.serve.MemoryServer]) = new SemanticSearch(corpus,
      HashingTfEmbedder(8), idCol = "vec_id", embCol = "embedding", memory = m)
    val routed = door(Some(new graft.serve.MemoryServer(mem, None)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val qv = qvJson(annQueries(3))
    val reqs = s"""{$qv,"columns":["vec_id","label"],"limit":300}""" +:
      awkward.map(a => s"""{$qv,"columns":["label","vec_id"],"limit":3,""" +
        s""""filter":{"@eq":{"label":${mapper.writeValueAsString(a)}}}}""")
    reqs.foreach { r =>
      val (_, covered) = routed.searchRouted(r)
      assert(covered, s"not covered: $r")
      assert(routed.searchResponseJson(r) == door(None).searchResponseJson(r),
        s"bytes differ for $r")
    }
    // every awkward value made it into the full listing
    val all = mapper.readTree(routed.searchResponseJson(reqs.head)).get("results")
    assert(all.size == 300)
    assert((0 until 300).map(i => all.get(i).get("label").asText()).toSet == awkward.toSet)
    // the loader refuses a null string value, so the door never serves
    // one; the writer still omits a null field exactly as to_json does
    intercept[IllegalArgumentException](graft.serve.MemoryAnnIndex.fromDataFrame(
      corpus.withColumn("label", when(col("vec_id") === 5, lit(null)).otherwise(col("label"))),
      "vec_id", "embedding", "ivf_cell", annCents, metaCols = Seq("label")))
    val rows = (awkward.map(Option(_)) :+ None).zipWithIndex
      .map { case (a, i) => (i.toString, a.orNull, if (i % 2 == 0) null else "x") }
    val viaSpark = rows.toDF("id", "a", "b").select(to_json(struct(col("*"))))
      .collect().map(_.getString(0)).toSeq
    assert(graft.serve.ResponseJson.rows(Seq("id", "a", "b"),
      rows.map { case (i, a, b) => Seq(i, a, b) }) ==
      graft.serve.ResponseJson.rendered(viaSpark))
  }
}
