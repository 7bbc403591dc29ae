package graft

import org.apache.spark.sql.functions._

import graft.api.{CachedSearch, IndexBuilder, ResultCache, SemanticSearch}
import graft.embed.HashingTfEmbedder
import graft.operators.Skew

class SkewAndCacheSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals unsalted join exactly, spread over salt reducers") {
    val facts = Seq.tabulate(500)(i =>
      (if (i % 5 == 0) 1L else i.toLong % 50, s"v$i")).toDF("k", "payload")
    val dims = Seq.tabulate(50)(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val expected = facts.join(dims, Seq("k"), "inner")
      .select("k", "payload", "name").collect().map(_.toString).sorted.toSeq
    val got = Skew.saltedJoin(facts, dims, "k", salt = 8)
      .select("k", "payload", "name").collect().map(_.toString).sorted.toSeq
    assert(got == expected)
  }

  /** The other half of the skew story: salting handles KNOWN hot keys
    * structurally; AQE's skew join handles the ones discovered at runtime.
    * Thresholds default to cluster scale, so the test lowers them until a
    * deliberately skewed shuffle join is split — the executed SMJ must be
    * marked as skew-handled. This pins the conf the engine relies on, not
    * just the claim in SCALE.md.
    */
  test("AQE splits a runtime-skewed sort-merge join (skew=true in final plan)") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one giant key (80% of rows) against a uniform dim side
      val facts = Seq.tabulate(20000)(i =>
        (if (i % 5 != 0) 7L else i.toLong % 40, s"payload-$i-${"x" * 32}"))
        .toDF("k", "payload")
      val dims = Seq.tabulate(40)(i => (i.toLong, s"dim$i")).toDF("k", "name")
      val joined = facts.join(dims, Seq("k"), "inner")
      // collect() executes THIS queryExecution so the AdaptiveSparkPlan
      // mutates to its final form (a write would clone the plan)
      assert(joined.collect().length == 20000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew-join split in final plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("result cache: TTL-bounded LRU with injectable clock") {
    var now = 0L
    val cache = new ResultCache[String](maxEntries = 2, ttlMillis = 1000L,
      clock = () => now)
    var computes = 0
    def get(k: String) = cache.getOrCompute(k) { computes += 1; s"r-$k" }

    assert(get("a") == "r-a" && computes == 1)
    assert(get("a") == "r-a" && computes == 1) // hit
    now = 500
    assert(get("a") == "r-a" && computes == 1) // still fresh
    now = 1600
    assert(get("a") == "r-a" && computes == 2) // expired -> recompute
    get("b"); get("c")                          // evicts LRU beyond 2 entries
    assert(cache.size <= 2)
    assert(cache.hits == 2 && cache.misses == 4)
  }

  test("result cache is single-flight: hits never wait on another key; one compute per key") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val cache = new ResultCache[String]()
    val pool = Executors.newFixedThreadPool(9)
    def async[T](body: => T) = pool.submit(() => body)
    // the compute runs until `n` requests have joined it (each joiner
    // counts as a hit before it waits), so the joins are not a race
    def untilJoined(h0: Long, n: Int): Unit = {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(20)
      while (cache.hits < h0 + n && System.nanoTime() < deadline) Thread.sleep(1)
    }
    try {
      assert(cache.getOrCompute("B")("b") == "b")
      // a hit on B returns while a miss on A is blocked in its compute
      val entered = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val a = async(cache.getOrCompute("A") { entered.countDown(); release.await(); "a" })
      assert(entered.await(20, TimeUnit.SECONDS))
      val b = async(cache.getOrCompute("B")(sys.error("B is cached")))
      assert(b.get(5, TimeUnit.SECONDS) == "b", "the hit waited on A's compute")
      assert(!a.isDone)
      release.countDown()
      assert(a.get(20, TimeUnit.SECONDS) == "a")

      // 8 concurrent misses on one key compute once; 7 join as hits
      val computes = new AtomicInteger(0)
      val (h0, m0) = (cache.hits, cache.misses)
      val cs = (0 until 8).map(_ => async(cache.getOrCompute("C") {
        untilJoined(h0, 7); computes.incrementAndGet(); "c"
      }))
      assert(cs.map(_.get(30, TimeUnit.SECONDS)) == Seq.fill(8)("c"))
      assert(computes.get == 1 && cache.hits == h0 + 7 && cache.misses == m0 + 1)

      // a failed compute reaches every joined request and is not cached
      val boom = new IllegalStateException("boom")
      val h1 = cache.hits
      val fs = (0 until 4).map(_ => async(scala.util.Try(cache.getOrCompute("F") {
        untilJoined(h1, 3); throw boom
      })))
      assert(fs.map(_.get(30, TimeUnit.SECONDS).failed.get).forall(_ eq boom))
      assert(cache.getOrCompute("F")("f") == "f" && cache.size == 4)
    } finally pool.shutdownNow()
  }

  test("cached search: identical request JSON short-circuits the second job") {
    val corpus = Seq(("D1", "alpha beta gamma"), ("D2", "delta epsilon"))
      .toDF("ID", "EMBED_STR")
    val embedder = HashingTfEmbedder(64)
    val search = new SemanticSearch(
      IndexBuilder.withEmbeddings(corpus, embedder), embedder)
    val cache = new ResultCache[String]()
    val cached = new CachedSearch(search, cache)
    val req = """{"query":"alpha","columns":["ID"],"limit":1}"""
    val r1 = cached.searchResponseJson(req)
    val r2 = cached.searchResponseJson(req)
    assert(r1 == r2 && r1.contains("D1"))
    assert(cache.hits == 1 && cache.misses == 1)
  }

  test("GraftSession registers SQL functions on an attached session") {
    val s2 = graft.api.GraftSession.getOrCreate()
    assert(s2.sql("SELECT cosine_similarity(array(1.0F,0.0F), array(1.0F,0.0F)) c")
      .head().getDouble(0) == 1.0)
    assert(s2.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
