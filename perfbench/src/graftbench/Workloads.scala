package graftbench

import java.util.{LinkedHashMap => JMap}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{CacheDecision, IndexBuilder, ResultCache, SemanticSearch}
import graft.embed.HashingTfEmbedder
import graft.llm.TemplateCompleter
import graft.serve.{BoundedDelta, DeltaAnnIndex, MemoryAnnIndex, MemoryServer}

/** What a workload run hands back to [[Main]]: the measured phases plus
  * set-up times, output checks and workload properties.
  */
final class RunOut {
  val phases = scala.collection.mutable.ArrayBuffer.empty[Phase]
  val layer = new JMap[String, Any]()
  val props = new JMap[String, Any]()
  val notes = scala.collection.mutable.ArrayBuffer.empty[String]
  var checked = 0
  var checkFailed = 0
  var readyNs = 0L
  var heapMb = 0.0
  var gc0 = (0L, 0L)
  var gc1 = (0L, 0L)

  /** The heap retained after full GCs, once the index is loaded and warm. */
  def heap(): Unit = {
    // the least of several collections: Spark's cleaner and listener
    // threads free (or briefly hold) more between collections
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    heapMb = (1 to 5).map { _ =>
      System.gc(); Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Set-up is over: the first timed request is due now. */
  def ready(): Unit = {
    readyNs = System.nanoTime()
    gc0 = RunOut.gc()
  }

  /** The measured phases are over. */
  def measured(): Unit = gc1 = RunOut.gc()
}

object RunOut {
  /** (collection ms, collection count) over all collectors so far. */
  def gc(): (Long, Long) = {
    val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime.max(0L)).sum, bs.map(_.getCollectionCount.max(0L)).sum)
  }
}

/** Shared run context: session, config, seed, measured seconds, trace. */
final case class Ctx(spark: SparkSession, conf: com.fasterxml.jackson.databind.JsonNode,
                     seed: Long, seconds: Double, trace: Boolean, work: String,
                     threads: Int) {
  def int(k: String): Int = conf.get(k).asInt()
  def dbl(k: String): Double = conf.get(k).asDouble()
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e9)
  }
  /** Run `n` warm-up tasks on `threads` workers, then let the JIT finish. */
  def warm(n: Int)(task: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    (0 until n).foreach(i => pool.execute(() => try task(i) catch { case _: Throwable => () }))
    pool.shutdown(); pool.awaitTermination(10, TimeUnit.MINUTES)
    jitSettle()
  }

  /** Wait until the JIT compilers have been idle for 300 ms (at most 5 s):
    * warm-up saturates every core, which starves the compiler threads, and
    * their backlog would otherwise compile during the measured window.
    */
  def jitSettle(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var now = jit.getTotalCompilationTime
    while (now != last && System.nanoTime() < deadline) {
      last = now; Thread.sleep(300); now = jit.getTotalCompilationTime
    }
  }
}

object Workloads {

  private val mapper = new ObjectMapper()
  val Dim = 768
  /** Requests generated for the closed loop beyond the open loop's. */
  private val ClosedCap = 20000
  /** Seconds of untimed requests at the open loop's rate before it is
    * timed. With a shorter warm-up and no lead-in, the first ~4 s of the
    * open loop ran up to twice as slow as the rest (the compilers were
    * still catching up with the serving mix), and that transient, not the
    * steady state, made the tail.
    */
  private val LeadInS = 2.0
  /** Rounds of open then closed loop in the window. The door still gets
    * faster from round to round, and the closed loop, which saturates every
    * core, drifts with the host; pooling three stretches of each phase
    * keeps one stretch from setting a metric.
    */
  private val Rounds = 3
  // The cache phase of a traced `door_1x` run. The topic count and the Zipf
  // exponent are assumptions (see Gen.cacheQueries); the delta bound is
  // the reference's.
  private val CacheRate = 20.0
  private val CacheSeconds = 6.0
  private val CacheTopics = 3000
  private val CacheZipfS = 0.8
  private val MaxDeltaDocs = 1000L
  /** Writes in the cache phase until its preloaded delta folds. */
  private val FoldAfter = 30

  /** Index the corpus the way a deployment does: embed + persist with
    * [[IndexBuilder]], reload, and load the exact memory tier from it.
    */
  private def buildIndex(c: Ctx, docs: Seq[Gen.Doc], dir: String,
                         metaCols: Seq[String], out: RunOut): (DataFrame, MemoryAnnIndex) = {
    val emb = HashingTfEmbedder(Dim)
    val (index, buildS) = c.timed(IndexBuilder.buildAndPersist(
      Gen.corpusFrame(c.spark, docs), emb, dir))
    val (mem, loadS) = c.timed(MemoryAnnIndex.fromDataFrame(
      index.withColumn("_cell", lit(0)), "ID", "EMBEDDING", "_cell",
      Seq(Seq.fill(Dim)(1.0f)), metaCols))
    out.layer.put("api.index_build_s", buildS)
    out.layer.put("serve.load_s", loadS)
    (index, mem)
  }

  /** The measured window: `Rounds` rounds of an open loop (3/4 of the
    * round) then a closed loop (1/4). The first open loop starts with a
    * lead-in of `warm` requests, which ends set-up. A traced run traces
    * every other open-loop request (the untraced half is the baseline of
    * the tracing overhead) and the whole closed loops.
    */
  private def serve(c: Ctx, out: RunOut, rate: Double, cap: Int, warm: Int => Unit,
                    plain: Int => (Boolean, Int), traced: Int => (Boolean, Int)): Unit = {
    val drain = 20.0
    val openTask = if (c.trace) (i: Int) => if (i % 2 == 1) traced(i) else plain(i) else plain
    val round = c.seconds / Rounds
    var next = 0
    (0 until Rounds).foreach { r =>
      val open = Load.open("open", rate, round * 0.75, c.threads, next, drain,
        if (r == 0) LeadInS else 0.0, warm, if (r == 0) () => out.ready() else () => ())(openTask)
      out.phases += open
      next += open.sent
      val closed = Load.closed("closed", round * 0.25, c.threads, next,
        cap - next)(if (c.trace) traced else plain)
      out.phases += closed
      next += closed.sent
    }
    out.measured()
  }

  private def resultRows(json: String): Seq[Map[String, String]] =
    mapper.readTree(json).get("results").elements().asScala.map { r =>
      r.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.toSeq

  // ---------------------------------------------------------------- door

  /** `door_1x`: filtered text requests through
    * [[SemanticSearch.searchResponseJson]] with the exact memory tier
    * attached.
    */
  def door(c: Ctx, out: RunOut): Unit = {
    val nDocs = c.int("docs")
    val warmN = c.int("warm_requests")
    val rate = c.dbl("rate")
    val cap = (rate * c.seconds).toInt + ClosedCap
    val docs = Gen.corpus(c.seed, nDocs)
    // the measured stream is covered requests; the uncovered ones (the
    // Spark fallback) run after it, one at a time, as their own phase
    val nFallback = c.int("fallback_requests")
    val reqs = Gen.doorRequests(c.seed, docs, cap, fallback = false) ++
      Gen.doorRequests(c.seed + 2, docs, nFallback, fallback = true)
    // warm-up: many covered requests (their per-request code needs many
    // calls to reach compiled steady state) and a few fallbacks
    val warmReqs = Gen.doorRequests(c.seed + 1, docs, warmN, fallback = false) ++
      Gen.doorRequests(c.seed + 3, docs, math.min(nFallback, 2), fallback = true)
    val byId = docs.map(d => d.id -> d).toMap
    val meta = Seq("SPORT_TYPE", "DIFFICULTY", "MOVING_TIME_SECONDS")
    val (index, mem) = buildIndex(c, docs, s"${c.work}/index", meta, out)
    val door = new SemanticSearch(index, HashingTfEmbedder(Dim),
      memory = Some(new MemoryServer(mem, None)))
    c.warm(warmReqs.size)(i => door.searchResponseJson(warmReqs(i).json))
    out.heap()
    val tracedDoor = new SemanticSearch(index, new TracedEmbedder(HashingTfEmbedder(Dim)),
      memory = Some(new TracedTier(new MemoryServer(mem, None))))
    val responses = new Array[String](reqs.size)
    def run(d: SemanticSearch, tracedRun: Boolean)(i: Int): (Boolean, Int) = {
      val r = reqs(i)
      val resp =
        if (!tracedRun) d.searchResponseJson(r.json)
        else Trace.request(i) {
          val sc = c.spark.sparkContext
          sc.setJobGroup(s"req-$i", "door request", interruptOnCancel = false)
          try Trace.span("api.door")(d.searchResponseJson(r.json))
          finally sc.clearJobGroup()
        }
      responses(i) = resp
      (resp != null, if (r.fallback) 1 else 0)
    }
    val listener = new SparkTrace
    if (c.trace) c.spark.sparkContext.addSparkListener(listener)
    serve(c, out, rate, cap, i => door.searchResponseJson(warmReqs(i % warmReqs.size).json),
      run(door, tracedRun = false), run(tracedDoor, tracedRun = true))
    out.phases += Load.passes("fallback", 1, nFallback, cap)(
      run(if (c.trace) tracedDoor else door, c.trace))
    listenerOut(c, out, listener) // before the checks, whose jobs are not requests

    // ---- output checks, outside the timed window
    val plain = new SemanticSearch(index, HashingTfEmbedder(Dim))
    val rnd = new java.util.SplittableRandom(c.seed ^ 0xc0ffeeL)
    def fail(p: Phase, j: Int, why: String): Unit = {
      p.ok(j) = false
      if (out.notes.size < 5) out.notes += s"request ${p.first + j}: $why"
    }
    var rowsChecked = 0
    out.phases.foreach { p =>
      (0 until p.sent).filter(p.ok(_)).foreach { j =>
        val r = reqs(p.first + j)
        val resp = responses(p.first + j)
        rowsChecked += 1
        val rows = scala.util.Try(resultRows(resp)).getOrElse(null)
        val good = rows != null &&
          rows.size == math.min(Gen.Limit, r.candidates) &&
          rows.forall { row =>
            byId.get(row("ID").toLong).exists { d =>
              r.filterOf(d) && row("SPORT_TYPE") == d.sport &&
                row("DIFFICULTY") == d.difficulty &&
                row("MOVING_TIME_SECONDS") == d.movingS.toString
            }
          }
        if (!good) fail(p, j, s"bad rows: ${String.valueOf(resp).take(200)}")
      }
    }
    // the door's promise: a covered response is byte-identical to the
    // Spark path's answer over the same index
    val covered = out.phases.toSeq.flatMap { p =>
      (0 until p.sent).filter(j => p.ok(j) && p.tag(j) == 0).map(j => (p, j))
    }
    val picks = if (covered.isEmpty) Nil
      else Seq.fill(math.min(c.int("check_sample"), covered.size))(
        covered(rnd.nextInt(covered.size))).distinct
    picks.foreach { case (p, j) =>
      val i = p.first + j
      if (plain.searchResponseJson(reqs(i).json) != responses(i))
        fail(p, j, "tier response differs from the Spark path")
    }
    out.props.put("rows_checked", rowsChecked)
    out.props.put("bit_identity_checked", picks.size)

    val measured = out.phases.flatMap(p => (0 until p.sent).map(j => reqs(p.first + j)))
    out.props.put("rows", nDocs)
    out.props.put("dim", Dim)
    out.props.put("vector_bytes", nDocs.toLong * Dim * 4)
    out.props.put("filtered_share", 1.0)
    out.props.put("fallback_share", measured.count(_.fallback).toDouble / measured.size.max(1))
    Gen.Shapes.foreach(sh => out.props.put(s"shape_${sh}_share",
      measured.count(_.shape == sh).toDouble / measured.size.max(1)))
    out.props.put("fallback_candidates", reqs.filter(_.fallback).map(_.candidates.toDouble)
      .sum / nFallback.max(1))
    out.props.put("mean_candidates", measured.filterNot(_.fallback).map(_.candidates.toDouble)
      .sum / measured.count(!_.fallback).max(1))
    out.props.put("results_per_candidate", measured.filter(r => !r.fallback && r.candidates > 0)
      .map(r => math.min(Gen.Limit, r.candidates).toDouble / r.candidates).sum /
      measured.count(r => !r.fallback && r.candidates > 0).max(1))
    out.props.put("request_stream_hash", streamHash(reqs.map(_.json)))
    if (c.trace) cachePhase(c, out, index, nDocs, reqs.size)
  }

  // ------------------------------------------------------- semantic cache

  /** The reference's caching loop with write-back, over `door_1x`'s
    * persisted index, after its measured window and only in a traced run:
    * it gives the numbers of the cache, delta and completer layers. As a
    * gated workload of its own it was not steady: one ~20 ms scan at a
    * time behind the cache lock, which CPU steal stretches, put its tail's
    * spread across seeds at 0.23 to 0.47 (IQR/median).
    *
    * Each request calls [[ResultCache.getOrCompute]]. A miss embeds the
    * query and takes the top-1 result; a score over 0.70 is a hit.
    * Otherwise [[TemplateCompleter]] writes a workout, which is embedded
    * and added to the delta. Written-back workouts from another topic pool
    * preload the delta to FoldAfter writes short of its bound, so one fold
    * lands early in the phase.
    */
  private def cachePhase(c: Ctx, out: RunOut, index: DataFrame, nDocs: Int,
                         first: Int): Unit = {
    val n = (CacheRate * CacheSeconds).toInt
    val queries = Gen.cacheQueries(c.seed + 5, CacheTopics, n, CacheZipfS)
    val warmQs = Gen.cacheQueries(c.seed + 6, CacheTopics, 100, CacheZipfS)
    val preloadQs = Gen.cacheQueries(c.seed + 4, CacheTopics, MaxDeltaDocs.toInt, 0.0)
    val completer = new TemplateCompleter
    val model = "offline-template"
    val emb = HashingTfEmbedder(Dim)
    // a tier without metadata columns: a fold refuses a filtered base
    val base = MemoryAnnIndex.fromDataFrame(index.withColumn("_cell", lit(0)), "ID",
      "EMBEDDING", "_cell", Seq(Seq.fill(Dim)(1.0f)), Nil)

    final class Loop {
      val delta = new BoundedDelta(new DeltaAnnIndex(base), MaxDeltaDocs)
      val cache = new ResultCache[String]()
      val ids = new AtomicLong(10000000L)
      val written = new ConcurrentLinkedQueue[(Long, String)]()
      val foldMs = new ConcurrentLinkedQueue[java.lang.Double]()
      val deltaSizes = new ConcurrentLinkedQueue[java.lang.Long]()
      private val computed = new ThreadLocal[Integer]

      /** Write back a generated workout for each of `qs`, outside any request. */
      def preload(qs: Seq[String]): Unit = qs.foreach { q =>
        delta.write(_.add(ids.incrementAndGet(), emb.embed(completer.complete(model, q)).toSeq))
      }

      private def miss(q: String): String = {
        val v = emb.embed(q)
        val top = Trace.span("serve.delta.topk")(delta.get.topK(v.toSeq, 1))
        if (top.nonEmpty && top.head._2 > CacheDecision.ScriptGood) {
          computed.set(1); s"hit:${top.head._1}"
        } else {
          computed.set(2)
          val text = Trace.span("llm")(completer.complete(model, q))
          val dv = emb.embed(text).toSeq
          val id = ids.incrementAndGet()
          val folds0 = delta.republishCount
          val t0 = System.nanoTime()
          Trace.span("serve.delta.write")(delta.write(_.add(id, dv)))
          if (delta.republishCount != folds0) foldMs.add((System.nanoTime() - t0) / 1e6)
          deltaSizes.add(delta.get.deltaSize)
          written.add((id, text))
          s"gen:$id"
        }
      }

      /** One request; tag 0 = exact repeat, 1 = semantic hit, 2 = generated. */
      def apply(q: String): (Boolean, Int) = {
        computed.set(0)
        val v = Trace.span("api.cache")(cache.getOrCompute(q)(
          Trace.span("api.cache.compute")(miss(q))))
        (v != null, computed.get)
      }
    }

    // warm-up preloads up to the bound, so it also runs one fold
    val w = new Loop
    w.preload(preloadQs)
    warmQs.foreach(w(_)) // the loop is serial under the cache lock
    val loop = new Loop
    loop.preload(preloadQs.take(MaxDeltaDocs.toInt - FoldAfter))
    c.jitSettle()
    out.phases += Load.open("cache", CacheRate, CacheSeconds, c.threads, first, 20.0)(
      i => Trace.request(i)(loop(queries(i - first))))

    // ---- output check: every written-back doc is found again by its text
    val written = loop.written.asScala.toIndexedSeq
    val rnd = new java.util.SplittableRandom(c.seed ^ 0xc0ffeeL)
    val sample = if (written.size <= 40) written
      else Seq.fill(40)(written(rnd.nextInt(written.size))).distinct
    sample.foreach { case (id, text) =>
      out.checked += 1
      val top = loop.delta.get.topK(emb.embed(text).toSeq, 1)
      if (top.isEmpty || !(top.head._2 > CacheDecision.ScriptGood)) {
        out.checkFailed += 1
        if (out.notes.size < 5) out.notes += s"written doc $id not found again: $top"
      }
    }
    out.layer.put("api.cache.hits", loop.cache.hits)
    out.layer.put("api.cache.misses", loop.cache.misses)
    out.layer.put("serve.delta.folds", loop.delta.republishCount)
    out.layer.put("serve.delta.fold_ms", loop.foldMs.asScala.toSeq.asJava)
    out.layer.put("serve.delta.sizes", loop.deltaSizes.asScala.toSeq.asJava)
    out.props.put("cache_rows", nDocs + MaxDeltaDocs - FoldAfter)
    out.props.put("cache_writes_checked", sample.size)
    out.props.put("cache_stream_hash", streamHash(queries))
  }

  // ------------------------------------------------------- batch queries

  /** `batch_queries`: gated queries from [[graft.SparkEntry.queries]], each
    * built and then run to the `noop` sink, in a seed-permuted order.
    */
  def batch(c: Ctx, out: RunOut): Unit = {
    val names = c.conf.get("queries").elements().asScala.map(_.asText()).toIndexedSeq
    val expected = c.conf.get("expected")
    val rnd = new java.util.SplittableRandom(c.seed ^ 0xba7c4L)
    def permuted(): IndexedSeq[String] = {
      val a = names.toArray
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toIndexedSeq
    }
    val order = permuted()
    val dir = s"${c.work}/tables"
    Gen.writeBatchTables(c.spark, dir, c.int("docs"), c.int("orders"))
    // the warm pass collects each result and checks it against the
    // row count and hash recorded for the query
    order.foreach { q =>
      val rows = graft.SparkEntry.queries(q)(c.spark, dir).collect()
      out.checked += 1
      val got = s"${rows.length}:${rowsHash(rows)}"
      val want = Option(expected.get(q)).map(_.asText()).getOrElse("")
      if (got != want) {
        out.checkFailed += 1
        out.notes += s"$q: rows:hash $got, recorded $want"
      }
    }
    c.jitSettle()
    out.heap()
    out.ready()
    val stream = IndexedSeq.fill(64)(permuted()).flatten
    val buildNs = new Array[Long](stream.size)
    def run(tracedRun: Boolean)(i: Int): (Boolean, Int) = {
      val q = stream(i)
      val sc = c.spark.sparkContext
      val t0 = System.nanoTime()
      if (tracedRun) sc.setJobGroup(s"build-$q", q, interruptOnCancel = false)
      val df = graft.SparkEntry.queries(q)(c.spark, dir)
      val t1 = System.nanoTime()
      if (tracedRun) sc.setJobGroup(s"exec-$q", q, interruptOnCancel = false)
      df.write.format("noop").mode("overwrite").save()
      if (tracedRun) sc.clearJobGroup()
      buildNs(i) = t1 - t0
      (true, names.indexOf(q))
    }
    val listener = new SparkTrace
    // several passes: a query's latency is its median over them, as one
    // multi-second Spark job read once spread 0.34 across seeds
    val seq = Load.passes("sequential", c.int("passes"), names.size, 0)(run(tracedRun = false))
    out.phases += seq
    if (c.trace) {
      c.spark.sparkContext.addSparkListener(listener)
      val tseq = Load.passes("sequential_traced", 1, names.size, seq.sent)(run(tracedRun = true))
      out.phases += tseq
    } else {
      val closed = Load.closed("closed", c.seconds / 4, c.threads, seq.sent,
        stream.size - seq.sent)(run(tracedRun = false))
      out.phases += closed
    }
    out.measured()
    out.layer.put("entry.build_ns", buildNs.toSeq.asJava)
    listenerOut(c, out, listener)
    out.props.put("rows", c.int("docs"))
    out.props.put("orders", c.int("orders"))
    out.props.put("queries", names.size)
    out.props.put("request_stream_hash", streamHash(stream))
  }

  /** Order-insensitive content hash of a collected result. */
  def rowsHash(rows: Array[org.apache.spark.sql.Row]): String = {
    var h = 0L
    rows.foreach(r => h += (scala.util.hashing.MurmurHash3.stringHash(
      r.toSeq.map(String.valueOf).mkString("\u0001")) & 0xffffffffL))
    java.lang.Long.toHexString(h)
  }

  private def streamHash(xs: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach(x => { md.update(x.getBytes("UTF-8")); md.update(0.toByte) })
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Wait for the listener bus to deliver the last events, then export. */
  private def listenerOut(c: Ctx, out: RunOut, l: SparkTrace): Unit = if (c.trace) {
    var last = -1L
    while (l.jobs.size.toLong != last) { last = l.jobs.size; Thread.sleep(300) }
    c.spark.sparkContext.removeSparkListener(l)
    out.layer.put("spark", l.snapshot())
  }
}
