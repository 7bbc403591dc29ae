package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span has a name, start
  * and end (System.nanoTime), the id of the span that caused it and the
  * request it belongs to. Spans are only recorded inside [[request]]; any
  * other call pays one thread-local read per wrapped call.
  */
object Trace {

  final case class Rec(id: Int, parent: Int, req: Long, name: String,
                       startNs: Long, endNs: Long)

  private val ids = new AtomicInteger(0)
  val recs = new ConcurrentLinkedQueue[Rec]()
  // request id -> id of its root span, so spans recorded off the request
  // thread (Spark jobs) can attach to the request that caused them
  private val roots = new ConcurrentHashMap[java.lang.Long, Integer]()

  private final class Ctx { var req = -1L; var stack: List[Int] = Nil }
  private val ctx = ThreadLocal.withInitial[Ctx](() => new Ctx)

  /** Run `body` as traced request `req` of the calling thread. */
  def request[T](req: Long)(body: => T): T = {
    val c = ctx.get
    c.req = req
    try body finally { c.req = -1L; c.stack = Nil }
  }

  /** Whether the calling thread is inside a traced request. */
  def active: Boolean = ctx.get.req >= 0

  def span[T](name: String)(body: => T): T = {
    val c = ctx.get
    if (c.req < 0) body
    else {
      val id = ids.incrementAndGet()
      val parent = c.stack.headOption.getOrElse(0)
      if (parent == 0) roots.put(c.req, id)
      c.stack = id :: c.stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        c.stack = c.stack.tail
        recs.add(Rec(id, parent, c.req, name, t0, t1))
      }
    }
  }

  /** Record a span measured elsewhere (wall-clock millis, converted onto
    * the nanoTime axis) as a child of request `req`'s root span.
    */
  def external(req: Long, name: String, startMs: Long, endMs: Long): Unit = {
    val parent = Option(roots.get(req)).map(_.intValue).getOrElse(0)
    recs.add(Rec(ids.incrementAndGet(), parent, req, name,
      msToNs(startMs), msToNs(endMs)))
  }

  private val (epochMs0, nano0) = (System.currentTimeMillis(), System.nanoTime())
  private def msToNs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  def dump(): java.util.List[java.util.List[Any]] =
    recs.asScala.toSeq.sortBy(_.id).map { r =>
      java.util.List.of[Any](r.id, r.parent, r.req, r.name, r.startNs, r.endNs)
    }.asJava
}

/** Spark-side counters of the traced run, gathered by a listener. Jobs are
  * tagged by their job group: `req-<n>` for a door request's fallback job,
  * `build-<query>`/`exec-<query>` for a batch query's two phases.
  */
final class SparkTrace extends SparkListener {
  private val jobGroup = new ConcurrentHashMap[Integer, String]()
  private val jobStartMs = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val stageSubmitMs = new ConcurrentHashMap[Integer, java.lang.Long]()
  val jobs = new ConcurrentLinkedQueue[(String, Long)]() // (group, wall ms)
  val taskWaitMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val n = new ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()

  private def add(k: String, v: Long): Unit =
    n.computeIfAbsent(k, _ => new java.util.concurrent.atomic.LongAdder).add(v)
  def count(k: String): Long = Option(n.get(k)).map(_.sum).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    jobStartMs.put(e.jobId, e.time)
    add("stages", e.stageInfos.size.toLong)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = Option(jobGroup.remove(e.jobId)).getOrElse("")
    val t0 = Option(jobStartMs.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    jobs.add((g, e.time - t0))
    if (g.startsWith("req-")) Trace.external(g.drop(4).toLong, "spark.job", t0, e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages_run", 1)
    if (e.stageInfo.numTasks == 1) add("single_task_stages", 1)
    stageSubmitMs.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    Option(stageSubmitMs.get(e.stageId)).foreach(s =>
      taskWaitMs.add(math.max(0L, e.taskInfo.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      add("task_busy_ms", m.executorRunTime)
      add("shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Everything gathered, as plain JSON-able values. */
  def snapshot(): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    Seq("stages", "stages_run", "single_task_stages", "tasks", "task_busy_ms",
      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
      .foreach(k => m.put(k, count(k)))
    m.put("jobs", jobs.asScala.toSeq.map { case (g, ms) =>
      java.util.List.of[Any](g, ms) }.asJava)
    m.put("task_wait_ms", taskWaitMs.asScala.toSeq.asJava)
    m
  }
}
