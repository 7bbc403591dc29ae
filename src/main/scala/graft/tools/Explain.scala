package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.StageBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.api.GraftSession

/** Query inspector: `runMain graft.tools.Explain <sfDir> <query> [<query>...]`
  * runs each named query (every query when none is named) on a
  * [[GraftSession]] and prints its formatted physical plan, the build and
  * exec seconds of a noop-sink run, and one line per stage of that run —
  * the headless stand-in for the Spark UI's stage table. Name a query
  * twice for a JIT-warm second run.
  *
  * Stage columns: wall duration, tasks, summed executor run and CPU time,
  * input / shuffle-read / shuffle-write bytes and records, median and max
  * task time with their ratio (skew), memory / disk spill, then what the
  * stage ran. Adaptive query stages all carry one call-site name
  * (`$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java`), so
  * they are named by their exchange instead — matched to the run's query
  * stages by shuffle id or broadcast job tag — or `unattributed`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.getOrCreate()
    val stages = new StageTable
    spark.sparkContext.addSparkListener(stages)
    // the noop write plans its own QueryExecution; its final adaptive
    // plan holds the query stages the stage table is labelled from
    val written = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        written.add(qe): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    names.zipWithIndex.foreach { case (name, i) =>
      // time construction separately: queries with driver-side steps
      // (stored-vector fetch, k-means, the components loop) do real work
      // before a plan exists, and Bench measures both
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      println(s"\n========== $name ==========")
      df.explain("formatted")
      val group = s"explain-$i"
      val done = stages.watch(group)
      spark.sparkContext.setJobGroup(group, name)
      written.clear()
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      spark.sparkContext.clearJobGroup()
      println(f"[timing] $name: build ${(t1 - t0) / 1e9}%.2f s + exec ${(t3 - t2) / 1e9}%.2f s")
      // the listener bus is asynchronous: the run's stage events are all
      // delivered once its SQL execution's end event is
      done.await(30, TimeUnit.SECONDS)
      val plans = Option(written.poll(30, TimeUnit.SECONDS)).toSeq ++
        Iterator.continually(written.poll()).takeWhile(_ != null)
      stages.lines(plans.flatMap(qe => exchanges(qe.executedPlan)).toMap)
        .foreach(println)
    }
    spark.stop()
  }

  /** Stage key → the exchange it ran, for every query stage of `plan`'s
    * adaptive plans and subqueries: `shuffle <id>` for a shuffle stage,
    * the broadcast's job tag for a broadcast stage.
    */
  private def exchanges(plan: SparkPlan): Seq[(String, String)] = {
    val here = plan match {
      case s: ShuffleQueryStageExec =>
        Seq(s"shuffle ${s.shuffle.shuffleId}" ->
          s"ShuffleQueryStage ${s.id}: ${s.shuffle.simpleString(8)}")
      case b: BroadcastQueryStageExec => b.broadcast match {
        case x: BroadcastExchangeExec =>
          Seq(x.jobTag -> s"BroadcastQueryStage ${b.id}: ${x.simpleString(8)}")
        case _ => Nil
      }
      case _ => Nil
    }
    val below = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children ++ p.subqueries
    }
    here ++ below.flatMap(exchanges)
  }

  /** Collects one line per completed stage of the jobs run under the
    * watched job group; `watch` returns a latch released when that group's
    * root SQL execution ends (every earlier event has been delivered by
    * then).
    */
  private final class StageTable extends SparkListener {
    @volatile private var group = ""
    @volatile private var done = new CountDownLatch(1)
    @volatile private var rootExecution = -1L
    // per running stage: its keys (see exchanges) and its task times
    private val running = new ConcurrentHashMap[Int, (Seq[String], ConcurrentLinkedQueue[java.lang.Long])]()
    // (metrics text, stage keys, call-site name) per completed stage
    private val buf = new ConcurrentLinkedQueue[(String, Seq[String], String)]()

    def watch(g: String): CountDownLatch = {
      buf.clear(); running.clear(); rootExecution = -1L
      done = new CountDownLatch(1)
      group = g
      done
    }

    /** One line per stage, labelled through `exchanges` (stage key →
      * exchange); a stage named only by the adaptive call site reads
      * `unattributed`.
      */
    def lines(exchanges: Map[String, String]): Seq[String] =
      buf.asScala.toSeq.map { case (metrics, keys, name) =>
        metrics + keys.collectFirst(exchanges).getOrElse(
          if (name.startsWith("$anonfun$withThreadLocalCaptured")) "unattributed"
          else name).takeWhile(_ != '\n').take(120)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        running.putIfAbsent(e.stageInfo.stageId, (
          StageBridge.shuffleDepId(e.stageInfo).map(id => s"shuffle $id").toSeq ++
            Option(e.properties.getProperty("spark.job.tags")).toSeq.flatMap(_.split(",")),
          new ConcurrentLinkedQueue[java.lang.Long]()))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(running.get(e.stageId)).foreach(_._2.add(e.taskInfo.duration))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(running.remove(e.stageInfo.stageId)).foreach { case (keys, q) =>
        val si = e.stageInfo
        val tm = si.taskMetrics
        val ts = q.asScala.map(_.longValue).toIndexedSeq.sorted
        val med = if (ts.isEmpty) 0L else ts(ts.size / 2)
        val max = if (ts.isEmpty) 0L else ts.last
        val dur = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
          .getOrElse(-1L)
        val (in, sr, sw) = (tm.inputMetrics, tm.shuffleReadMetrics, tm.shuffleWriteMetrics)
        buf.add((
          f"[stage ${si.stageId}%4d] dur=$dur%6d ms tasks=${si.numTasks}%4d " +
            f"exec=${tm.executorRunTime}%6d ms cpu=${tm.executorCpuTime / 1000000}%6d ms | " +
            f"in=${in.bytesRead}%10d B/${in.recordsRead}%9d " +
            f"sr=${sr.totalBytesRead}%10d B/${sr.recordsRead}%9d " +
            f"sw=${sw.bytesWritten}%10d B/${sw.recordsWritten}%9d | " +
            f"task med=$med%6d ms max=$max%6d ms skew=${if (med > 0) max.toDouble / med else 0.0}%5.1f | " +
            f"spill mem=${tm.memoryBytesSpilled >> 20}%5d MB disk=${tm.diskBytesSpilled >> 20}%5d MB | ",
          keys, si.name)): Unit
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if s.jobGroupId.contains(group) && s.rootExecutionId.forall(_ == s.executionId) =>
        rootExecution = s.executionId
      case s: SparkListenerSQLExecutionEnd if s.executionId == rootExecution =>
        done.countDown()
      case _ => ()
    }
  }
}
