package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

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
  * task time with their ratio (skew), and memory / disk spill.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.getOrCreate()
    val stages = new StageTable
    spark.sparkContext.addSparkListener(stages)
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
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      spark.sparkContext.clearJobGroup()
      println(f"[timing] $name: build ${(t1 - t0) / 1e9}%.2f s + exec ${(t3 - t2) / 1e9}%.2f s")
      // the listener bus is asynchronous: the run's stage events are all
      // delivered once its SQL execution's end event is
      done.await(30, TimeUnit.SECONDS)
      stages.lines().foreach(println)
    }
    spark.stop()
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
    private val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
    private val buf = new ConcurrentLinkedQueue[String]()

    def watch(g: String): CountDownLatch = {
      buf.clear(); taskMs.clear(); rootExecution = -1L
      done = new CountDownLatch(1)
      group = g
      done
    }

    def lines(): Seq[String] = buf.asScala.toSeq

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        taskMs.putIfAbsent(e.stageInfo.stageId, new ConcurrentLinkedQueue[java.lang.Long]())

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(taskMs.get(e.stageId)).foreach(_.add(e.taskInfo.duration))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(taskMs.remove(e.stageInfo.stageId)).foreach { q =>
        val si = e.stageInfo
        val tm = si.taskMetrics
        val ts = q.asScala.map(_.longValue).toIndexedSeq.sorted
        val med = if (ts.isEmpty) 0L else ts(ts.size / 2)
        val max = if (ts.isEmpty) 0L else ts.last
        val dur = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
          .getOrElse(-1L)
        val (in, sr, sw) = (tm.inputMetrics, tm.shuffleReadMetrics, tm.shuffleWriteMetrics)
        buf.add(
          f"[stage ${si.stageId}%4d] dur=$dur%6d ms tasks=${si.numTasks}%4d " +
            f"exec=${tm.executorRunTime}%6d ms cpu=${tm.executorCpuTime / 1000000}%6d ms | " +
            f"in=${in.bytesRead}%10d B/${in.recordsRead}%9d " +
            f"sr=${sr.totalBytesRead}%10d B/${sr.recordsRead}%9d " +
            f"sw=${sw.bytesWritten}%10d B/${sw.recordsWritten}%9d | " +
            f"task med=$med%6d ms max=$max%6d ms skew=${if (med > 0) max.toDouble / med else 0.0}%5.1f | " +
            f"spill mem=${tm.memoryBytesSpilled >> 20}%5d MB disk=${tm.diskBytesSpilled >> 20}%5d MB | " +
            si.name.takeWhile(_ != '\n').take(80)): Unit
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
