package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the named workload from the seed,
  * measure it, check its outputs and write the raw record (latencies,
  * spans, counters) as JSON for `perfbench/run.py` to reduce.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --conf <workload json> --work <dir> --out <file>
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mapper = new ObjectMapper()
    if (a.contains("train")) return train(mapper.readTree(a("train")), a("work"))
    val conf = mapper.readTree(a("conf"))
    val threads = Runtime.getRuntime.availableProcessors()
    val tSession = System.nanoTime()
    val spark = session(threads, a("work"))
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val c = Ctx(spark, conf, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("work"), threads)
    val out = new RunOut
    run(c, out)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val readyMs = System.currentTimeMillis() - (System.nanoTime() - out.readyNs) / 1000000L
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("workload", a("workload"))
    m.put("seed", c.seed)
    m.put("threads", threads)
    m.put("props", out.props)
    m.put("session_s", sessionS)
    m.put("jvm_to_main_s", (System.currentTimeMillis() - (System.nanoTime() - tSession) / 1000000L - jvmStartMs) / 1000.0)
    m.put("setup_process_s", (readyMs - jvmStartMs) / 1000.0)
    m.put("heap_mb", out.heapMb)
    m.put("gc_ms", out.gc1._1 - out.gc0._1)
    m.put("gc_count", out.gc1._2 - out.gc0._2)
    m.put("phases", out.phases.map(_.toJson).asJava)
    m.put("checked", out.checked)
    m.put("check_failed", out.checkFailed)
    m.put("notes", out.notes.asJava)
    m.put("layer", out.layer)
    if (c.trace) m.put("spans", Trace.dump())
    mapper.writeValue(new java.io.File(a("out")), m)
    spark.stop()
  }

  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // every door request is a SQL execution: a small status store is
      // full (and trimming) from the warm-up on, instead of filling up
      // partway through the measured window
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(c: Ctx, out: RunOut): Unit =
    c.conf.get("kind").asText() match {
      case "door" => Workloads.door(c, out)
      case "batch" => Workloads.batch(c, out)
    }

  /** A short run of every workload kind (serving kinds traced) with the
    * given small configs. The build runs it once to record the classes
    * the benchmark loads into a class-data-sharing archive.
    */
  private def train(confs: com.fasterxml.jackson.databind.JsonNode, work: String): Unit = {
    val threads = Runtime.getRuntime.availableProcessors()
    val spark = session(threads, work)
    confs.elements().asScala.zipWithIndex.foreach { case (conf, i) =>
      val traced = conf.get("kind").asText() != "batch"
      run(Ctx(spark, conf, 1L, 1.0, traced, s"$work/train-$i", threads), new RunOut)
    }
    spark.stop()
  }
}
