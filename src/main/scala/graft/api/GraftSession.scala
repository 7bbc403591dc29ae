package graft.api

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession factory. Every main builds its session
  * here, so the oracle gate (`Verify`), `Bench`, `Explain` and the probes
  * check and time the same plans: `local[n]` with n shuffle partitions,
  * UTC, the UI off, a 2 GB result cap, the 256 KB coalescing floor, and
  * [[GraftExtensions]] installed.
  *
  * n is [[cpus]] unless the caller passes it. On a cluster, build with
  * `builder(n)` and override `spark.master` and the shuffle partitions.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core of the host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** AQE's coalescing floor. It assumes bytes ≈ cost, but LLM-pipeline
    * operators hang 100×+ per-row fan-outs (shingle explodes, resample
    * explodes, signature hashing) ABOVE kilobyte-sized shuffles, and the
    * default 1 MB floor collapsed those reads to ONE partition — measured
    * on q276: three ~4 s single-task stages over an 850 KB exchange.
    * 256 KB keeps such stages wide while still letting AQE merge genuinely
    * tiny partitions; clusters with 100 MB+ partitions never hit it.
    */
  private val MinCoalesceBytes = "256k"

  /** Every setting [[builder]] applies, in order. */
  private[graft] def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.maxResultSize" -> "2g",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> MinCoalesceBytes,
    "spark.sql.extensions" -> classOf[GraftExtensions].getName)

  def builder(cores: Int = cpus): SparkSession.Builder =
    settings(cores).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Build (or reuse) the session, log at WARN, and ensure every graft SQL
    * function is registered even when attaching to a pre-existing session
    * (where the extensions config of this builder would be ignored).
    */
  def getOrCreate(cores: Int = cpus): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.registerAll(spark)
    graft.functions.TextHashFunctions.registerAll(spark)
    graft.functions.SetFunctions.registerAll(spark)
    spark
  }
}
