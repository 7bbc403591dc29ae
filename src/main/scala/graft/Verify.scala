package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these queries (local iteration aid;
    // the driver always calls with exactly two args = full surface)
    val only = args.drop(2).toSet
    // a typo'd name would otherwise filter everything out and the run
    // would silently write nothing (stale outputs then read as current)
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] UNKNOWN query names: ${unknown.mkString(", ")}")
      sys.exit(2) // a typo'd local run must not look successful
    }
    val spark = graft.api.GraftSession.getOrCreate()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // release leftover localCheckpoint blocks between queries (each
        // query is self-contained; unbounded block growth otherwise — §5)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the list of queries THIS run attempted: lets check.py flag a query
    // that crashed before writing output (round 6's 28 silent absences) as
    // FAIL instead of skipping it invisibly
    val attempted = SparkEntry.queries.keySet
      .filter(n => only.isEmpty || only(n)).toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/declared.json"),
      attempted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
