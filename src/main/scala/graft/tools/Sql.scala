package graft.tools

import graft.api.GraftSession

/** SQL entry point: `runMain graft.tools.Sql <sfDir> "<query>"` — builds a
  * [[GraftSession]] (so [[graft.api.GraftExtensions]] is injected),
  * registers every testdata table as a view, runs the query, prints up to
  * 20 rows. The spark.sql surface of the engine.
  */
object Sql {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, query) = args.take(2)
    val spark = GraftSession.getOrCreate()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      val p = s"$sfDir/$t.parquet"
      if (new java.io.File(p).isFile)
        spark.read.parquet(p).createOrReplaceTempView(t)
    }
    spark.sql(query).show(20, truncate = false)
    spark.stop()
  }
}
