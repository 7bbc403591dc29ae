package graft

import graft.api.{GraftExtensions, GraftSession}

/** What every main gets from the one session factory. Checked on the
  * shared spec session (built by the same factory), so no second
  * SparkContext starts.
  */
class GraftSessionSpec extends SparkSpec {

  test("settings: local[n], n shuffle partitions, UTC, 256 KB floor, extensions") {
    Seq(1, 7).foreach { n =>
      val s = GraftSession.settings(n).toMap
      assert(s("spark.master") == s"local[$n]")
      assert(s("spark.sql.shuffle.partitions") == n.toString)
      assert(s("spark.sql.session.timeZone") == "UTC")
      assert(s("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "256k")
      assert(s("spark.sql.extensions") == classOf[GraftExtensions].getName)
    }
  }

  test("a factory-built session carries the settings and resolves cosine_similarity via its extensions") {
    // the context's own conf: what the builder set at creation, whatever
    // a spec has since changed at runtime on the shared session
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "256k")
    // a fresh session on the same context starts from the builtin function
    // registry plus the installed extensions only — nothing registered
    // imperatively on another session is visible to it
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT cosine_similarity(array(1.0F, 0.0F), array(1.0F, 0.0F)) c")
      .head().getDouble(0) == 1.0)
    assert(GraftSession.getOrCreate(4).sparkContext eq spark.sparkContext)
  }
}
