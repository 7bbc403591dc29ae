package graft.tools

import org.apache.spark.sql.functions._

import graft.api.GraftSession

/** Driver-side cost breakdown of the q298 bounded-delta HNSW fold chain:
  * times the base build, the per-fold republishes, the visibility topK
  * loop and the final fold/scratch comparison separately — the stage
  * table equivalent for work that never becomes a Spark job.
  */
object HnswProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val baseRows = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    val arrivals = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .sortBy(_._1)
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[hnsw] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    // poor-man's sampling profiler: run repeated builds in this thread for
    // ~8 s while a sampler thread counts hot frames
    if (args.length > 1 && args(1) == "sample") {
      val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      val main = Thread.currentThread()
      @volatile var stop = false
      val sampler = new Thread(() => {
        while (!stop) {
          val st = main.getStackTrace
          st.take(8).foreach { f =>
            val key = f.getClassName + "." + f.getMethodName
            counts.merge(key, 1, (a, b) => a + b)
          }
          Thread.sleep(5)
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      val tEnd = System.nanoTime() + 8L * 1000000000L
      var n = 0
      while (System.nanoTime() < tEnd) {
        graft.serve.MemoryHnswIndex.build(baseRows): Unit
        n += 1
      }
      stop = true
      Thread.sleep(50)
      println(s"[hnsw] sampled over $n builds; top frames:")
      import scala.jdk.CollectionConverters._
      counts.asScala.toSeq.sortBy(-_._2.intValue).take(30).foreach {
        case (k, v) => println(f"[hnsw]   $v%6d  $k")
      }
      spark.stop()
      return
    }
    println(s"[hnsw] base=${baseRows.size} arrivals=${arrivals.size}")
    (1 to 2).foreach { rep =>
      println(s"[hnsw] ---- rep $rep")
      val base = t("build(base)")(graft.serve.MemoryHnswIndex.build(baseRows))
      val bounded = new graft.serve.BoundedDelta(
        new graft.serve.DeltaHnswIndex(base), maxDeltaDocs = 25L)
      t("arrival fold loop") {
        arrivals.foreach { case (id, v) =>
          bounded.write { h =>
            h.add(id, v)
            if (id % 10L == 0L) h.delete(id)
          }
        }
      }
      println(s"[hnsw] folds=${bounded.republishCount}")
      val tier = bounded.get
      t("visibility topK x arrivals") {
        arrivals.foreach { case (id, v) =>
          tier.topK(v, 5, ef = 200).exists(_._1 == id): Unit
        }
      }
      val folded = t("final republish")(tier.republish())
      val logical = (baseRows ++ arrivals).filter(_._1 % 10L != 0L)
      val scratch = t("scratch build")(graft.serve.MemoryHnswIndex.build(logical))
      t("adjacency compare") {
        logical.foreach { case (id, _) =>
          require(folded.base.maxLevelOf(id) == scratch.maxLevelOf(id))
        }
      }
    }
    spark.stop()
  }
}
