package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.GraftSession

/** FULL-SURFACE Nx scale bench: times EVERY SparkEntry query at 1x
  * (`baseDir`) and at Nx (a replicated corpus), and reports per-query
  * time and output-row ratios — converting SCALE.md's design arguments
  * into measured data for the whole battery, not just the ~20 hand-picked
  * ScaleProbe families.
  *
  * The replica mirrors the testdata layout EXACTLY — one flat
  * `<table>.parquet` FILE per table — so every access pattern the queries
  * use (plain `rd` reads, schema probes, and the streaming sources'
  * `pathGlobFilter("<name>.parquet")`, which matches LEAF file names)
  * behaves identically against it. Parquet files are row-group-splittable,
  * so single-file scans still parallelize under
  * `spark.sql.files.maxPartitionBytes`.
  *
  * Key handling per shard i (the ScaleProbe stride lesson: shift by
  * max+1, not row count, or sparse id spaces collide and dedup silently
  * deflates the Nx numbers):
  *  - region/nation: copied ONCE — genuinely bounded dims; replicating
  *    them would change query SEMANTICS (25 nations is a domain fact);
  *  - FK families shift with a SHARED stride so joins stay consistent:
  *    orderkey (orders+lineitem), custkey (customer+orders), suppkey
  *    (supplier+lineitem), partkey (part+lineitem);
  *  - events: event_id AND user_id shift — Nx means Nx users over the
  *    same time range (more keys, not longer history);
  *  - documents/embeddings: doc_id / vec_id shift.
  *
  * Interpretation guardrails baked into the flag rule: a query whose
  * OUTPUT multiplies faster than the corpus (replica-dense pair
  * expansion) or whose input is a fixed synthetic (multimodal) is not
  * "super-linear" — a query is flagged only when its time ratio exceeds
  * both 1.2x the shard count and 1.5x its own output-row ratio.
  *
  * Usage: runMain graft.tools.FullScaleBench [baseDir] [shards] [workDir] [query...]
  * Prints one JSON line; writes SCALE10.json.
  */
object FullScaleBench {

  /** Per-table id-shift plan: (column -> stride source table). */
  private val shiftPlan: Map[String, Seq[(String, String)]] = Map(
    "region" -> Nil,
    "nation" -> Nil,
    "part" -> Seq("p_partkey" -> "part"),
    "customer" -> Seq("c_custkey" -> "customer"),
    "supplier" -> Seq("s_suppkey" -> "supplier"),
    "orders" -> Seq("o_orderkey" -> "orders", "o_custkey" -> "customer"),
    "lineitem" -> Seq("l_orderkey" -> "orders", "l_partkey" -> "part",
      "l_suppkey" -> "supplier"),
    "documents" -> Seq("doc_id" -> "documents"),
    "embeddings" -> Seq("vec_id" -> "embeddings"),
    "events" -> Seq("event_id" -> "events", "user_id" -> "events:user"))

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val shards = if (args.length > 1) args(1).toInt else 10
    val workDir = if (args.length > 2) args(2) else "/tmp/graft-scale-full"
    val only = args.drop(3).toSet
    val spark = GraftSession.getOrCreate()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // ---- build the Nx corpus once (marker-guarded; BUILT1 versions the
    // layout — bump on any change to the build block)
    val baseTag = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(baseDir))
    val marker = new java.io.File(s"$workDir/_BUILT1_${shards}_$baseTag")
    if (!marker.exists()) {
      def deleteRec(f: java.io.File): Unit = if (f.exists()) {
        if (f.isDirectory) f.listFiles().foreach(deleteRec)
        f.delete(): Unit
      }
      deleteRec(new java.io.File(workDir))
      new java.io.File(workDir).mkdirs()
      def readBase(t: String): DataFrame = {
        val df = spark.read.parquet(s"$baseDir/$t.parquet")
        if (t == "events") graft.SparkEntry.canonTs(df) else df
      }
      // strides from max key + 1 (shared per FK family)
      val strides: Map[String, Long] = Map(
        "part" -> ("p_partkey", "part"), "customer" -> ("c_custkey", "customer"),
        "supplier" -> ("s_suppkey", "supplier"), "orders" -> ("o_orderkey", "orders"),
        "documents" -> ("doc_id", "documents"), "embeddings" -> ("vec_id", "embeddings"),
        "events" -> ("event_id", "events")).map { case (k, (c, t)) =>
          k -> (readBase(t).agg(max(col(c))).head().getLong(0) + 1L)
      } + ("events:user" -> (readBase("events").agg(max(col("user_id")))
          .head().getLong(0) + 1L))
      shiftPlan.foreach { case (t, shifts) =>
        val df = readBase(t)
        val big =
          if (shifts.isEmpty) df
          else (0 until shards).map { i =>
            shifts.foldLeft(df) { case (d, (c, sk)) =>
              d.withColumn(c, col(c) + lit(i * strides(sk)))
            }
          }.reduce(_ unionByName _)
        // flat single FILE named <t>.parquet, exactly the testdata layout
        val tmp = s"$workDir/__tmp_$t"
        big.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file for $t"))
        if (!part.renameTo(new java.io.File(s"$workDir/$t.parquet")))
          sys.error(s"rename failed for $t")
        deleteRec(new java.io.File(tmp))
      }
      marker.createNewFile()
    }

    // ONE execution per timing: row count rides the noop write
    def noopCount(df: DataFrame): Long = {
      val obs = new org.apache.spark.sql.Observation
      df.observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      obs.get("n").asInstanceOf[Long]
    }
    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    val names = graft.SparkEntry.queries.toSeq
      .filter { case (n, _) => only.isEmpty || only(n) }
      .sortBy { case (name, _) =>
        val ds = name.drop(1).takeWhile(_.isDigit)
        (if (ds.isEmpty) Int.MaxValue else ds.toInt, name)
      }
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val rows = names.flatMap { case (name, fn) =>
      try {
        fn(spark, baseDir).write.format("noop").mode("overwrite").save() // warm
        val (t1, n1) = time(noopCount(fn(spark, baseDir)))
        val (tN, nN) = time(noopCount(fn(spark, workDir)))
        Some((name, t1, n1, tN, nN))
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[scale] $name FAILED: ${e.getMessage}")
        None
      }
    }
    val flagged = rows.filter { case (_, t1, n1, tN, nN) =>
      val tr = tN / math.max(t1, 1e-9)
      val rr = nN.toDouble / math.max(n1, 1L)
      tr > shards * 1.2 && tr > 1.5 * math.max(rr, 1.0)
    }.map(_._1)
    val js = rows.map { case (n, t1, c1, tN, cN) =>
      f""""$n":{"sec_1x":$t1%.2f,"rows_1x":$c1,"sec_${shards}x":$tN%.2f,"rows_${shards}x":$cN,"t_ratio":${tN / math.max(t1, 1e-9)}%.1f}"""
    }.mkString("{", ",", "}")
    val fj = (failed.toSeq.map(n => "\"" + n + "\"")).mkString("[", ",", "]")
    val gj = flagged.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"full_scale","shards":$shards,"flagged":$gj,"failed":$fj,"queries":$js}"""
    println(line)
    // a SUBSET run must not clobber the full battery file: splice the
    // subset's cells into the existing per-query map and union the
    // flag/fail lists. Structural splice (JsonSplice): member boundaries
    // found by depth scanning, so a nested value or an err string
    // containing '}' can never corrupt the merged file — malformed prior
    // content fails loudly instead.
    val outPath = java.nio.file.Paths.get("SCALE10.json")
    val out =
      if (only.nonEmpty && java.nio.file.Files.exists(outPath)) {
        val prev = java.nio.file.Files.readString(outPath).trim
        val prevQ = JsonSplice.membersOf(
          JsonSplice.member(prev, "queries")
            .getOrElse(sys.error("SCALE10.json has no \"queries\" member")))
        val newQ = JsonSplice.membersOf(js).toMap
        val keptPrev = prevQ.filterNot { case (n, _) => newQ.contains(n) }
        val mergedQ = JsonSplice.emitObject(keptPrev ++ newQ.toSeq.sortBy(_._1))
        def list(key: String): Set[String] =
          JsonSplice.member(prev, key).map(JsonSplice.elementsOf(_)
            .map(_.stripPrefix("\"").stripSuffix("\"")).toSet)
            .getOrElse(Set.empty)
        // queries in this subset were RE-measured: their prior verdicts
        // are superseded, not unioned (a recovered query must unflag)
        val fl = JsonSplice.emitArray(
          ((list("flagged") -- only) ++ flagged).toSeq.sorted
            .map(n => "\"" + n + "\""))
        val fa = JsonSplice.emitArray(
          ((list("failed") -- only) ++ failed).toSeq.sorted
            .map(n => "\"" + n + "\""))
        s"""{"metric":"full_scale","shards":$shards,"flagged":$fl,"failed":$fa,"queries":$mergedQ}"""
      } else line
    try java.nio.file.Files.writeString(outPath, out + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
