package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.GraftSession

/** Phase attribution for q178 (streaming KMV accumulate), whose 10×
  * time ratio (6.7× at constant output) was the worst constant-output
  * number in the battery. The sketch state is k longs per source — the
  * question is WHERE the time goes as the corpus grows:
  *
  *   1. `slice_write` — the TEST HARNESS writing the corpus out as two
  *      timestamped slices (coalesce(1) single-writer, then a
  *      setLastModified walk). Linear in corpus bytes by construction
  *      and not part of the operator at all (a production stream's data
  *      already sits in the landing dir).
  *   2. `stream` — the operator: a real AvailableNow StreamingQuery,
  *      one micro-batch per slice, each batch shingling + distinct-
  *      sketching its half of the corpus and publishing the merged
  *      sketch table ([[graft.streaming.KmvStream.accumulateBatch]]).
  *      Expected ~linear in corpus shingles (every row must be hashed
  *      once — that is the sketch's one-pass contract), PLUS a constant
  *      per-batch floor (micro-batch scheduling + the O(groups×k)
  *      version publish).
  *   3. `estimates` — pair arithmetic over the groups×k sketch table:
  *      bounded by groups²×k, must be ~flat across scales.
  *
  * Usage: runMain graft.tools.KmvStreamProbe [baseDir] [bigDir]
  * (bigDir defaults to the FullScaleBench replica's documents table;
  * run FullScaleBench once to build it). Prints one JSON line with the
  * per-phase seconds at each scale; the SCALE.md narrative cites it.
  */
object KmvStreamProbe {

  private def phases(spark: SparkSession, docs: DataFrame): (Double, Double, Double, Long) = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_kmvprobe").toString
    def timed[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val (tWrite, _) = timed {
      (1 to 2).foreach { i =>
        docs.where(pmod(col("doc_id"), lit(2)) === lit(i - 1))
          .coalesce(1).write.parquet(f"$tmp/in/slice_$i%03d")
        val walk = java.nio.file.Files.walk(
          java.nio.file.Paths.get(f"$tmp/in/slice_$i%03d"))
        try walk.forEach { p =>
          if (!p.toFile.setLastModified(1000000000000L + i * 60000L))
            sys.error(s"setLastModified failed for $p")
        } finally walk.close()
      }
    }
    val table = s"$tmp/kmv"
    val (tStream, nBatches) = timed(graft.SparkEntry.withStreamPartitions(spark) {
      val batches = new java.util.concurrent.atomic.AtomicLong(0L)
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$tmp/in/*")
      val q = stream.writeStream.foreachBatch {
        (batch: DataFrame, _: Long) =>
          batches.incrementAndGet()
          val partial = graft.operators.Kmv.sketch(
            graft.SparkEntry.trigramShingles(batch), Seq("source"),
            col("posting"), k = 64)
          graft.streaming.KmvStream.accumulateBatch(table, partial,
            "source", k = 64)
      }
        .option("checkpointLocation", s"$tmp/chk")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      batches.get()
    })
    val (tEst, _) = timed {
      graft.operators.Kmv.pairEstimates(
        spark.read.parquet(table), "source", k = 64).collect(): Unit
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    (tWrite, tStream, tEst, nBatches)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val bigDocs = if (args.length > 1) args(1)
      else "/tmp/graft-scale-full/documents.parquet"
    val spark = GraftSession.getOrCreate()
    val scales = Seq(
      "1x" -> spark.read.parquet(s"$baseDir/documents.parquet")) ++
      (if (new java.io.File(bigDocs).exists())
        Seq("10x" -> spark.read.parquet(bigDocs)) else Nil)
    val cells = scales.map { case (tag, docs) =>
      phases(spark, docs) // warm-up pass: JIT + codegen + stream machinery
      val (w, s, e, nb) = phases(spark, docs)
      f""""$tag":{"slice_write_s":$w%.2f,"stream_s":$s%.2f,"estimates_s":$e%.2f,"batches":$nb,"rows":${docs.count()}}"""
    }
    println(s"""{"metric":"kmv_stream_probe","scales":{${cells.mkString(",")}}}""")
    spark.stop()
  }
}
