package graft.tools

import org.apache.spark.sql.functions._

import graft.api.GraftSession
import graft.operators.{Bm25, Forget}
import graft.serve.{DeltaPostingsIndex, MemoryPostingsIndex}

/** Measures the GDPR-purge → lexical-serving cutover — the round-13
  * verdict's missing number: [[Forget]] amends the batch postings
  * incrementally, but the serving tiers are immutable
  * ([[MemoryPostingsIndex]]) or adds-only ([[DeltaPostingsIndex]]), so a
  * purge reaches SERVING via a REPUBLISH (amended artifact + amended
  * stats → fresh handle → O(1) reference swap). The staleness SLA
  * between purge request and cutover IS this probe's wall time.
  *
  * Timed phases, per (corpus scale × purge size):
  *  1. `amend_ms` — [[Forget.lexDeltas]] (exact subtraction deltas) +
  *     [[Forget.updatedDf]] + idf re-derivation: the Spark-side work.
  *  2. `reload_ms` — the amended postings collect into a fresh
  *     [[MemoryPostingsIndex]]: the serving-node work. Proportional to
  *     the REMAINING corpus, not the purge size — the honest dominant
  *     term (a serving reload at any purge size).
  *  3. `replay_ms` — the delta tier's drain-and-replay: documents that
  *     arrived in the OLD handle's delta segment since the republish
  *     began re-add onto the fresh base handle (minus any that were
  *     themselves purged) before the swap — the cutover protocol for a
  *     tier that cannot delete in place.
  * After the swap the probe REQUIRES the purged doc unservable via an
  * exhaustive per-term probe (k = df), and servable before — the q293
  * contract re-checked at bench scale.
  *
  * Usage: runMain graft.tools.RepublishProbe [sfDir] [repls] [purgeEvery]
  *   repls: comma-separated replication factors (default "1,10");
  *   purgeEvery: purge doc_id % purgeEvery == 0 (default 13 — q202's set,
  *   ~7.7% of the corpus) plus a single-doc purge row per scale.
  * Prints one JSON line; writes REPUBLISH.json.
  */
object RepublishProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val repls = (if (args.length > 1) args(1) else "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val purgeEvery = if (args.length > 2) args(2).toInt else 13
    val spark = GraftSession.getOrCreate()

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val stride = docs0.agg(max("doc_id")).head().getLong(0) + 1

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

    val cells = for {
      repl <- repls
      purgeSpec <- Seq("one", s"every$purgeEvery")
    } yield {
      val docs = (0 until repl).map(i =>
          docs0.withColumn("doc_id", col("doc_id") + lit(i * stride)))
        .reduce(_ unionByName _).localCheckpoint(true)
      val postings = Bm25.buildPostings(docs, "doc_id", "text")
        .localCheckpoint(true)
      val stats = Bm25.corpusStats(docs, "text", postings)
      val (sumDl, n, dfMap) = (stats.sumDl, stats.n, stats.df)
      val (idf, avgdl) = (stats.idf, stats.avgdl)
      val serving = new java.util.concurrent.atomic.AtomicReference(
        MemoryPostingsIndex.fromDataFrame(postings, "doc_id", idf, avgdl))

      val purgedIds: Seq[Long] = purgeSpec match {
        case "one" => Seq(0L)
        case _ => docs.where(col("doc_id") % purgeEvery === 0)
          .select("doc_id").collect().map(_.getLong(0)).toSeq
      }
      val purgedSet = purgedIds.toSet
      // probe: first purged doc with a token; exhaustive k = df(term)
      val probe = docs
        .where(col("doc_id").isin(purgedIds: _*) && length(col("text")) > 0)
        .orderBy("doc_id").select("doc_id", "text").head()
      val (probeId, probeTerm) =
        (probe.getLong(0), probe.getString(1).split(" ").find(_.nonEmpty).get)
      val kAll = dfMap(probeTerm).toInt
      require(serving.get().searchWand(Seq(probeTerm), kAll)
        .exists(_._1 == probeId), "purged doc must be servable pre-swap")

      // ---- the republish, timed phase by phase
      val t0 = System.nanoTime()
      val deltas = Forget.lexDeltas(postings, docs, "doc_id", "text", purgedIds)
      val n2 = n - deltas.docsDropped
      val avgdl2 = (sumDl - deltas.dlDropped).toDouble / n2.toDouble
      val df2 = Forget.updatedDf(dfMap, deltas)
      val idf2 = Bm25.idfByTerm(df2, n2, spark)
      val amendMs = ms(t0)
      val t1 = System.nanoTime()
      val amended = Forget.purgePostings(postings, "doc_id", purgedIds)
      val freshBase = MemoryPostingsIndex.fromDataFrame(
        amended, "doc_id", idf2, avgdl2)
      val reloadMs = ms(t1)
      serving.set(freshBase)

      // ---- delta-tier drain-and-replay: 1,000 docs that arrived in the
      // old handle's delta during the republish re-add onto the fresh
      // base (purged ids filtered — a purge request can name a doc still
      // in flight)
      val sumDl2 = sumDl - deltas.dlDropped
      val fresh = DeltaPostingsIndex.fromDataFrame(amended, "doc_id", n2, sumDl2)
      val inFlight = (0 until 1000).map(i =>
        (stride * repl + 1000L + i, s"fresh doc$i stream dup arrival"))
      val t2 = System.nanoTime()
      inFlight.foreach { case (id, text) =>
        if (!purgedSet(id)) fresh.addDoc(id, text)
      }
      val replayMs = ms(t2)

      // exactly the term's surviving docs must come back (k = pre-purge
      // df is exhaustive) — not a vacuous pass when none survive
      val post = serving.get().searchWand(Seq(probeTerm), kAll)
      require(post.size.toLong == df2.getOrElse(probeTerm, 0L) &&
        post.forall(r => !purgedSet(r._1)),
        "purged doc still servable after the swap")

      f"""{"repl":$repl,"docs":$n,"purged":${purgedIds.size},"postings_terms":${dfMap.size},"amend_ms":$amendMs%.1f,"reload_ms":$reloadMs%.1f,"replay_1000_ms":$replayMs%.1f,"cutover_ms":${amendMs + reloadMs + replayMs}%.1f}"""
    }

    val line =
      s"""{"metric":"purge_republish","sf":"$sfDir","cpus":${GraftSession.cpus},"results":[${cells.mkString(",")}]}"""
    println(line)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("REPUBLISH.json"), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
