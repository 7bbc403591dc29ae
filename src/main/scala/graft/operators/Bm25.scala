package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.DetMath

/** BM25 keyword ranking (Robertson/Spärck Jones, the Okapi form) — the
  * lexical half of a hybrid search engine. The reference serves pure
  * vector search (`02-build-search-service.sql:438`); a user switching a
  * real corpus onto it immediately wants keyword recall too (exact matches
  * of rare tokens that an embedding smooths away), so BM25 + fusion is
  * first-class surface here.
  *
  * score(D, Q) = Σ_{t ∈ Q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)   (the "plus one" form — never
  * negative), with ln = [[DetMath]]'s pinned series (library log is not
  * bit-portable across engines; the gate hash-compares doubles).
  *
  * Distribution contract (the 100 TB shape):
  *  - document length dl is computed IN-ROW (no shuffle);
  *  - the postings shuffle carries ONLY rows matching the query terms —
  *    the `isin` filter sits under the explode's project, so a q-term
  *    query shuffles |matching postings|, not the corpus;
  *  - df/idf is a per-term aggregate of that filtered postings table —
  *    at most |Q| rows — and joins back as a BROADCAST;
  *  - corpus-level stats (N, Σdl) are one integer-exact global aggregate
  *    (2 scalars to the driver — bounded by design);
  *  - the per-doc score is an ORDER-PINNED fold over the doc's matched
  *    terms (sort_array then `aggregate`) — float addition is not
  *    associative, and an unpinned SUM would re-rank between runs;
  *  - top-k via orderBy+limit = TakeOrderedAndProject (no global sort).
  */
object Bm25 {

  /** Per-document BM25 scores for `terms`, highest `k` first
    * (ties broken by ascending id). Output: (idCol, dl, score).
    */
  def search(docs: DataFrame, idCol: String, textCol: String,
             terms: Seq[String], k: Int,
             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val scored = scoreAll(docs, idCol, textCol, terms, k1, b)
    scored.orderBy(col("score").desc, col(idCol)).limit(k)
  }

  /** All matching documents with their BM25 score (un-truncated — the
    * fusion path wants a deeper candidate pool than the display k).
    */
  def scoreAll(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "BM25 query must have at least one term")
    val base = docs.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol), col("__toks"),
        size(col("__toks")).cast("long").as("dl"))

    // N and avgdl folded into the plan as a broadcast 1-row global
    // aggregate (r17, guide §2.4): the former driver-side `head()` was a
    // SECOND full tokenize pass over the corpus per scoreAll call — q226
    // builds four of these DAGs, so the action alone re-scanned the
    // corpus four times. Same arithmetic: N and Σdl are integer-exact and
    // avgdl is the identical CAST(sum AS DOUBLE)/CAST(count AS DOUBLE)
    // correctly-rounded divide; the stats ride the ≤|terms|-row idf table
    // through its existing broadcast. (An empty corpus now yields an
    // empty result instead of a require error — no caller scores an
    // empty corpus, and zero matching rows was already a legal output.)
    val statsRow = broadcast(base.agg(
      (sum("dl").cast("double") / count(lit(1)).cast("double")).as("__avgdl"),
      count(lit(1)).as("__n")))

    val post = base
      .select(col(idCol), col("dl"), explode(col("__toks")).as("term"))
      .where(col("term").isin(terms: _*))
    val tf = post.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))

    // ≤ |terms| rows: per-term document frequency over the distinct
    // (doc, term) pairs tf already materializes
    val dfTab = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = DetMath.withLnDet(
      dfTab.crossJoin(statsRow).withColumn("x",
        (col("__n") - col("df")).cast("double") + lit(0.5))
        .withColumn("x", col("x") / (col("df").cast("double") + lit(0.5)) + lit(1.0)),
      "x", "idf").select("term", "idf", "__avgdl")

    val tfD = col("tf").cast("double")
    val contrib = tf.join(broadcast(idf), "term")
      .withColumn("c", col("idf") *
        ((tfD * lit(k1 + 1.0)) /
          (tfD + lit(k1) *
            (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("__avgdl"))))))

    contrib.groupBy(col(idCol))
      .agg(max("dl").as("dl"),
        aggregate(
          sort_array(collect_list(struct(col("term"), col("c")))),
          lit(0.0),
          (acc, s) => acc + s.getField("c")).as("score"))
  }

  /** Serving-index build: one row per (term, id) posting with tf and dl —
    * persist with `partitionBy("term")` and query-time term filters become
    * PARTITION PRUNING (only the query's term directories are read, the
    * inverted-index access pattern on plain parquet). Corpus stats ride
    * along for the caller to persist/collect once.
    */
  def buildPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol), col("__toks"),
        size(col("__toks")).cast("long").as("dl"))
    base.select(col(idCol), col("dl"), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      // co-locate each term before a partitionBy("term") write: ONE file
      // per term directory instead of one per shuffle partition. A query
      // reading 2-3 terms then opens 2-3 files — file count, not byte
      // count, dominated the measured read latency (32 stub files/term =
      // ~140-300 ms just to COUNT a pruned read). A >2 GB term at true
      // scale re-splits by maxRecordsPerFile, which composes fine.
      .repartition(col("term"))
      .sortWithinPartitions(col(idCol))
  }

  /** The whole-corpus BM25 statistics a serving tier holds: document
    * count `n`, total length `sumDl`, per-term document frequency `df`,
    * and `idf` ([[idfByTerm]] over them, derived on first use so a caller
    * that only amends the counts never runs its job).
    */
  final case class CorpusStats(n: Long, sumDl: Long, df: Map[String, Long])(
      spark: org.apache.spark.sql.SparkSession) {
    def avgdl: Double = sumDl.toDouble / n.toDouble
    lazy val idf: Map[String, Double] = idfByTerm(df, n, spark)
  }

  /** [[CorpusStats]] of `docs` (dl = whitespace-token count of `textCol`,
    * the [[buildPostings]] rule) and its `postings`: one global aggregate
    * for (Σdl, n), one collect of the per-term posting counts.
    */
  def corpusStats(docs: DataFrame, textCol: String,
                  postings: DataFrame): CorpusStats = {
    val dl = docs.select(size(split(col(textCol), " ")).cast("long").as("dl"))
      .agg(sum("dl"), count(lit(1))).head()
    val df = postings.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    CorpusStats(dl.getLong(1), dl.getLong(0), df)(docs.sparkSession)
  }

  /** idf per term from the df table — INDEX METADATA, computed once at
    * build time through the same [[graft.functions.DetMath.withLnDet]]
    * series the batch path uses (one LocalTableScan job, vocab-bounded),
    * then held by the serving tier as a plain map. Computing it per query
    * would put a broadcast build on every request's critical path — the
    * measured difference between a ~390 ms and a ~120 ms hybrid p50.
    */
  def idfByTerm(dfByTerm: Map[String, Long], n: Long,
                spark: org.apache.spark.sql.SparkSession): Map[String, Double] = {
    import spark.implicits._
    val dfTab = dfByTerm.toSeq.toDF("term", "df")
    graft.functions.DetMath.withLnDet(
      dfTab.withColumn("x",
        (lit(n) - col("df")).cast("double") + lit(0.5))
        .withColumn("x", col("x") / (col("df").cast("double") + lit(0.5)) + lit(1.0)),
      "x", "idf")
      .select("term", "idf").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  /** Query-time BM25 over a prebuilt postings table (see [[buildPostings]])
    * with precomputed index metadata ([[idfByTerm]], N·avgdl). Reads only
    * the query terms' postings (partition pruning under a term-partitioned
    * layout); idf attaches as a literal map lookup — map-side, no join, no
    * broadcast on the request path. Same pinned float contract as
    * [[scoreAll]].
    */
  def searchPostings(postings: DataFrame, idCol: String, terms: Seq[String],
                     idf: Map[String, Double], avgdl: Double,
                     k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val present = terms.filter(idf.contains)
    // a query of wholly-unknown terms is an ordinary serving outcome:
    // zero hits, not a request failure (callers decide if empty is an
    // error)
    if (present.isEmpty)
      return postings.select(col(idCol), lit(0.0).as("score")).where(lit(false))
    val idfCol = element_at(
      typedlit(idf.filter(kv => present.contains(kv._1))), col("term"))
    val tfD = col("tf").cast("double")
    postings.where(col("term").isin(present: _*))
      .withColumn("c", idfCol *
        ((tfD * lit(k1 + 1.0)) /
          (tfD + lit(k1) *
            (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / lit(avgdl))))))
      .groupBy(col(idCol))
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("c")))),
        lit(0.0), (acc, s) => acc + s.getField("c")).as("score"))
      .orderBy(col("score").desc, col(idCol)).limit(k)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09) of ranked
    * candidate lists: fused(d) = Σ_legs 1/(c + rank_leg(d)), summed in a
    * PINNED leg order (the leg sequence as given). Integer ranks →
    * reciprocal doubles, so the score is deterministic with no
    * transcendental. Each leg must expose (`idCol`, `rankCol`); a document
    * absent from a leg simply contributes nothing (full-outer semantics).
    * Join cardinality is bounded by the legs' candidate-list lengths — at
    * serving scale these are top-k lists, so fusion is driver-light and
    * shuffle-tiny regardless of corpus size.
    */
  /** Serving-path RRF over already-collected top-k lists (id → rank). The
    * fusion input is k-bounded BY CONSTRUCTION — like the MMR rerank, it
    * belongs on the driver: a distributed full-outer join of two 20-row
    * frames costs more in job scheduling than the entire request. Same
    * arithmetic and tie rule as [[rrfFuse]] (pinned leg-order summation,
    * ties to lower id).
    */
  def rrfFuseLocal(legs: Seq[Seq[(Long, Int)]], c: Int = 60,
                   k: Int = 10): Seq[(Long, Double)] = {
    val scores = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    legs.foreach { leg =>
      leg.foreach { case (id, rank) =>
        val r = 1.0 / (c.toDouble + rank.toDouble)
        scores.update(id, scores.getOrElse(id, 0.0) + r)
      }
    }
    scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Convex (weighted min-max-normalized) score fusion — the other
    * standard hybrid combiner next to RRF: each leg's candidate scores
    * normalize to [0,1] over ITS OWN candidate list ((s−min)/(max−min);
    * a constant leg normalizes to 1), then fused = Σ w_leg·norm summed in
    * leg order with 0 for absent docs. Unlike RRF it preserves score
    * MAGNITUDE (a dominant dense hit stays dominant), at the cost of
    * sensitivity to each leg's score distribution. Driver-side over
    * k-bounded lists, like [[rrfFuseLocal]].
    */
  def normFuseLocal(legs: Seq[(Seq[(Long, Double)], Double)],
                    k: Int = 10): Seq[(Long, Double)] = {
    val scores = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
    legs.foreach { case (leg, _) => leg.foreach(e => ids.add(e._1)) }
    legs.foreach { case (leg, w) =>
      val mn = leg.map(_._2).min
      val mx = leg.map(_._2).max
      val m = leg.toMap
      ids.foreach { id =>
        val n = m.get(id) match {
          case None => 0.0
          case Some(s) => if (mx == mn) 1.0 else (s - mn) / (mx - mn)
        }
        scores.update(id, scores.getOrElse(id, 0.0) + w * n)
      }
    }
    scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  def rrfFuse(legs: Seq[DataFrame], idCol: String, rankCol: String,
              c: Int = 60, k: Int = 10): DataFrame = {
    require(legs.nonEmpty, "RRF needs at least one leg")
    // pin the fold order by summing leg columns in sequence, not by SUM
    // over a union (aggregation order is engine-chosen)
    val tagged = legs.zipWithIndex.map { case (l, i) =>
      l.select(col(idCol), (lit(1.0) / (lit(c.toDouble) + col(rankCol).cast("double")))
        .as(s"__rr_$i"))
    }
    val joined = tagged.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val zero = lit(0.0)
    val fused = tagged.indices
      .map(i => coalesce(col(s"__rr_$i"), zero))
      .reduce(_ + _)
    joined.select(col(idCol), fused.as("rrf"))
      .orderBy(col("rrf").desc, col(idCol)).limit(k)
  }
}
