package graft.api

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.embed.Embedder
import graft.filter.FilterDsl
import graft.functions.VectorFunctions._
import graft.operators.Ann
import graft.serve.{Request, ResponseJson}

/** The engine's semantic-search entry point — the Spark re-expression of both
  * reference query paths:
  *
  *  - Method 2 inline vector search
  *    (`/root/reference/02_method2_manual_vector_embedding.sql:204-227`):
  *    [[topK]] — typed DataFrame in/out.
  *  - Method 1 `SEARCH_PREVIEW(service, json_request)`
  *    (`/root/reference/01_method1_cortex_search.sql:200-219`): [[search]] /
  *    [[searchResponseJson]] — JSON request `{query, columns, filter, limit}`,
  *    stringified-values response `{"results": [...]}`.
  *
  * Plan shape (the one worth having at 100 TB): the query vector is embedded
  * ONCE on the driver and folded in as a literal — no cross join, nothing
  * shipped but the plan; filters stay `Column`s so they push into the Parquet
  * scan; top-k plans as `TakeOrderedAndProject` (per-partition heaps, no
  * global sort or shuffle).
  *
  * @param index     corpus with at least (idCol, textCol, embCol); build it
  *                  with [[IndexBuilder]]
  * @param embedder  must be the SAME embedder the index was built with
  * @param memory    optional serving tier over the SAME corpus — the
  *                  in-process [[graft.serve.MemoryServer]] or the
  *                  multi-process shard fleet ([[graft.serve.FleetTier]]):
  *                  when a JSON request is fully covered by it (columns +
  *                  filter ops — see [[memoryServed]]), the front door
  *                  serves from the tier with no Spark work at all:
  *                  [[searchResponseJson]] writes the tier's hits straight
  *                  to response bytes, and [[search]] wraps them in a
  *                  driver-local relation. Anything not covered falls back
  *                  to the DataFrame path (plan, job, `to_json`). Results
  *                  and response bytes are identical either way (ServeSpec
  *                  pins the memory tier; FleetBench REQUIRES it of the
  *                  fleet at warm-up) — only the latency differs.
  * @param ivfFallback optional EXPLICIT recall/latency trade for the
  *                  job-path fallback of [[search]]: when set, UNCOVERED
  *                  requests probe only the `nProbe` query-nearest IVF
  *                  cells (partition pruning on a `partitionBy(cellCol)`
  *                  layout) instead of the exact flat scan. Covered
  *                  requests are unaffected (still served exactly from
  *                  memory), and the typed [[topK]]/[[topKVec]] API stays
  *                  exact — only the JSON front door's fallback changes,
  *                  and only because the caller opted in. This is the
  *                  documented answer to the 10× mixed-workload tail
  *                  (SCALE.md): at ~100k docs the exact fallback job is
  *                  p50 ~1.5 s while the probed layout serves in ~0.3 s;
  *                  a deployment chooses per front door.
  *
  * ADMISSION DEFAULT for exact-required deployments (no [[ivfFallback]]):
  * route uncovered collects through a [[FallbackGate]] — a bounded fair
  * semaphore + dedicated FAIR pool, so a fallback burst queues instead
  * of multiplying full-scan jobs, and covered traffic (job-free, memory
  * tier) keeps its cores. [[searchRouted]] exposes the route bit the
  * gate needs; ServeBench's `search_json_mixed_admitted` /
  * `search_json_covered_under_burst` rows measure both sides of the
  * claim at the 10× corpus (SCALE.md §round-14). The semantics contract
  * stays EXACT by default — approximation remains the per-door opt-in.
  */
final class SemanticSearch(index: DataFrame, embedder: Embedder,
                           idCol: String = "ID", textCol: String = "EMBED_STR",
                           embCol: String = "EMBEDDING",
                           memory: Option[graft.serve.ServingTier] = None,
                           ivfFallback: Option[SemanticSearch.IvfFallback] = None) {

  /** Typed top-k: score = cosine(query embedding, row embedding). */
  def topK(query: String, k: Int, filter: Column = lit(true)): DataFrame =
    topKVec(embedder.embed(query).toSeq, k, filter)

  /** Top-k against an already-embedded query vector (bypasses the embedder —
    * e.g. query-by-example with a stored embedding).
    */
  def topKVec(qvec: Seq[Float], k: Int, filter: Column = lit(true)): DataFrame =
    index.where(filter && col(embCol).isNotNull)
      .withColumn("SIMILARITY_SCORE", cosineSim(col(embCol), typedlit(qvec)))
      .orderBy(col("SIMILARITY_SCORE").desc, col(idCol))
      .limit(k)

  /** Batched multi-query search in one job (bounded-heap partial agg). */
  def topKBatch(queries: Seq[(Long, String)], k: Int,
                filter: Column = lit(true)): DataFrame =
    Ann.topKBatch(index, idCol, embCol,
      queries.map { case (qid, q) => (qid, embedder.embed(q).toSeq) }, k, filter)

  /** SURVEY §4 public name for the batched path. */
  def searchBatch(queries: Seq[(Long, String)], k: Int,
                  filter: Column = lit(true)): DataFrame =
    topKBatch(queries, k, filter)

  /** Method-1 request entry point: JSON in, DataFrame of STRING columns out
    * (the observed Cortex contract stringifies every value; consumers
    * `TRY_CAST` back — `01:205-206`).
    *
    * Requests carry either `query` (text, embedded via [[Embedder]]) or
    * `query_vector` (a pre-embedded float array — the Method-2 stored-vector
    * analog, `02:204-227`; this is also the deterministic path the driver
    * oracle exercises, since text scores are embedder-relative). The
    * request is parsed once into a [[graft.serve.Request]], whose `limit`
    * rule is the same on both routes.
    */
  def search(requestJson: String): DataFrame = searchRouted(requestJson)._1

  /** [[search]] plus the ROUTE taken: `true` = the memory tier covered
    * the request, and the frame is a thin adapter over the tier's rows
    * (a driver-local relation: collecting runs no job); `false` =
    * collecting runs a Spark job (the exact flat scan, or the IVF probe
    * when [[ivfFallback]] is set). A deployment that must stay exact
    * routes the uncovered collect through a [[FallbackGate]] — the
    * documented admission default (class doc; measured in ServeBench's
    * `*_admitted` rows). A caller that wants the response bytes calls
    * [[searchResponseJson]], which builds no frame for a covered request.
    */
  def searchRouted(requestJson: String): (DataFrame, Boolean) =
    route(requestJson) match {
      case (cols, Left(rows)) =>
        val schema = StructType(cols.map(StructField(_, StringType)))
        (index.sparkSession.createDataFrame(
          rows.map(Row.fromSeq).asJava, schema), true)
      case (_, Right(frame)) => (frame, false)
    }

  /** Byte-shaped Method-1 response: `{"results": [{col: string-value}]}`.
    * A covered request goes from the tier's hits straight to the response
    * bytes ([[graft.serve.ResponseJson]]): no frame, no plan, no job. Only
    * an uncovered one plans and collects `to_json` over the Spark path;
    * both write the same bytes.
    */
  def searchResponseJson(requestJson: String): String =
    route(requestJson) match {
      case (cols, Left(rows)) => ResponseJson.rows(cols, rows)
      case (_, Right(frame)) => ResponseJson.rendered(
        frame.select(to_json(struct(col("*")))).collect().map(_.getString(0)).toSeq)
    }

  // the index's schema, read once: coverage and the default column set
  // come from it without touching the session per request
  private lazy val schema = index.schema

  /** Parse once and pick the route: the requested columns, then either
    * the covered rows' stringified values or the uncovered request's
    * Spark plan.
    */
  private def route(requestJson: String)
      : (Seq[String], Either[Seq[Seq[String]], DataFrame]) = {
    val req = Request.parse(requestJson)
    val k = req.limit.getOrElse(5)
    val cols = req.columns.getOrElse(schema.fieldNames.filterNot(_ == embCol).toSeq)
    val qv = req.vector.getOrElse(embedder.embed(req.text.getOrElse(
      throw new IllegalArgumentException(
        "request needs 'query' or 'query_vector'"))).toSeq)
    (cols, memoryServed(req.filter, qv, k, cols).toLeft {
      val filter = Option(req.filter).map(FilterDsl.toColumn).getOrElse(lit(true))
      // the opted-in approximate fallback: conjoin the IVF cell probe —
      // with the index persisted partitionBy(cellCol), the isin() is
      // partition pruning and the fallback job reads ~nProbe/nCells of
      // the corpus instead of all of it
      val probed = ivfFallback.map { fb =>
        val cells = Ann.probeCellsFor(fb.centroids, qv, fb.nProbe)
        filter && col(fb.cellCol).isin(cells: _*)
      }.getOrElse(filter)
      topKVec(qv, k, probed).select(cols.map(c => col(c).cast("string").as(c)): _*)
    })
  }

  // string/integral columns round-trip the memory tier's long/dict
  // encoding to the exact strings the Spark path's CAST emits; a
  // float/decimal column (values OR filters) would not — fall back
  private val exactTypes =
    Set[DataType](LongType, IntegerType, ShortType, ByteType, StringType)

  /** The covered route: serve the request from the attached memory
    * tier when it COVERS it, `None` (→ the Spark job path) otherwise.
    * Coverage =
    *  - a memory server is attached AND serves dense requests EXACTLY
    *    ([[graft.serve.MemoryServer.servesExactDense]] — an IVF-probed
    *    server is approximate, which would break the bit-identity
    *    contract below; such servers never route), and
    *  - every requested column is the id or a loaded metadata column of
    *    integral/string type (those reconstruct to the exact strings the
    *    DataFrame path's CAST emits; the text/embedding columns and
    *    non-integral numerics stay on the Spark tier), and
    *  - the filter compiles under the memory DNF parser (`@and`/`@or`/
    *    `@eq`/`@ne`/`@gte`/`@lte`/`@contains` over loaded columns — the
    *    parser THROWS on anything else, which routes to the fallback).
    * The served rows are bit-identical to the job path's: same scoring
    * fold, same (score DESC, id ASC) order, same stringified values.
    */
  private def memoryServed(filter: JsonNode, qv: Seq[Float], k: Int,
                           cols: Seq[String]): Option[Seq[Seq[String]]] =
    memory.filter(_.servesExactDense).flatMap { mem =>
      def servable(c: String): Boolean =
        mem.metaColumns.contains(c) &&
          schema.find(_.name == c).exists(f => exactTypes(f.dataType))
      mem.tryParseFilter(filter).collect {
        case dnf if cols.forall(c => c == idCol || servable(c)) &&
            dnf.flatten.map(_.col).forall(servable) =>
          val hits = if (k == 0) Nil else mem.topKVecDnf(qv, k, dnf)
          hits.map { case (id, _) =>
            cols.map(c => if (c == idCol) id.toString else mem.metaString(c, id))
          }
      }
    }
}

object SemanticSearch {

  /** The opted-in approximate fallback plan for [[SemanticSearch.search]]
    * (class doc): `cellCol` is the index's IVF assignment column (persist
    * the corpus `partitionBy(cellCol)` so the probe is partition
    * pruning), `centroids` the cell centroids the assignment used,
    * `nProbe` how many query-nearest cells an uncovered request reads.
    */
  final case class IvfFallback(cellCol: String, centroids: Seq[Seq[Float]],
                               nProbe: Int) {
    require(nProbe >= 1, s"nProbe $nProbe must be >= 1")
  }
}

/** Cache-decision tiers over a similarity score — the reference's semantic
  * caching logic (`02:309-315`; README rubric `R:86-90`). Both threshold sets
  * are preserved verbatim: the SQL script decides at 0.80/0.70, the README
  * rubric adds a 0.90 "excellent" tier.
  */
object CacheDecision {
  val ScriptExcellent = 0.80
  val ScriptGood = 0.70
  val ReadmeExcellent = 0.90

  /** `02:309-313`: CASE over the score, plus the `> 0.70` hard filter usually
    * applied with it (`02:315`).
    */
  def decision(score: Column): Column =
    when(score > ScriptExcellent, lit("CACHE HIT - Excellent Match"))
      .when(score > ScriptGood, lit("CACHE HIT - Good Match"))
      .otherwise(lit("CACHE MISS - Generate New"))

  def isHit(score: Column): Column = score > ScriptGood

  /** README 4-tier rubric (`R:86-90`). */
  def rubricTier(score: Column): Column =
    when(score > ReadmeExcellent, lit("excellent"))
      .when(score >= 0.80, lit("very good"))
      .when(score >= 0.70, lit("good"))
      .otherwise(lit("miss"))
}
