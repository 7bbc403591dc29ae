package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

import graft.operators.{Ann, Bm25}
import graft.serve.{MemoryServer, Request}

/** The HYBRID front door: one JSON request carrying both retrieval legs —
  * a pre-embedded dense query and lexical terms — fused by reciprocal
  * rank (the q163 combiner behind a request API, the serving shape the
  * reference's hybrid notebook cells imply).
  *
  * Request: `{"query_vector": [...], "terms": ["dup","stream"],
  * "limit": 10, "pool_k": 20, "c": 60}` (limit/pool_k/c optional with
  * the q163 defaults). Response: a DataFrame `(id, rrf)` — the fused
  * top-`limit`.
  *
  * Two serve paths, bit-identical results (ServeSpec pins it):
  *  - **job**: exact dense top-`pool_k` over `index`
  *    (TakeOrderedAndProject) + BM25 over the term-partitioned postings
  *    (partition-pruned to the query's terms), fused with
  *    [[Bm25.rrfFuse]] — the 100 TB-corpus path;
  *  - **routed**: when a [[MemoryServer]] with a lexical tier is
  *    attached, the request serves job-free — dense memory scan + WAND
  *    postings + [[Bm25.rrfFuseLocal]], returned as a driver-local
  *    relation. This closes the job-per-request latency the serving
  *    bench measured on the composed hybrid cell (the legs are k-bounded
  *    lists; scheduling two Spark jobs to fuse 20-row frames costs more
  *    than the whole request).
  *
  * @param memory must be built over the SAME corpus/postings as the
  *               DataFrame legs (dense index rows and postings terms),
  *               with a lexical tier — requests route only when present
  *               AND the server serves dense requests exactly
  *               ([[MemoryServer.servesExactDense]]): an IVF-probed
  *               server is approximate, which would silently break the
  *               bit-identity promise, so it never routes (the request
  *               takes the job path instead).
  * @param sharded the fan-out serving form behind the same door — the
  *               in-process [[graft.serve.ShardedHybridServer]] or the
  *               multi-process fleet ([[graft.serve.FleetHybridTier]]),
  *               built over the SAME corpus/postings: routed onto when
  *               no monolithic `memory` covers the request. Exact by
  *               construction (exact dense fan-out + answer-preserving
  *               per-shard WAND; the [[graft.serve.HybridTier]]
  *               contract), so no probe check applies — ServeSpec pins
  *               the in-process routes bit-identical; FleetBench
  *               REQUIRES the fleet one at warm-up.
  */
final class HybridSearch(index: DataFrame, idCol: String, embCol: String,
                         postings: DataFrame, postingsIdCol: String,
                         idf: Map[String, Double], avgdl: Double,
                         memory: Option[MemoryServer] = None,
                         sharded: Option[graft.serve.HybridTier] = None) {

  /** Typed entry: both legs pooled `poolK` deep, RRF-fused to `k`. */
  def hybridTopK(qvec: Seq[Float], terms: Seq[String], k: Int,
                 poolK: Int = 20, c: Int = 60): DataFrame = {
    val byRank = Window.orderBy(col("score").desc, col("id"))
    val dense = Ann.topK(index, idCol, embCol, qvec, poolK)
      .select(col(idCol).as("id"), col("score"))
      .withColumn("rank", row_number().over(byRank)) // poolK rows — bounded
    val lexical = Bm25.searchPostings(postings, postingsIdCol, terms,
        idf, avgdl, poolK)
      .select(col(postingsIdCol).as("id"), col("score"))
      .withColumn("rank", row_number().over(byRank))
    Bm25.rrfFuse(Seq(dense, lexical), "id", "rank", c, k)
  }

  /** JSON request in, `(id, rrf)` DataFrame out — routed onto the memory
    * tier when one is attached, the job path otherwise. `limit`, `pool_k`
    * and `c` follow [[Request]]'s integer rule on both routes.
    */
  def search(requestJson: String): DataFrame = {
    val req = Request.parse(requestJson)
    val k = req.limit.getOrElse(10)
    val poolK = req.int("pool_k").getOrElse(20)
    val c = req.int("c").getOrElse(60)
    val qv = req.vector.getOrElse(throw new IllegalArgumentException(
      "hybrid request needs 'query_vector' (pre-embedded dense leg)"))
    val terms = req.strings("terms").getOrElse(throw new IllegalArgumentException(
      "hybrid request needs 'terms' (lexical leg)"))
    val tier: Option[graft.serve.HybridTier] =
      memory.filter(m => m.servesExactDense && m.hasLexical).orElse(sharded)
    tier.map(t => if (k == 0) Nil else t.searchHybrid(qv, terms, k, poolK, c)) match {
      case Some(hits) =>
        val schema = StructType(Seq(
          StructField("id", LongType), StructField("rrf", DoubleType)))
        index.sparkSession.createDataFrame(
          hits.map { case (id, rrf) => Row(id, rrf) }.asJava, schema)
      case None => hybridTopK(qv, terms, k, poolK, c)
    }
  }
}
