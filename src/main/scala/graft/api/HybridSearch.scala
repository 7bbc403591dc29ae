package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

import graft.operators.{Ann, Bm25}
import graft.serve.{HybridTier, Request}

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
  *  - **routed**: when an exact [[graft.serve.HybridTier]] is attached,
  *    the request serves job-free — both legs plus
  *    [[graft.serve.HybridTier.fuse]], returned as a driver-local
  *    relation. This closes the job-per-request latency the serving
  *    bench measured on the composed hybrid cell (the legs are k-bounded
  *    lists; scheduling two Spark jobs to fuse 20-row frames costs more
  *    than the whole request).
  *
  * @param memory the hybrid tier over the SAME corpus/postings as the
  *               DataFrame legs (dense index rows and postings terms):
  *               the in-process [[graft.serve.MemoryServer]], sharded
  *               legs ([[graft.serve.Sharded.hybrid]]) or the
  *               multi-process fleet ([[graft.serve.FleetTier]]).
  *               Requests route onto it only when it serves exactly
  *               ([[graft.serve.HybridTier.servesExactHybrid]]): an
  *               IVF-probed or dense-only `MemoryServer` does not, so
  *               the request takes the job path instead of silently
  *               breaking the bit-identity promise or failing per
  *               request. ServeSpec pins the in-process routes
  *               bit-identical; FleetShardSpec and FleetBench pin the
  *               fleet one.
  */
final class HybridSearch(index: DataFrame, idCol: String, embCol: String,
                         postings: DataFrame, postingsIdCol: String,
                         idf: Map[String, Double], avgdl: Double,
                         memory: Option[HybridTier] = None) {

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

  /** JSON request in, `(id, rrf)` DataFrame out — routed onto the
    * attached tier when it serves exactly, the job path otherwise. `limit`, `pool_k`
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
    memory.filter(_.servesExactHybrid)
      .map(t => if (k == 0) Nil else t.searchHybrid(qv, terms, k, poolK, c)) match {
      case Some(hits) =>
        val schema = StructType(Seq(
          StructField("id", LongType), StructField("rrf", DoubleType)))
        index.sparkSession.createDataFrame(
          hits.map { case (id, rrf) => Row(id, rrf) }.asJava, schema)
      case None => hybridTopK(qv, terms, k, poolK, c)
    }
  }
}
