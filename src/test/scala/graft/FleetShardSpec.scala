package graft

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.lit

import graft.operators.{Bm25, Sparse}
import graft.serve.{FleetClient, FleetTier, HybridTier, MemoryAnnIndex, MemoryPostingsIndex, MemorySparseIndex, Sharded}
import graft.tools.FleetShardServer

/** The real shard fleet end to end: slices written by
  * [[FleetShardServer.writeShards]], served by two [[FleetShardServer]]
  * processes, answer every search opcode (OpDense, OpLex, OpSparse,
  * OpHybrid) exactly as the in-process [[Sharded]] fan-out over the same
  * slices — same ids, same score bits — and the fleet tier behind the
  * hybrid door serves the same rows as the in-process sharded tier and
  * the Spark job path.
  */
class FleetShardSpec extends SparkSpec {
  import spark.implicits._

  private def bits(xs: Seq[(Long, Double)]): Seq[(Long, Long)] =
    xs.map { case (id, s) => (id, java.lang.Double.doubleToLongBits(s)) }

  private def rrfRows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0),
      java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq

  test("two shard processes == the in-process fan-out over the same slices, score bits included") {
    val docs = Seq.tabulate(90)(i =>
      (i.toLong, (Seq.fill(i % 4 + 1)("common") ++
        (if (i % 9 == 0) Seq("rare") else Nil) ++
        Seq.fill(i % 3 + 1)(s"w${i % 13}")).mkString(" ")))
      .toDF("doc_id", "text")
    val postings = Bm25.buildPostings(docs, "doc_id", "text").localCheckpoint(true)
    val stats = Bm25.corpusStats(docs, "text", postings)
    val sparseVecs = Sparse.tfVectors(docs, "doc_id", "text").localCheckpoint(true)
    val rng = new scala.util.Random(11)
    // dense ids 0..119 overlap the lexical ids 0..89, so the fusion
    // merges ids seen by both legs
    val vecs = Seq.tabulate(120)(i =>
      (i.toLong, Seq.fill(6)(rng.nextGaussian().toFloat)))
    val corpus = vecs.toDF("vec_id", "embedding").localCheckpoint(true)

    val inDense = MemoryAnnIndex.sharded(corpus.withColumn("cell", lit(0)),
      "vec_id", "embedding", "cell", Seq(vecs.head._2), nShards = 2)
    val inLex = MemoryPostingsIndex.sharded(postings, "doc_id", stats.idf,
      stats.avgdl, nShards = 2)
    val inSparse = MemorySparseIndex.sharded(sparseVecs, "doc_id", nShards = 2)
    val inHybrid = Sharded.hybrid(inDense, inLex)
    assert(inDense.size == 2 && inLex.size == 2 && inSparse.size == 2)

    val workDir = java.nio.file.Files.createTempDirectory("graft-fleet-spec")
    FleetShardServer.writeShards(workDir.toString, 2, stats.avgdl, stats.idf,
      MemoryPostingsIndex.collectRows(postings, "doc_id"),
      MemorySparseIndex.collectRows(sparseVecs, "doc_id"), vecs.toArray)
    val procs = (0 until 2).map(FleetShardServer.start(workDir.toString, _))
    try {
      val ports = procs.map(p => FleetShardServer.awaitReady(p)
        .getOrElse(fail("a shard process exited before READY")))
      val cl = new FleetClient(ports, timeoutMs = 30000)
      try {
        val queries = vecs.take(4).map(_._2) :+ Seq.fill(6)(0.5f)
        val termSets = Seq(Seq("common"), Seq("rare", "common"),
          Seq("w3", "rare"), Seq("unknownterm"))
        val sparseQueries = Seq(Map("common" -> 1L, "rare" -> 3L),
          Map("w5" -> 2L, "common" -> 1L), Map("zz" -> 4L))
        for (k <- Seq(1, 5, 10)) {
          queries.foreach(q => assert(bits(cl.dense(q, k)) ==
            bits(Sharded.topK(inDense, k)(_.topK(q, k))), s"dense k=$k"))
          termSets.foreach(t => assert(bits(cl.lex(t, k)) ==
            bits(Sharded.topK(inLex, k)(_.searchWand(t, k))), s"lex $t k=$k"))
          sparseQueries.foreach(q => assert(cl.sparse(q, k) ==
            Sharded.countedLong(inSparse, k)(_.topKWandCounted(q, k))._1,
            s"sparse $q k=$k"))
          for (q <- queries; t <- termSets.take(3))
            assert(bits(cl.hybrid(q, t, k, poolK = 20)) ==
              bits(inHybrid.searchHybrid(q, t, k, poolK = 20)), s"hybrid $t k=$k")
        }
        assert(cl.lex(Seq("rare", "common"), 10).size == 10 &&
          cl.sparse(sparseQueries.head, 10).size == 10,
          "the legs must return real hits, not agree on empty lists")

        // the hybrid door over the fleet tier == over the in-process
        // sharded tier == the job path
        def door(t: Option[HybridTier]) = new graft.api.HybridSearch(corpus,
          "vec_id", "embedding", postings, "doc_id", stats.idf, stats.avgdl,
          memory = t)
        val fleetDoor = door(Some(new FleetTier(cl)))
        for (q <- queries.take(3); t <- termSets.take(3)) {
          val req = s"""{"query_vector":[${q.mkString(",")}],
            |"terms":[${t.map("\"" + _ + "\"").mkString(",")}],
            |"limit":10,"pool_k":20}""".stripMargin
          val viaFleet = fleetDoor.search(req)
          assert(viaFleet.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
            "the fleet tier must serve the hybrid door job-free")
          assert(rrfRows(viaFleet).size == 10)
          assert(rrfRows(viaFleet) == rrfRows(door(Some(inHybrid)).search(req)))
          assert(rrfRows(viaFleet) == rrfRows(door(None).search(req)))
        }
        assert(cl.liveShards == 2, "every comparison must be against the full fleet")
      } finally cl.shutdown()
    } finally {
      procs.foreach { p =>
        p.destroyForcibly()
        p.waitFor(10, TimeUnit.SECONDS)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(workDir.toFile)
    }
  }
}
