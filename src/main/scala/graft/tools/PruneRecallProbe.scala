package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.GraftSession
import graft.operators.{Ann, Bm25, Sparse}
import graft.serve.{MemoryAnnIndex, MemoryPostingsIndex, MemorySparseIndex, MetaFilter}

/** Recall-under-pruning probe for the three PRUNED serving paths —
  * lexical WAND, learned-sparse WAND, and the payload-index filtered
  * dense scan. All three are ANSWER-PRESERVING by design (unlike
  * IVF/PQ/HNSW, whose recall-vs-cost trade `RecallReport` curves), so
  * the measured quantity is different in kind: recall@k must read
  * **1.000 at every pruning pressure and corpus scale**, and the probe
  * reports how much work the pruning actually skipped while preserving
  * it. A recall below 1.0 anywhere in this table is a BUG, not a trade.
  *
  * Pruning-pressure axes:
  *  - WAND paths: k (smaller k → higher threshold sooner → more
  *    skipping) × query shape (common vs rare terms) × corpus scale
  *    (1x and Nx replicated — the 10× battery's axis);
  *  - payload-index path: filter selectivity (fraction of the corpus
  *    the filter admits; more selective → fewer candidates enumerated).
  *
  * Usage: runMain graft.tools.PruneRecallProbe [sfDir] [repls]
  * (repls comma-separated, default "1,10"). Prints markdown rows for
  * RECALL.md.
  */
object PruneRecallProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val repls = (if (args.length > 1) args(1) else "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession.getOrCreate()

    val termSets = Seq(
      Seq("dup", "vector", "query"), Seq("dup", "stream"),
      Seq("vector", "join", "fast"), Seq("scan", "hash"))
    val ks = Seq(1, 5, 10, 50)

    repls.foreach { repl =>
      val docs = graft.bench.ServeBench.replicate(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", repl)
        .localCheckpoint(true)
      val nDocs = docs.count()

      // ---- lexical WAND (BM25 postings) vs exhaustive TAAT
      val postings = Bm25.buildPostings(docs, "doc_id", "text")
        .localCheckpoint(true)
      val stats = Bm25.corpusStats(docs, "text", postings)
      val memLex = MemoryPostingsIndex.fromDataFrame(
        postings, "doc_id", stats.idf, stats.avgdl)
      println(s"\n### lexical WAND @ ${repl}x ($nDocs docs)")
      println("| query | k | recall@k | order+bits equal | docs evaluated |")
      println("|---|---|---|---|---|")
      for (terms <- termSets; k <- ks) {
        val (wand, evaluated, _) = memLex.searchWandCounted(terms, k)
        val taat = memLex.search(terms, k)
        val recall =
          if (taat.isEmpty) 1.0
          else wand.map(_._1).toSet.intersect(taat.map(_._1).toSet).size
            .toDouble / taat.size
        println(f"| ${terms.mkString("+")} | $k | $recall%.3f | ${wand == taat} " +
          f"| ${evaluated.toDouble / nDocs * 100}%.1f%% |")
        require(wand == taat, s"WAND lexical diverged: $terms k=$k")
      }

      // ---- learned-sparse WAND vs exhaustive TAAT
      val memSparse = MemorySparseIndex.fromDataFrame(
        Sparse.tfVectors(docs, "doc_id", "text"), "doc_id")
      val sparseQueries = termSets.map(
        _.zipWithIndex.map { case (t, i) => t -> (i + 1L) }.toMap)
      println(s"\n### learned-sparse WAND @ ${repl}x ($nDocs docs)")
      println("| query | k | recall@k | order+bits equal | docs evaluated |")
      println("|---|---|---|---|---|")
      for (q <- sparseQueries; k <- ks) {
        val (wand, evaluated, _) = memSparse.topKWandCounted(q, k)
        val taat = memSparse.topK(q, k)
        val recall =
          if (taat.isEmpty) 1.0
          else wand.map(_._1).toSet.intersect(taat.map(_._1).toSet).size
            .toDouble / taat.size
        println(f"| ${q.keys.toSeq.sorted.mkString("+")} | $k | $recall%.3f " +
          f"| ${wand == taat} | ${evaluated.toDouble / nDocs * 100}%.1f%% |")
        require(wand == taat, s"WAND sparse diverged: $q k=$k")
      }

      // ---- payload-index filtered dense scan vs full filtered scan
      val emb = graft.bench.ServeBench.replicate(
        spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", repl)
        .localCheckpoint(true)
      val cents = Ann.sampleCentroids(emb, "vec_id", "embedding", 16)
      val mem = MemoryAnnIndex.fromDataFrame(
        Ann.withIvfAssignment(emb, "embedding", cents),
        "vec_id", "embedding", "ivf_cell", cents, metaCols = Seq("label"))
      val qvecs = emb.orderBy("vec_id").limit(32)
        .select("embedding").collect().map(_.getSeq[Float](0).toSeq)
      val filters = Seq(
        "label=3 (~10%)" -> Seq(MetaFilter("label", 3, 3)),
        "label in [3,5] (~30%)" -> Seq(MetaFilter("label", 3, 5)),
        "label in [2,8] (~70%)" -> Seq(MetaFilter("label", 2, 8)),
        "label in [0,9] (100%)" -> Seq(MetaFilter("label", 0, 9)))
      println(s"\n### payload-index filtered @ ${repl}x (${mem.size} vectors)")
      println("| filter | candidates | recall@10 | order+bits equal (32 queries) |")
      println("|---|---|---|---|")
      filters.foreach { case (name, f) =>
        val cand = mem.countMatching(f)
        var allEq = true
        var hit = 0; var tot = 0
        qvecs.foreach { q =>
          val idx = mem.topKFilteredIndexed(q, 10, f)
          val scan = mem.topK(q, 10, f)
          allEq &&= idx == scan
          hit += idx.map(_._1).toSet.intersect(scan.map(_._1).toSet).size
          tot += scan.size
        }
        println(f"| $name | ${cand.toDouble / mem.size * 100}%.1f%% " +
          f"| ${hit.toDouble / tot}%.3f | $allEq |")
        require(allEq, s"payload-index diverged for $name")
      }

      // ---- routed HYBRID door (RRF over exact dense + WAND lexical)
      // under pool pressure. Unlike the three paths above, pool_k is a
      // REAL recall knob, not answer-preserving pruning: RRF only sees
      // each leg's top pool_k candidates, so a document fused into the
      // top-k by rank mass outside the pool is lost by design (the
      // standard fusion-depth trade). Reference = the same fused request
      // with pool_k = corpus size (both legs exhaustive). Each leg is
      // itself bit-exact at every pool_k (WAND + exact dense, pinned
      // above), so everything this table shows is the POOLING trade.
      // legs mirror the q280/ServeBench shape: dense over the embeddings
      // index, lexical over the documents postings. The full-pool
      // reference must exhaust BOTH legs, so its pool is the larger of
      // the two corpora (nDocs alone would truncate the dense leg
      // whenever the embeddings table outgrows the documents table)
      val serverH = new graft.serve.MemoryServer(mem, Some(memLex))
      val fullPool = math.max(mem.size.toLong, nDocs).toInt
      val hQueries = qvecs.take(16).zipWithIndex
        .map { case (q, i) => (q, termSets(i % termSets.size)) }
      println(s"\n### routed hybrid (RRF) pool pressure @ ${repl}x ($nDocs docs)")
      println("| pool_k | mean recall@10 vs full-pool fusion | worst query |")
      println("|---|---|---|")
      Seq(10, 20, 50, 200).foreach { poolK =>
        val recalls = hQueries.map { case (qv, terms) =>
          val fused = serverH.searchHybrid(qv, terms, 10, poolK)
          val ref = serverH.searchHybrid(qv, terms, 10, fullPool)
          if (ref.isEmpty) 1.0
          else fused.map(_._1).toSet.intersect(ref.map(_._1).toSet).size
            .toDouble / ref.size
        }
        println(f"| $poolK | ${recalls.sum / recalls.size}%.3f " +
          f"| ${recalls.min}%.3f |")
      }
    }
    spark.stop()
  }
}
