package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.GraftSession
import graft.operators.Ann

/** ANN recall measurement — the tuning curve the bit-exact gates cannot
  * show. q44/q45/q118/q129 pin each approximate path's MECHANISM (and
  * AnnSpec proves exact-equivalence under full probe), but a user tunes
  * nProbe / rerankFactor against empirical recall@k vs exact top-k
  * (the reference's >=1M-doc scaling envelope, `02:438-442`, implies
  * exactly this trade). Measured in TWO data regimes:
  *
  *  - `isotropic`: the testdata embeddings — no cluster structure, the
  *    hardest case for cell probing, so its curve is the FLOOR;
  *  - `clustered`: [[Ann.syntheticClusteredEmbeddings]] (deterministic
  *    mixture of Gaussians on the sphere, 16 clusters, spread 0.6) —
  *    the regime real text/image embeddings live in, where the same
  *    probe widths should sit far above the floor. Two regimes turn the
  *    RECALL.md floor NOTE into a measured claim, and the clustered
  *    curve is what [[Ann.pickNProbe]] tunes against.
  *
  * Per regime: queries are every Nth corpus vector (deterministic
  * spread), self EXCLUDED from its own candidate set on both sides;
  * ground truth is exact brute-force cosine top-k; IVF (16 spherical-
  * k-means cells) at nProbe 1/2/4/8/16, PQ (m=8, ksub=16) at rerank
  * 1/4/16, IVF×PQ at nProbe 1/2/4 (rerank 4).
  *
  * Prints one JSON line and rewrites RECALL.md with both tables.
  *
  * Usage: sbt "runMain graft.tools.RecallReport [sfDir] [k] [nQueries]"
  */
object RecallReport {

  private case class VariantRow(method: String, params: String,
                                mean: Double, worst: Double, frac: Double)

  private def measureRegime(corpus: DataFrame, k: Int, nQ: Int,
                            nCells: Int): (Seq[VariantRow], Long, Int) = {
    val cents = Ann.kmeansCentroids(corpus, "vec_id", "embedding", nCells, iters = 3)
    val books = Ann.pqCodebooks(corpus, "vec_id", "embedding", m = 8, ksub = 16, iters = 1)
    val indexed = Ann.withPqCodes(
        Ann.withIvfAssignment(corpus, "embedding", cents), "embedding", books)
      .select("vec_id", "embedding", "ivf_cell", "pq_code")
      .cache()
    val n = indexed.count()

    // deterministic evenly-spaced query ids
    val allIds = indexed.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0))
    val qIds = (0 until nQ).map(i => allIds((i * allIds.length) / nQ))
    val qVecs = indexed.where(col("vec_id").isin(qIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val dim = qVecs(qIds.head).size

    def ids(df: DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet

    // serving-graph + binary-code variants measure on the SAME corpus,
    // driver-side (HNSW is a memory-tier structure; self excluded from
    // the result set — it may still route the walk, which is legitimate)
    val allRows = indexed.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    val hnsw = graft.serve.MemoryHnswIndex.build(allRows, m = 16,
      efConstruction = 100)

    val variants: Seq[(String, String, (DataFrame, Long, Seq[Float]) => Set[Long], Double)] =
      Seq(1, 2, 4, 8, nCells).map(p => ("ivf", s"nProbe=$p",
        (base: DataFrame, _: Long, qv: Seq[Float]) =>
          ids(Ann.topKIvf(base, "vec_id", "embedding", "ivf_cell", cents, qv, k, p)),
        p.toDouble / nCells)) ++
      Seq(1, 4, 16).map(r => ("pq", s"rerank=$r",
        (base: DataFrame, _: Long, qv: Seq[Float]) =>
          ids(Ann.topKPq(base, "vec_id", "embedding", "pq_code", books, qv, k, r)),
        1.0)) ++
      Seq(1, 2, 4).map(p => ("ivf_pq", s"nProbe=$p,rerank=4",
        (base: DataFrame, _: Long, qv: Seq[Float]) =>
          ids(Ann.topKIvfPq(base, "vec_id", "embedding", "ivf_cell", "pq_code",
            cents, books, qv, k, p, rerankFactor = 4)),
        p.toDouble / nCells)) ++
      Seq(2, 8, 32).map(r => ("binary", s"rerank=$r",
        (base: DataFrame, _: Long, qv: Seq[Float]) =>
          ids(graft.operators.Quantize.topKBinary(
            graft.operators.Quantize.withBinary(base, "embedding"),
            "vec_id", "embedding", qv, k, rerankFactor = r)),
        1.0)) ++
      Seq(8, 16, 32).map(d => ("mrl", s"pfx=$d,rerank=4",
        (base: DataFrame, _: Long, qv: Seq[Float]) =>
          ids(Ann.topKMatryoshka(base, "vec_id", "embedding", qv, k,
            prefixDim = d, rerankFactor = 4)),
        1.0)) ++
      Seq(2, 4, 10, 20).map(ef => ("hnsw", s"ef=${ef}k",
        (_: DataFrame, qid: Long, qv: Seq[Float]) => {
          // the graph contains qid (it may ROUTE the walk — legitimate);
          // exclusion is by the query's ID, not vector equality, so a
          // duplicate of the query vector stays a true neighbor
          val got = hnsw.topK(qv, k + 1, ef = ef * k).map(_._1)
          got.filterNot(_ == qid).take(k).toSet
        },
        0.0)) // graph-walk: touched set is O(M·ef·log n), not a scan

    val perVariant = scala.collection.mutable.LinkedHashMap[(String, String), List[Double]]()
    qIds.foreach { qid =>
      val qv = qVecs(qid)
      val base = indexed.where(col("vec_id") =!= qid) // self excluded both sides
      val exact = ids(Ann.topK(base, "vec_id", "embedding", qv, k))
      variants.foreach { case (m, param, f, _) =>
        val got = f(base, qid, qv)
        val rec = (got & exact).size.toDouble / exact.size
        perVariant((m, param)) = rec :: perVariant.getOrElse((m, param), Nil)
      }
    }
    indexed.unpersist()

    val rows = variants.map { case (m, param, _, frac) =>
      val rs = perVariant((m, param))
      VariantRow(m, param, rs.sum / rs.size, rs.min, frac)
    }
    // harness sanity: full probe is the exact path and must hit 1.0
    rows.find(r => r.method == "ivf" && r.params == s"nProbe=$nCells")
      .foreach { r =>
        require(r.mean == 1.0 && r.worst == 1.0,
          f"full-probe IVF must equal exact top-$k, got mean=${r.mean}%.3f worst=${r.worst}%.3f")
      }
    (rows, n, dim)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val nQ = if (args.length > 2) args(2).toInt else 32
    val spark = GraftSession.getOrCreate()
    val nCells = 16

    val iso = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") =!= 0)
    val isoN = iso.count()
    val clustered = Ann.syntheticClusteredEmbeddings(spark,
        n = isoN.toInt, dim = 64, nClusters = nCells, spread = 0.6)
      .select("vec_id", "embedding")

    val regimes = Seq(
      ("isotropic", s"$sfDir/embeddings.parquet", iso),
      ("clustered", "Ann.syntheticClusteredEmbeddings(16 clusters, spread 0.6, seed 42)",
        clustered))
    val measured = regimes.map { case (tag, srcDesc, corpus) =>
      val (rows, n, dim) = measureRegime(corpus, k, nQ, nCells)
      (tag, srcDesc, rows, n, dim)
    }

    val js = measured.map { case (tag, _, rows, n, _) =>
      val rjs = rows.map(r =>
        f"""{"method":"${r.method}","params":"${r.params}","recall_at_$k":${r.mean}%.3f,"worst_query":${r.worst}%.3f,"scan_frac":${r.frac}%.3f}""")
        .mkString("[", ",", "]")
      s""""$tag":{"corpus":$n,"results":$rjs}"""
    }.mkString(",")
    println(s"""{"metric":"ann_recall","sf":"$sfDir","k":$k,"queries":$nQ,"cells":$nCells,$js}""")

    val md = new StringBuilder
    md ++= "# ANN recall vs exact top-k — two data regimes\n\n"
    md ++= s"Measured by `graft.tools.RecallReport`; $nQ evenly-spaced corpus queries\n"
    md ++= s"per regime, self excluded from both sides; ground truth = exact cosine\n"
    md ++= s"top-$k. IVF: $nCells spherical-k-means cells (3 iters). PQ: m=8, ksub=16,\n"
    md ++= "1 Lloyd iter. Lift = recall / corpus-fraction-scanned (1.0 = no better\n"
    md ++= "than scanning a random slice; >1 = the index concentrates true\n"
    md ++= "neighbors).\n\n"
    md ++= "**Why two regimes**: the testdata embeddings are ISOTROPIC (mean\n"
    md ++= "pairwise cosine ~0, no cluster structure — the hardest case for cell\n"
    md ++= "probing), so that curve is a FLOOR. The clustered fixture\n"
    md ++= "(deterministic mixture of Gaussians on the sphere) is the regime real\n"
    md ++= "text/image embeddings live in; the SAME index parameters there show\n"
    md ++= "what a production corpus gets. `Ann.pickNProbe(curve, target)` turns\n"
    md ++= "the measured curve into a probe-width choice (smallest nProbe meeting\n"
    md ++= "the recall target; monotone in the target — pinned by AnnSpec).\n"
    measured.foreach { case (tag, srcDesc, rows, n, dim) =>
      md ++= s"\n## Regime: $tag\n\n"
      md ++= s"Corpus: $srcDesc ($n vectors, dim $dim).\n\n"
      md ++= s"| method | params | mean recall@$k | worst query | corpus scanned | lift |\n"
      md ++= "|---|---|---|---|---|---|\n"
      rows.foreach { r =>
        val scanned = if (r.frac == 0.0) "graph walk" else f"${r.frac * 100}%.0f%%"
        val lift = if (r.frac == 0.0) "n/a" else f"${r.mean / r.frac}%.1f×"
        md ++= f"| ${r.method} | ${r.params} | ${r.mean}%.3f | ${r.worst}%.3f | $scanned | $lift |\n"
      }
    }
    md ++= "\nBinary = 1-bit sign codes (32× smaller), Hamming prune + exact\n"
    md ++= "rerank; like PQ it reads every row (scan 100%) but 1/32 of the bytes\n"
    md ++= "with an integer-only kernel — its recall curve is the rerank budget.\n"
    md ++= "MRL = matryoshka prefix-dimension search (Ann.topKMatryoshka):\n"
    md ++= "candidates rank on the first pfx of 64 coordinates, exact full-dim\n"
    md ++= "rerank over k·4; reads every row but pfx/64 of the vector bytes in\n"
    md ++= "the candidate stage (materialize the prefix column at write time for\n"
    md ++= "the scan cut). NOTE the testdata embeddings are NOT MRL-trained, so\n"
    md ++= "the isotropic row is the floor of floors — prefixes of an isotropic\n"
    md ++= "vector carry no privileged mass; trained MRL embeddings concentrate\n"
    md ++= "information in early dims and sit far above it.\n"
    md ++= "HNSW = the serving-graph tier (m=16, efC=100, deterministic build);\n"
    md ++= "it touches O(M·ef·log n) vectors per query instead of scanning, so\n"
    md ++= "scan-fraction/lift do not apply — its cost axis is ef.\n"
    md ++= "\nReading: on ISOTROPIC data IVF recall climbs roughly with scan\n"
    md ++= "fraction (lift ~2-4× from direction concentration alone); on\n"
    md ++= "CLUSTERED data a narrow probe already captures most true neighbors —\n"
    md ++= "the cells align with the clusters, which is the production argument\n"
    md ++= "for IVF. nProbe=16 is the full-probe sanity ceiling in both regimes\n"
    md ++= "(the tool REQUIREs it equals exact). PQ's exact-cosine re-rank\n"
    md ++= "recovers ordering as rerankFactor grows; IVF×PQ inherits the\n"
    md ++= "probe-limited ceiling of its IVF stage. AnnSpec separately proves\n"
    md ++= "every path returns the EXACT top-k under full probe/rerank.\n"
    // later sections (the pruning / pool-pressure probes append their own
    // top-level headings) survive a re-run: only this tool's leading
    // section — everything before the next "\n# " — is replaced
    val path = java.nio.file.Paths.get("RECALL.md")
    val tail =
      if (java.nio.file.Files.exists(path)) {
        val cur = java.nio.file.Files.readString(path)
        val i = cur.indexOf("\n# ", 1)
        if (i >= 0) cur.substring(i + 1) else ""
      } else ""
    java.nio.file.Files.writeString(path, md.toString + "\n" + tail)
    spark.stop()
  }
}
