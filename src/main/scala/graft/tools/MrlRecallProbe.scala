package graft.tools

import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.linalg.{DenseMatrix, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.GraftSession
import graft.operators.Ann

/** The matryoshka tier's ENVELOPE, demonstrated instead of caveated —
  * the r13 verdict's #6: RECALL.md's 1× mrl rows (0.097/0.212/0.472 at
  * pfx 8/16/32) measure NOT-MRL-TRAINED embeddings, where prefixes
  * carry no privileged mass; an MRL-trained embedder concentrates
  * information in early dimensions. This probe builds that
  * concentration with public linear algebra: rotate the corpus into its
  * own PCA basis (an ORTHOGONAL transform — cosine geometry preserved,
  * principal directions moved to the FRONT coordinates), then re-run
  * the q289 prefix search at pfx 8/16/32 against exact full-dim truth.
  *
  * Two corpora, same rotation treatment:
  *  - `clustered` ([[Ann.syntheticClusteredEmbeddings]], the regime real
  *    embeddings live in): its 16-center structure spans a low-dim
  *    subspace, so PCA front-loads it — the demonstration.
  *  - `isotropic` (the testdata embeddings): no privileged directions
  *    exist, PCA provably cannot help — the honest control pinning that
  *    the WIN comes from front-loaded structure, not from the rotation
  *    ritual (trained-MRL gains need trainable structure).
  *
  * Also reports the prefix ENERGY share (Σ component variance in the
  * first d coordinates / total) before and after rotation — the number
  * that says "front-loaded" without reference to any query.
  *
  * Appends/refreshes one section in RECALL.md (RecallReport's top
  * section and other probes' sections survive).
  *
  * Usage: runMain graft.tools.MrlRecallProbe [sfDir] [k] [nQueries]
  */
object MrlRecallProbe {

  /** Per-coordinate variance shares, cumulative at each prefix cut. */
  private def energyShare(df: DataFrame, cuts: Seq[Int]): Map[Int, Double] = {
    val dim = df.select("embedding").head().getSeq[Float](0).size
    val sums = df.select(
      (0 until dim).flatMap(i => Seq(
        sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i"),
        sum(pow(element_at(col("embedding"), i + 1).cast("double"), 2)).as(s"q$i")))
        :+ count(lit(1)).cast("double").as("n"): _*).head()
    val n = sums.getDouble(2 * dim)
    val vars = (0 until dim).map { i =>
      val s = sums.getDouble(2 * i); val q = sums.getDouble(2 * i + 1)
      q / n - (s / n) * (s / n)
    }
    val total = vars.sum
    cuts.map(d => d -> vars.take(d).sum / total).toMap
  }

  /** Rotate embeddings into the corpus's own PCA basis (k = dim — a
    * pure orthogonal change of basis; Spark's PCA transform is the
    * uncentered matrix product, so norms and angles are preserved up to
    * float rounding).
    */
  private def pcaRotate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = df.select("embedding").head().getSeq[Float](0).size
    val toVec = udf((a: Seq[Float]) =>
      Vectors.dense(a.map(_.toDouble).toArray))
    val withVec = df.withColumn("__v", toVec(col("embedding")))
    val model = new PCA().setInputCol("__v").setOutputCol("__p")
      .setK(dim).fit(withVec)
    val pc: DenseMatrix = model.pc
    // plain nested arrays in the closure (column j = principal dir j)
    val basis: Array[Array[Double]] =
      Array.tabulate(dim, dim)((i, j) => pc(i, j))
    val rotate = udf((v: org.apache.spark.ml.linalg.Vector) => {
      val arr = v.toArray
      val out = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        var s = 0.0
        var i = 0
        while (i < dim) { s += arr(i) * basis(i)(j); i += 1 }
        out(j) = s.toFloat
        j += 1
      }
      out
    })
    withVec.withColumn("embedding", rotate(col("__v")))
      .select("vec_id", "embedding")
  }

  private def measure(corpus: DataFrame, k: Int, nQ: Int,
                      prefixes: Seq[Int]): Map[Int, (Double, Double)] = {
    val base0 = corpus.localCheckpoint(true)
    val allIds = base0.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0))
    val qIds = (0 until nQ).map(i => allIds((i * allIds.length) / nQ))
    val qVecs = base0.where(col("vec_id").isin(qIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    def ids(df: DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val per = scala.collection.mutable.Map[Int, List[Double]]()
    qIds.foreach { qid =>
      val qv = qVecs(qid)
      val base = base0.where(col("vec_id") =!= qid)
      val exact = ids(Ann.topK(base, "vec_id", "embedding", qv, k))
      prefixes.foreach { d =>
        val got = ids(Ann.topKMatryoshka(base, "vec_id", "embedding", qv, k,
          prefixDim = d, rerankFactor = 4))
        val rec = (got & exact).size.toDouble / exact.size
        per(d) = rec :: per.getOrElse(d, Nil)
      }
    }
    prefixes.map { d =>
      val rs = per(d)
      d -> (rs.sum / rs.size, rs.min)
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 10
    val nQ = if (args.length > 2) args(2).toInt else 32
    val spark = GraftSession.getOrCreate()
    val prefixes = Seq(8, 16, 32)

    val iso = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") =!= 0).select("vec_id", "embedding")
    val isoN = iso.count()
    val clustered = Ann.syntheticClusteredEmbeddings(spark,
        n = isoN.toInt, dim = 64, nClusters = 16, spread = 0.6)
      .select("vec_id", "embedding")

    val rows = Seq(("clustered", clustered), ("isotropic", iso)).flatMap {
      case (tag, corpus) =>
        val raw = corpus.localCheckpoint(true)
        val rot = pcaRotate(raw).localCheckpoint(true)
        val eRaw = energyShare(raw, prefixes)
        val eRot = energyShare(rot, prefixes)
        val mRaw = measure(raw, k, nQ, prefixes)
        val mRot = measure(rot, k, nQ, prefixes)
        prefixes.map { d =>
          (tag, d, eRaw(d), eRot(d), mRaw(d), mRot(d))
        }
    }

    val js = rows.map { case (tag, d, eR, eP, (rR, wR), (rP, wP)) =>
      f"""{"regime":"$tag","pfx":$d,"energy_raw":$eR%.3f,"energy_pca":$eP%.3f,"recall_raw":$rR%.3f,"worst_raw":$wR%.3f,"recall_pca":$rP%.3f,"worst_pca":$wP%.3f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"mrl_recall","sf":"$sfDir","k":$k,"queries":$nQ,"rows":$js}""")

    val heading = "# Matryoshka on a front-loaded basis (PCA rotation fixture)"
    val md = new StringBuilder
    md ++= s"$heading\n\n"
    md ++= "Measured by `graft.tools.MrlRecallProbe`: the corpus rotated into its\n"
    md ++= "own PCA basis (orthogonal — cosine geometry preserved, principal\n"
    md ++= "directions moved to the FRONT coordinates) models what MRL TRAINING\n"
    md ++= "does to an embedding: concentrate information in early dims. Energy =\n"
    md ++= "cumulative per-coordinate variance share of the first pfx dims.\n"
    md ++= s"Recall@$k vs exact full-dim truth, $nQ evenly-spaced queries, self\n"
    md ++= "excluded; q289's operator (`Ann.topKMatryoshka`, rerank 4) — the q290\n"
    md ++= "memory tier serves bit-identically (ServeSpec), so the rows cover both.\n\n"
    md ++= "| regime | pfx | energy raw | energy PCA | recall raw | recall PCA | worst PCA |\n"
    md ++= "|---|---|---|---|---|---|---|\n"
    rows.foreach { case (tag, d, eR, eP, (rR, _), (rP, wP)) =>
      md ++= f"| $tag | $d | ${eR * 100}%.0f%% | ${eP * 100}%.0f%% | $rR%.3f | $rP%.3f | $wP%.3f |\n"
    }
    // the narrative interpolates from THIS run's rows — hardcoded
    // constants here would contradict the regenerated table on any
    // re-run with different data/k/queries
    val byKey = rows.map { case (tag, d, eR, eP, m1, m2) =>
      (tag, d) -> (eR, eP, m1, m2)
    }.toMap
    def pc(x: Double): String = f"${x * 100}%.0f"
    val pBig = prefixes.max
    val (cEr, cEp, (cRr, cWr), (cRp, cWp)) = byKey(("clustered", pBig))
    val small = prefixes.filterNot(_ == pBig)
    val jumps = small.map { d =>
      val (eR, eP, _, _) = byKey(("clustered", d)); s"${pc(eR)}→${pc(eP)}"
    }.mkString(", ")
    val (iEr, iEp, (iRr, _), (iRp, _)) = byKey(("isotropic", pBig))
    md ++= "\nReading (the table, not the wish): recall moves WITH the energy the\n"
    md ++= "rotation actually front-loads, and no further. Where the prefix comes\n"
    md ++= "to cover the structured subspace plus some residual (clustered\n"
    md ++= f"pfx=$pBig: energy ${pc(cEr)}%%→${pc(cEp)}%%) the basis genuinely pays — mean\n"
    md ++= f"$cRr%.3f→$cRp%.3f and the WORST query $cWr%.2f→$cWp%.2f. At pfx=${small.mkString("/")} the\n"
    md ++= s"energy share jumps ($jumps) but recall barely moves: PCA\n"
    md ++= "concentrates VARIANCE (the between-cluster structure), while what\n"
    md ++= s"separates a true top-$k neighbor from its cluster-mates is the\n"
    md ++= "within-cluster detail — by construction isotropic here, and no\n"
    md ++= "orthogonal rotation can compress isotropic mass. That boundary is the\n"
    md ++= "honest content of this fixture: LINEAR front-loading buys exactly the\n"
    md ++= "structured fraction, which is why MRL is a TRAINING objective (it\n"
    md ++= "reshapes the embedding so early dims carry neighbor-discriminative\n"
    md ++= "information, not just variance) — and why its envelope exceeds any\n"
    md ++= "rotation of an untrained embedding. The near-isotropic control moves\n"
    md ++= "the same way: PCA finds the testdata's mild anisotropy\n"
    md ++= f"(${pc(iEr)}→${pc(iEp)}%% energy at $pBig) and recall tracks it ($iRr%.3f→$iRp%.3f) —\n"
    md ++= "same mechanism, both regimes. Deployment note: the rotation is one\n"
    md ++= "64×64 matrix applied at WRITE time (and to each query); scores stay\n"
    md ++= "exact because the rerank is full-dim either way.\n"

    // refresh-or-append this section only; every other section survives
    val path = java.nio.file.Paths.get("RECALL.md")
    val cur = if (java.nio.file.Files.exists(path))
      java.nio.file.Files.readString(path) else ""
    val start = cur.indexOf(heading)
    val out =
      if (start < 0) cur + (if (cur.endsWith("\n")) "\n" else "\n\n") + md.toString
      else {
        val next = cur.indexOf("\n# ", start + heading.length)
        val tail = if (next >= 0) cur.substring(next + 1) else ""
        cur.substring(0, start) + md.toString + (if (tail.nonEmpty) "\n" + tail else "")
      }
    java.nio.file.Files.writeString(path, out)
    spark.stop()
  }
}
