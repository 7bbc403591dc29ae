package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Everything a run sends or loads comes from
  * here, so the same seed gives the same corpus, requests and order.
  */
object Gen {

  /** Sport shares follow the reference's 2,000-row sample corpus (counts in
    * SURVEY.md); `trail_run` appears only in its cache sample and gets an
    * assumed small weight. Difficulty and moving time are uniform: the
    * repo records no distribution for them.
    */
  val Sports: IndexedSeq[String] =
    IndexedSeq("run", "ride", "swim", "alpineski", "hike", "workout", "yoga", "trail_run")
  private val SportCdf = cdf(Seq(1001.0, 489, 227, 84, 72, 65, 62, 20))
  val Difficulties: IndexedSeq[String] = IndexedSeq("easy", "moderate", "hard")

  val Vocab: IndexedSeq[String] = (
    "warmup cooldown intervals tempo threshold recovery hills sprint drills " +
    "cadence zone pace power endurance strides fartlek steady easy aerobic " +
    "anaerobic vo2max lactate progression negative split ladder pyramid " +
    "repeats rest jog spin climb descent flat track trail road treadmill " +
    "pool open water kick pull buoy paddles freestyle backstroke breaststroke " +
    "butterfly technique form core strength mobility stretch balance plank " +
    "squat lunge deadlift press row burpee kettlebell band yoga flow breath " +
    "hold pose sun salutation hip opener heart rate perceived effort rpe " +
    "sweet spot ftp watts rpm standing seated surge float fast finish long " +
    "short base build peak taper race goal marathon half 10k 5k century " +
    "gravel mountain switchback summit ridge valley snow ski skin boot pole " +
    "glide carve mogul groomer powder walk brisk incline hike pack trekking " +
    "rucking elevation gain meters minutes seconds set block main session " +
    "focus cue relaxed smooth strong controlled explosive light moderate hard"
  ).split(" ").toIndexedSeq.distinct

  /** Words a fallback request searches EMBED_STR for (`@contains`). */
  val ContainsWords: IndexedSeq[String] =
    IndexedSeq("fartlek", "ladder", "pyramid", "kettlebell", "switchback",
      "negative", "surge", "buoy", "mogul", "rucking")

  final case class Doc(id: Long, text: String, sport: String,
                       difficulty: String, movingS: Int, distanceM: Option[Int])

  private def cdf(w: Seq[Double]): Array[Double] =
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray

  private def pick(r: SplittableRandom, c: Array[Double]): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(c, u)
    math.min(if (i >= 0) i else -i - 1, c.length - 1)
  }

  private def words(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(Vocab(r.nextInt(Vocab.size)))

  /** `n` workout documents in the reference's `Workout` shape. */
  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = new SplittableRandom(seed ^ 0x5eed0001L)
    (0 until n).map { i =>
      val sport = Sports(pick(r, SportCdf))
      val diff = Difficulties(r.nextInt(3))
      val minutes = 20 + r.nextInt(221)
      val body = (0 until 4 + r.nextInt(4)).map(_ =>
        words(r, 6 + r.nextInt(6)).mkString(" ")).mkString(".\n- ", ".\n- ", ".")
      val text =
        s"# ${words(r, 2).mkString(" ")} $sport session\n\n" +
          s"$sport workout, $diff. About $minutes minutes.\n$body"
      Doc(100000L + i, text, sport, diff, minutes * 60 + r.nextInt(60),
        if (r.nextInt(16) == 0) None else Some(2000 + r.nextInt(68001)))
    }
  }

  val corpusSchema: StructType = StructType(Seq(
    StructField("ID", LongType, nullable = false),
    StructField("EMBED_STR", StringType),
    StructField("SPORT_TYPE", StringType),
    StructField("DIFFICULTY", StringType),
    StructField("MOVING_TIME_SECONDS", IntegerType),
    StructField("DISTANCE_METERS", IntegerType)))

  def corpusFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map(d => Row(d.id, d.text, d.sport,
        d.difficulty, d.movingS, d.distanceM.orNull)): _*), corpusSchema)

  /** One front-door request. `fallback` marks the requests the memory tier
    * cannot cover; `shape` is the filter's shape (one of [[Shapes]]);
    * `filterOf` is the predicate the response rows must satisfy;
    * `candidates` is how many corpus rows pass the filter.
    */
  final case class DoorReq(json: String, fallback: Boolean, shape: String,
                           candidates: Int, filterOf: Doc => Boolean)

  /** Filter shapes: the notebook's four covered ones, then the uncovered one. */
  val Shapes: IndexedSeq[String] =
    IndexedSeq("eq_sport", "and_sport_difficulty", "or_two_sports", "moving_time_range",
      "contains_text")

  val Columns = Seq("ID", "SPORT_TYPE", "DIFFICULTY", "MOVING_TIME_SECONDS")
  val Limit = 5

  private def q(s: String) = "\"" + s + "\""

  /** `n` distinct text requests over `docs`. Uncovered (`fallback`) ones
    * filter `@contains` on EMBED_STR, which only the Spark path serves.
    * Covered ones use one of the notebook's four filter shapes, each with
    * probability 1/4: an assumption, as the reference gives no traffic mix.
    */
  def doorRequests(seed: Long, docs: IndexedSeq[Doc], n: Int,
                   fallback: Boolean): IndexedSeq[DoorReq] = {
    val r = new SplittableRandom(seed ^ 0x5eed0002L)
    val seen = new java.util.HashSet[String]()
    val cols = Columns.map(q).mkString("[", ",", "]")
    val containsHits = ContainsWords.map(w => w -> docs.count(_.text.contains(w))).toMap
    val bySport = docs.groupBy(_.sport).map { case (k, v) => k -> v.size }
    val bySportDiff = docs.groupBy(d => (d.sport, d.difficulty)).map { case (k, v) => k -> v.size }
    val times = docs.map(_.movingS).sorted.toArray
    def countRange(lo: Int, hi: Int): Int = {
      def firstAtLeast(x: Int) = {
        val i = java.util.Arrays.binarySearch(times, x)
        var j = if (i >= 0) i else -i - 1
        while (j > 0 && times(j - 1) >= x) j -= 1
        j
      }
      firstAtLeast(hi + 1) - firstAtLeast(lo)
    }
    (0 until n).map { _ =>
      var text = ""
      do text = (words(r, 3 + r.nextInt(4)) :+ Sports(pick(r, SportCdf))).mkString(" ")
      while (!seen.add(text))
      val body = s"""{"query":${q(text)},"columns":$cols,"limit":$Limit"""
      if (fallback) {
        val w = ContainsWords(r.nextInt(ContainsWords.size))
        DoorReq(body + s""","filter":{"@contains":{"EMBED_STR":${q(w)}}}}""",
          fallback = true, Shapes(4), containsHits(w), _.text.contains(w))
      } else {
        val s1 = Sports(pick(r, SportCdf))
        r.nextInt(4) match {
          case 0 => DoorReq(body + s""","filter":{"@eq":{"SPORT_TYPE":${q(s1)}}}}""",
            false, Shapes(0), bySport.getOrElse(s1, 0), _.sport == s1)
          case 1 =>
            val d = Difficulties(r.nextInt(3))
            DoorReq(body + s""","filter":{"@and":[{"@eq":{"SPORT_TYPE":${q(s1)}}},{"@eq":{"DIFFICULTY":${q(d)}}}]}}""",
              false, Shapes(1), bySportDiff.getOrElse((s1, d), 0),
              x => x.sport == s1 && x.difficulty == d)
          case 2 =>
            val s2 = Sports((Sports.indexOf(s1) + 1 + r.nextInt(Sports.size - 1)) % Sports.size)
            DoorReq(body + s""","filter":{"@or":[{"@eq":{"SPORT_TYPE":${q(s1)}}},{"@eq":{"SPORT_TYPE":${q(s2)}}}]}}""",
              false, Shapes(2), bySport.getOrElse(s1, 0) + bySport.getOrElse(s2, 0),
              x => x.sport == s1 || x.sport == s2)
          case _ =>
            val lo = (20 + r.nextInt(180)) * 60
            val hi = lo + (5 + r.nextInt(20)) * 60
            DoorReq(body + s""","filter":{"@and":[{"@gte":{"MOVING_TIME_SECONDS":$lo}},{"@lte":{"MOVING_TIME_SECONDS":$hi}}]}}""",
              false, Shapes(3), countRange(lo, hi),
              x => x.movingS >= lo && x.movingS <= hi)
        }
      }
    }
  }

  /** A Zipf-popular stream of cache queries. Each topic has four spellings:
    * two reorder/reformat the same words (same embedding, different key),
    * one is the plain form, and one swaps two words (a different request
    * the cache must not answer from the topic's earlier result). The topic
    * count, the Zipf exponent and the spellings are assumptions: the
    * reference gives no query log. Each run prints the exact-repeat,
    * semantic-hit and write shares they produce.
    */
  def cacheQueries(seed: Long, topics: Int, n: Int, zipfS: Double): IndexedSeq[String] = {
    val r = new SplittableRandom(seed ^ 0x5eed0003L)
    val base = IndexedSeq.fill(topics) {
      (Sports(pick(r, SportCdf)) +: words(r, 6)).distinct
    }
    val variants = base.map { w =>
      val swapped = w.take(w.size - 2) ++ words(r, 2)
      IndexedSeq(w.mkString(" "), w.reverse.mkString(" "),
        w.map(_.capitalize).mkString(", "), swapped.mkString(" "))
    }
    val zipf = cdf((1 to topics).map(k => 1.0 / math.pow(k, zipfS)))
    IndexedSeq.fill(n)(variants(pick(r, zipf))(r.nextInt(4)))
  }

  /** Tables read by the batch query list, in the gate's schema
    * (documents, embeddings, orders, lineitem). Fixed content: the list's
    * recorded row counts and hashes hold for every run.
    */
  def writeBatchTables(spark: SparkSession, dir: String, docs: Int,
                       orders: Int): Unit = {
    val r = new SplittableRandom(20261017L)
    val words = ("batch part spark line column order small sort fast value " +
      "scan a hash slow group agg filter query big key window row table " +
      "stream merge data customer vector join the").split(" ")
    val langs = cdf(Seq(0.41, 0.15, 0.15, 0.15, 0.14))
    val langNames = Array("en", "zh", "es", "fr", "de")
    val texts = new Array[String](docs)
    (0 until docs).foreach { i =>
      texts(i) =
        if (i > 10 && r.nextInt(12) == 0) {
          // a near-duplicate of an earlier document
          val src = texts(r.nextInt(i)).split(" ")
          (if (r.nextBoolean()) src else src :+ words(r.nextInt(words.length)))
            .mkString(" ") + (if (r.nextInt(4) == 0) " dup" else "")
        } else Seq.fill(8 + r.nextInt(90))(words(r.nextInt(words.length))).mkString(" ")
    }
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write("documents", StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType))),
      (0 until docs).map(i => Row(i.toLong, texts(i), langNames(pick(r, langs)),
        s"src${i % 20}", texts(i).length.toLong)))
    val dim = 64
    write("embeddings", StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))),
      (0 until docs).map { i =>
        val v = Array.fill(dim)(r.nextGaussian().toFloat)
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
    val day0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val customers = orders / 10
    write("orders", StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))),
      (0 until orders).map(i => Row(i.toLong, r.nextInt(customers).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), (100000 + r.nextInt(40000000)) / 100.0,
        new java.sql.Timestamp(day0 + r.nextInt(2400) * 86400000L),
        s"${1 + r.nextInt(5)}-PRIORITY")))
    write("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType))),
      (0 until orders * 4).map { i =>
        Row((i / 4).toLong, r.nextInt(2000).toLong, r.nextInt(100).toLong, i % 4 + 1,
          (1 + r.nextInt(50)).toDouble, (100000 + r.nextInt(10000000)) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
          Seq("F", "O")(r.nextInt(2)),
          new java.sql.Timestamp(day0 + r.nextInt(2500) * 86400000L))
      })
  }
}
