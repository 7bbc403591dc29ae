package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, forAllNoShrink}

import graft.functions.PortableHash
import graft.ml.BpeTokenizer
import graft.operators.Ann

/** Pure-function property suite (ScalaCheck framework, runs under `sbt
  * test` alongside the ScalaTest specs — SURVEY §5.2.4). Spark-free
  * on purpose: these pin the algebraic contracts the distributed operators
  * rely on.
  */
object GraftProps extends Properties("graft") {

  private val vec: Gen[List[Float]] =
    Gen.nonEmptyListOf(Gen.chooseNum(-5f, 5f)).map { xs =>
      if (xs.forall(_ == 0f)) 1f :: xs.tail else xs
    }

  property("cosine.symmetric") = forAll(vec) { a =>
    forAll(Gen.listOfN(a.length, Gen.chooseNum(-5f, 5f)).map { b =>
      if (b.forall(_ == 0f)) List.fill(a.length)(1f) else b
    }) { b =>
      math.abs(Ann.cosine(a, b) - Ann.cosine(b, a)) < 1e-12
    }
  }

  property("cosine.self-similarity-1") = forAll(vec) { a =>
    math.abs(Ann.cosine(a, a) - 1.0) < 1e-9
  }

  property("cosine.bounded") = forAll(vec) { a =>
    forAll(Gen.listOfN(a.length, Gen.chooseNum(-5f, 5f)).map { b =>
      if (b.forall(_ == 0f)) List.fill(a.length)(1f) else b
    }) { b =>
      val c = Ann.cosine(a, b)
      c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9
    }
  }

  property("cosine.scale-invariant") = forAll(vec, Gen.chooseNum(0.1f, 10f)) { (a, k) =>
    val scaled = a.map(_ * k)
    math.abs(Ann.cosine(a, scaled) - 1.0) < 1e-6
  }

  property("hash32.deterministic-and-bounded") = forAll { (s: String) =>
    val h = PortableHash.hash32(s)
    h == PortableHash.hash32(s) && h >= 0L && h < (1L << 32)
  }

  property("hash60.bounded-positive") = forAll { (s: String) =>
    val h = PortableHash.hash60(s)
    h >= 0L && h < (1L << 60)
  }

  property("md5hex.matches-jdk-reference") = forAll { (s: String) =>
    val jdk = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    PortableHash.md5Hex(s) == jdk
  }

  // minhash collision probability estimates jaccard: identical sets ⇒
  // identical signatures; disjoint sets ⇒ (with 16 hashes over a 2^32
  // space) almost surely different somewhere
  private def sig(tokens: Set[String], k: Int = 16): Seq[Long] =
    (0 until k).map { i =>
      tokens.map { t =>
        val h = PortableHash.hash32(t)
        ((2L * i + 1L) * h + i.toLong * 40503L) % 4294967311L
      }.min
    }

  private val tokenSet: Gen[Set[String]] =
    Gen.nonEmptyListOf(Gen.identifier).map(_.toSet)

  property("minhash.identical-sets-identical-signatures") = forAll(tokenSet) { t =>
    sig(t) == sig(t)
  }

  property("minhash.subset-signature-dominates") = forAll(tokenSet, tokenSet) { (a, b) =>
    // sig(a ∪ b) is the element-wise min of sig(a), sig(b)
    val u = sig(a ++ b)
    u == sig(a).zip(sig(b)).map { case (x, y) => math.min(x, y) }
  }

  // catalyst eval of the fused two-pointer expression needs no session;
  // pin it against plain set algebra
  property("jaccard-sorted.equals-set-algebra") = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val setGen = Gen.nonEmptyListOf(Gen.chooseNum(-50L, 50L)).map(_.toSet)
    forAll(setGen, setGen) { (a, b) =>
      val expr = graft.functions.JaccardSorted(
        Literal(ArrayData.toArrayData(a.toArray.sorted), ArrayType(LongType)),
        Literal(ArrayData.toArrayData(b.toArray.sorted), ArrayType(LongType)))
      val got = expr.eval(null).asInstanceOf[Double]
      val want = a.intersect(b).size.toDouble / a.union(b).size.toDouble
      java.lang.Double.compare(got, want) == 0
    }
  }

  property("topk.equals-sort-take") =
    forAll(Gen.listOf(Gen.zip(Gen.posNum[Long], Gen.chooseNum(-1.0, 1.0))),
      Gen.chooseNum(1, 10)) { (rows, k) =>
      val dedup = rows.toMap.toSeq
      val viaSort = dedup.sortBy { case (id, s) => (-s, id) }.take(k)
      val viaHeap = {
        var buf = List.empty[(Long, Double)]
        dedup.foreach { r =>
          buf = (r :: buf).sortBy { case (id, s) => (-s, id) }.take(k)
        }
        buf
      }
      viaSort == viaHeap
    }

  /** The fan-out lemma [[graft.serve.Sharded]] rests on for every tier
    * (dense, BM25, learned-sparse, and both hybrid legs): over a DISJOINT
    * cover of the rows, the k-bounded
    * merge of per-shard top-k's under (score DESC, id ASC) equals the
    * global top-k — for any shard count, any k, with score ties
    * (quantized scores force them). Randomized here over the real
    * splitmix64 shard rule, so cover-disjointness is the actual
    * production assignment, not an idealized one.
    */
  property("sharded-merge.k-bounded-union-equals-global") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 400L), Gen.chooseNum(-20, 20))),
      Gen.chooseNum(1, 8), Gen.chooseNum(1, 12)) { (rows0, nShards, k) =>
      val rows = rows0.toMap.toSeq.map { case (id, s) => (id, s / 7.0) }
      def rank(xs: Seq[(Long, Double)]) =
        xs.sortBy { case (id, s) => (-s, id) }.take(k)
      val global = rank(rows)
      val perShard = (0 until nShards).map(sh => rows.filter { case (id, _) =>
        graft.serve.Sharded.shardOf(id, nShards) == sh })
      // the cover is disjoint and complete
      val cover = perShard.flatMap(_.map(_._1))
      cover.distinct.lengthCompare(cover.length) == 0 &&
        cover.toSet == rows.map(_._1).toSet &&
        rank(perShard.flatMap(rank)) == global
    }

  /** The memory tiers' one top-k kernel ([[graft.serve.TopK]]): per-list
    * selection followed by the k-way merge must equal ONE full sort under
    * (Double.compare DESC, id ASC) — NaN first, +0.0 above -0.0, ties by
    * id — with ids repeated across lists (one id ⇒ one score, the fan-out
    * invariant the DNF union relies on), k = 0, k > n and k = Int.MaxValue.
    * The smallest-first form (distances) must equal the ascending sort
    * with the same id tie-break; integral scores take the same path.
    */
  property("serve.topk-select-merge-equals-total-order-sort") = {
    import graft.serve.TopK
    val scoreGen = Gen.oneOf(
      Gen.oneOf(Double.NaN, -0.0, 0.0, 0.5, -1.0, Double.PositiveInfinity,
        Double.NegativeInfinity),
      Gen.chooseNum(-1.0, 1.0).map(s => math.rint(s * 4) / 4))
    val kGen = Gen.oneOf(Gen.const(0), Gen.chooseNum(1, 12), Gen.const(Int.MaxValue))
    // (id, score, bitmask of the lists the id lands in — never none)
    val rowGen = Gen.zip(Gen.chooseNum(0L, 30L), scoreGen, Gen.chooseNum(1, 15))
    forAll(Gen.listOf(rowGen), kGen) { (raw, k) =>
      val rows = raw.map { case (id, s, m) => id -> (s, m) }.toMap.toSeq
      def desc(a: (Long, Double), b: (Long, Double)): Boolean = {
        val c = java.lang.Double.compare(b._2, a._2)
        c < 0 || (c == 0 && a._1 < b._1)
      }
      def asc(a: (Long, Double), b: (Long, Double)): Boolean = {
        val c = java.lang.Double.compare(a._2, b._2)
        c < 0 || (c == 0 && a._1 < b._1)
      }
      def bits(xs: Seq[(Long, Double)]) =
        xs.map { case (id, s) => (id, java.lang.Double.doubleToLongBits(s)) }
      val all = rows.map { case (id, (s, _)) => (id, s) }
      val lists = (0 until 4).map(li => rows.collect {
        case (id, (s, m)) if ((m >> li) & 1) == 1 => (id, s)
      })
      val selected = lists.map { l =>
        val top = TopK.largest(k, l.size)
        l.foreach { case (id, s) => top.offer(s, id) }
        top.toSeq
      }
      val smallest = {
        val top = TopK.smallest(k, all.size)
        all.foreach { case (id, s) => top.offer(s, id) }
        top.toSeq
      }
      // integral scores over a disjoint cover (each id in its lowest list)
      val longs = (0 until 4).map(li => rows.collect {
        case (id, (s, m)) if Integer.numberOfTrailingZeros(m) == li =>
          (id, (s * 4).round)
      })
      val longSelected = longs.map { l =>
        val top = TopK.largest(k, l.size)
        l.foreach { case (id, s) => top.offerLong(s, id) }
        top.toLongSeq
      }
      val longWant = longs.flatten.sortWith { (a, b) =>
        a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
      }.take(k)
      Prop(selected.zip(lists).forall { case (got, l) =>
        bits(got) == bits(l.sortWith(desc).take(k)) }) :| "per-list selection" &&
        Prop(bits(TopK.merge(selected, k, distinct = true)) ==
          bits(all.sortWith(desc).take(k))) :| "merge" &&
        Prop(bits(smallest) == bits(all.sortWith(asc).take(k))) :| "smallest" &&
        Prop(TopK.mergeLong(longSelected, k) == longWant) :| "long scores"
    }
  }

  /** The round-4 TopKAgg threshold fast path: any chunking of the input into
    * partial buffers (reduce folds) merged in any grouping must equal
    * sort-take — including the stale-threshold reject and tie handling
    * (scores are quantized to force ties).
    */
  property("topk-agg.partition-fold-equals-sort-take") =
    forAll(Gen.listOf(Gen.chooseNum(-1.0, 1.0)), Gen.chooseNum(1, 8),
      Gen.chooseNum(1, 5)) { (raw, k, nChunks) =>
      val xs = raw.map(s => math.rint(s * 5) / 5).zipWithIndex
        .map { case (s, i) => Ann.Scored(s, i.toLong) }
      val agg = new Ann.TopKAgg(k)
      val chunkSize = math.max(1, xs.size / nChunks + 1)
      val bufs = xs.grouped(chunkSize).map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = bufs.foldLeft(agg.zero)(agg.merge)
      agg.finish(merged) == xs.sortBy(x => (-x.score, x.id)).take(k)
    }

  /** The round-5 quality-gate theorem, checked by brute force: on any
    * multiset (values quantized to force heavy ties, folded through
    * arbitrary partition chunkings), `v > LowerHalfBoundary` must select
    * EXACTLY the rows with percent_rank >= 0.5 (cntLess/(n-1) >= 1/2).
    */
  property("gate.boundary-equals-percent-rank") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1.0, 1.0)), Gen.chooseNum(1, 5),
      Gen.oneOf(0.125, 0.25, 0.5, 0.75, 0.875)) {
      (raw, nChunks, p) =>
        val vs = raw.map(v => math.rint(v * 4) / 4)
        val agg = new graft.operators.Gate.RankBoundary(p)
        val chunkSize = math.max(1, vs.size / nChunks + 1)
        val bufs = vs.grouped(chunkSize).map(_.foldLeft(agg.zero)(agg.reduce))
        val thr = agg.finish(bufs.foldLeft(agg.zero)(agg.merge))
        val n = vs.size
        val viaGate = vs.filter(v => n == 1 || thr.exists(v > _)).sorted
        val viaRank = vs.filter { v =>
          n == 1 || vs.count(_ < v).toDouble / (n - 1) >= p
        }.sorted
        viaGate == viaRank && (thr.isEmpty == (n < 2))
    }

  /** Misra-Gries contract under arbitrary partition chunkings and the
    * mergeable combine rule: estimates never overcount, undercount by at
    * most N/(capacity+1), and inside the exactness window (capacity >=
    * distinct tokens) every count is exact — the q96 gate's premise.
    */
  property("vocab.misra-gries-bounds") =
    forAll(Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")),
      Gen.chooseNum(1, 10), Gen.chooseNum(1, 5)) { (tokens, capacity, nChunks) =>
      val agg = new graft.operators.Vocab.MisraGries(capacity)
      val chunkSize = math.max(1, tokens.size / nChunks + 1)
      val bufs = tokens.grouped(chunkSize).map(_.foldLeft(agg.zero)(agg.reduce))
      val est = bufs.foldLeft(agg.zero)(agg.merge)
      val truth = tokens.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = tokens.size.toLong
      val bound = n / (capacity + 1)
      val noOver = est.forall { case (t, e) => e <= truth.getOrElse(t, 0L) }
      val bounded = truth.forall { case (t, c) => c - est.getOrElse(t, 0L) <= bound }
      val exactInWindow = capacity < truth.size || est == truth
      noOver && bounded && exactInWindow
    }

  /** BPE round-trip: whatever dict the merges were fitted on and whatever
    * word is encoded (seen or unseen), concatenating the subword tokens
    * reconstructs the word + sentinel exactly — merges only ever JOIN
    * adjacent symbols.
    */
  property("bpe.roundtrip") = {
    val word = Gen.nonEmptyListOf(Gen.oneOf('l', 'o', 'w', 'e', 's', 't'))
      .map(_.mkString)
    forAll(Gen.nonEmptyListOf(word.flatMap(w =>
      Gen.chooseNum(1L, 9L).map(w -> _))), Gen.chooseNum(0, 12), word) {
      (dict, numMerges, probe) =>
        val m = graft.ml.BpeTokenizer.fitFromDict(dict, numMerges)
        m.encodeWord(probe).mkString == probe + BpeTokenizer.Eow &&
          m.encode("") == Nil
    }
  }

  /** The memory serving tier against a straight-line brute force: for ANY
    * corpus (random vectors, random cell assignment, random metadata) and
    * any query/k/filter, `MemoryAnnIndex.topK` must equal sort-all-by
    * (cosine DESC, id ASC) — same bits (both sides share [[Ann.cosine]]'s
    * fold), same ties, same filter semantics. The cells/heap/offsets
    * machinery must be unobservable.
    */
  property("serve.memory-topk-equals-brute-force") = {
    val dim = 5
    val fvec: Gen[List[Float]] =
      Gen.listOfN(dim, Gen.chooseNum(-4f, 4f)).map { xs =>
        if (xs.forall(_ == 0f)) 1f :: xs.tail else xs
      }
    val rowGen = for {
      v <- fvec
      cell <- Gen.chooseNum(0, 2)
      tag <- Gen.chooseNum(0L, 3L)
    } yield (v, cell, tag)
    val corpusGen = Gen.nonEmptyListOf(rowGen)
      .map(_.zipWithIndex.map { case ((v, c, t), i) => (i.toLong, v, c, t) })
    val cents = (0 until 3).map(c =>
      Seq.tabulate(dim)(j => math.sin(c * 7 + j).toFloat))
    forAll(corpusGen, fvec, Gen.chooseNum(1, 8),
      Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 3L)) { (rows, q, k, fa, fb) =>
      val (lo, hi) = (math.min(fa, fb), math.max(fa, fb))
      val idx = graft.serve.MemoryAnnIndex.fromRows(
        rows.map(r => (r._1, r._2, r._3)), cents,
        metaCols = Seq("tag"), metaVals = rows.map(r => Seq(r._4)))
      def brute(pred: Long => Boolean) = rows
        .filter(r => pred(r._4))
        .map(r => (r._1, Ann.cosine(r._2, q)))
        .sortBy { case (id, s) => (-s, id) }.take(k)
      idx.topK(q, k) == brute(_ => true) &&
        idx.topK(q, k, Seq(graft.serve.MetaFilter("tag", lo, hi))) ==
          brute(t => t >= lo && t <= hi)
    }
  }

  property("topk-agg.signed-zero-regression") = {
    // the seed that falsified the fold property quantized scores to
    // -0.0: IEEE == treats -0.0 == 0.0, so the fast-path threshold
    // rejected a +0.0 row that beats a -0.0 threshold under the total
    // order — pinned deterministically here
    val agg = new Ann.TopKAgg(1)
    val xs = Seq(Ann.Scored(-0.0, 0L), Ann.Scored(-0.0, 1L),
      Ann.Scored(-0.0, 2L), Ann.Scored(0.0, 3L))
    val folded = agg.finish(xs.foldLeft(agg.zero)(agg.reduce))
    Prop(folded == Seq(Ann.Scored(0.0, 3L))) :| s"got $folded"
  }

  property("serve.delta-merge-equals-rebuild-under-random-op-sequences") = {
    val dim = 4
    val fvec: Gen[List[Float]] =
      Gen.listOfN(dim, Gen.chooseNum(-4f, 4f)).map { xs =>
        if (xs.forall(_ == 0f)) 1f :: xs.tail else xs
      }
    // ops over a small id space so adds/upserts/deletes/re-adds collide
    val opGen: Gen[(Int, Long, List[Float])] = for {
      kind <- Gen.chooseNum(0, 2) // 0 = add/upsert, 1 = delete, 2 = delete-unknown
      id <- Gen.chooseNum(0L, 11L)
      v <- fvec
    } yield (kind, id, v)
    val baseGen = Gen.listOfN(6, fvec)
      .map(_.zipWithIndex.map { case (v, i) => (i.toLong, v) })
    forAll(baseGen, Gen.listOf(opGen), fvec, Gen.chooseNum(1, 9)) {
      (baseRows, ops, q, k) =>
        val base = graft.serve.MemoryAnnIndex.fromRows(
          baseRows.map { case (id, v) => (id, v, 0) },
          Seq(Seq.fill(dim)(0.0f)))
        val delta = new graft.serve.DeltaAnnIndex(base)
        // the logical table the op sequence produces, replayed naively
        var logical = baseRows.toMap
        ops.foreach {
          case (0, id, v) => delta.add(id, v); logical += (id -> v)
          case (_, id, _) => delta.delete(id); logical -= id
        }
        val want = logical.toSeq
          .map { case (id, v) => (id, Ann.cosine(v, q)) }
          .sortBy { case (id, s) => (-s, id) }.take(k)
        val got = delta.topK(q, k)
        val handoff = (baseRows.map(_._1).toSet -- delta.tombstonedIds) ++
          delta.deltaRows.map(_._1)
        got == want && handoff == logical.keySet &&
          delta.deltaRows.map(_._1) == delta.deltaRows.map(_._1).sorted
    }
  }

  // ---- delta retraction ≡ never-added, under RANDOM op sequences (the
  // fixed interleavings in DeltaPostingsSpec/DeltaSparseSpec generalize
  // here): a tier that saw adds AND retracts must serve — to the BIT —
  // what a fresh handle over the same base with only the SURVIVING adds
  // replayed serves, on both read paths. Valid-op filtering mirrors the
  // contracts (no double-add of a live id, no retract of a dead one).

  private def lexPostingsOf(docs: Seq[(Long, String)])
      : Array[(String, (Long, Long, Long))] =
    docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      val dl = toks.length.toLong
      toks.groupBy(identity).map { case (t, xs) =>
        (t, (id, xs.length.toLong, dl))
      }
    }.toArray

  private val lexBaseDocs = Seq(
    1L -> "alpha beta beta", 2L -> "beta gamma",
    3L -> "alpha gamma gamma delta", 4L -> "", 5L -> "delta alpha")
  private val lexWords = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")

  property("serve.delta-lexical-retract-equals-replay-of-survivors") = {
    val baseSumDl = lexBaseDocs.map(_._2.split(" ", -1).length.toLong).sum
    val textGen = Gen.chooseNum(1, 5)
      .flatMap(n => Gen.listOfN(n, lexWords)).map(_.mkString(" "))
    val opGen: Gen[(Int, Long, String)] = for {
      kind <- Gen.chooseNum(0, 1) // 0 = add, 1 = retract
      id <- Gen.chooseNum(100L, 107L) // small space: re-adds collide
      t <- textGen
    } yield (kind, id, t)
    def bits(xs: Seq[(Long, Double)]) =
      xs.map { case (id, s) => (id, java.lang.Double.doubleToLongBits(s)) }
    forAll(Gen.listOf(opGen), Gen.nonEmptyListOf(lexWords),
      Gen.chooseNum(1, 8)) { (ops, qraw, k) =>
      val tier = graft.serve.DeltaPostingsIndex.fromRows(
        lexPostingsOf(lexBaseDocs), lexBaseDocs.size.toLong, baseSumDl)
      var live = Map.empty[Long, String]
      ops.foreach {
        case (0, id, t) if !live.contains(id) =>
          tier.addDoc(id, t); live += (id -> t)
        case (1, id, _) if live.contains(id) =>
          tier.retractDoc(id); live -= id
        case _ => () // contract-invalid op: skipped (rejections spec'd)
      }
      val twin = graft.serve.DeltaPostingsIndex.fromRows(
        lexPostingsOf(lexBaseDocs), lexBaseDocs.size.toLong, baseSumDl)
      live.toSeq.sortBy(_._1).foreach { case (id, t) => twin.addDoc(id, t) }
      val q = qraw.distinct
      val got = tier.topK(q, k)
      bits(got) == bits(twin.topK(q, k)) &&
        bits(tier.topKWand(q, k)) == bits(got) &&
        tier.deltaSize == live.size.toLong
    }
  }

  // ---- republish ≡ no-op for results, under RANDOM op sequences: a tier
  // that interleaved adds, retracts, AND in-memory republish folds
  // (DeltaTier.republish — delta → new immutable base) must serve — to
  // the BIT — what a never-folded twin over the same surviving adds
  // serves. Valid-op rules extend the retract property's: an id is
  // addable iff not live anywhere (folded docs are published, so their
  // ids stay taken), retractable iff still in the CURRENT delta.
  property("serve.delta-lexical-republish-equals-replay-of-survivors") = {
    val baseSumDl = lexBaseDocs.map(_._2.split(" ", -1).length.toLong).sum
    val textGen = Gen.chooseNum(1, 5)
      .flatMap(n => Gen.listOfN(n, lexWords)).map(_.mkString(" "))
    val opGen: Gen[(Int, Long, String)] = for {
      kind <- Gen.frequency(4 -> 0, 3 -> 1, 2 -> 2) // add, retract, fold
      id <- Gen.chooseNum(100L, 107L)
      t <- textGen
    } yield (kind, id, t)
    def bits(xs: Seq[(Long, Double)]) =
      xs.map { case (id, s) => (id, java.lang.Double.doubleToLongBits(s)) }
    forAll(Gen.listOf(opGen), Gen.nonEmptyListOf(lexWords),
      Gen.chooseNum(1, 8)) { (ops, qraw, k) =>
      var tier = graft.serve.DeltaPostingsIndex.fromRows(
        lexPostingsOf(lexBaseDocs), lexBaseDocs.size.toLong, baseSumDl)
      var survivors = Map.empty[Long, String] // adds never retracted
      var inDelta = Set.empty[Long]           // retractable (unfolded) adds
      ops.foreach {
        case (0, id, t) if !survivors.contains(id) =>
          tier.addDoc(id, t); survivors += (id -> t); inDelta += id
        case (1, id, _) if inDelta(id) =>
          tier.retractDoc(id); survivors -= id; inDelta -= id
        case (2, _, _) =>
          tier = tier.republish(); inDelta = Set.empty
        case _ => () // contract-invalid op: skipped (rejections spec'd)
      }
      val twin = graft.serve.DeltaPostingsIndex.fromRows(
        lexPostingsOf(lexBaseDocs), lexBaseDocs.size.toLong, baseSumDl)
      survivors.toSeq.sortBy(_._1).foreach { case (id, t) => twin.addDoc(id, t) }
      val q = qraw.distinct
      val got = tier.topK(q, k)
      bits(got) == bits(twin.topK(q, k)) &&
        bits(tier.topKWand(q, k)) == bits(got) &&
        tier.deltaSize == inDelta.size.toLong
    }
  }

  property("serve.delta-sparse-retract-equals-replay-of-survivors") = {
    val baseRows: Array[(String, (Long, Long))] =
      lexPostingsOf(lexBaseDocs).filter(_._1.nonEmpty)
        .map { case (t, (id, tf, _)) => (t, (id, tf)) }
    val wGen: Gen[Map[String, Long]] = Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.zip(lexWords, Gen.chooseNum(1L, 5L))).map(_.toMap))
    val opGen: Gen[(Int, Long, Map[String, Long])] = for {
      kind <- Gen.chooseNum(0, 1)
      id <- Gen.chooseNum(100L, 107L)
      w <- wGen
    } yield (kind, id, w)
    forAll(Gen.listOf(opGen), wGen, Gen.chooseNum(1, 8)) { (ops, q, k) =>
      val tier = graft.serve.DeltaSparseIndex.fromRows(baseRows)
      var live = Map.empty[Long, Map[String, Long]]
      ops.foreach {
        case (0, id, w) if !live.contains(id) =>
          tier.addDoc(id, w); live += (id -> w)
        case (1, id, _) if live.contains(id) =>
          tier.retractDoc(id); live -= id
        case _ => ()
      }
      val twin = graft.serve.DeltaSparseIndex.fromRows(baseRows)
      live.toSeq.sortBy(_._1).foreach { case (id, w) => twin.addDoc(id, w) }
      tier.topK(q, k) == twin.topK(q, k) &&
        tier.topKWand(q, k) == tier.topK(q, k) &&
        tier.deltaSize == live.size.toLong
    }
  }

  // float elements with every special the fold can meet: NaN, ±0.0, ±Inf,
  // subnormals. Mostly ordinary values over a wide exponent range, so
  // that most folds stay finite and round, and a changed add order shows
  // in the bits
  private val specialFloat: Gen[Float] = Gen.frequency(
    20 -> Gen.zip(Gen.chooseNum(-4f, 4f), Gen.chooseNum(-12, 12))
      .map { case (x, e) => x * math.scalb(1f, e) },
    1 -> Gen.oneOf(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MinPositiveValue, -Float.MinPositiveValue,
      1.0e-40f, -3.0e-39f, Float.MaxValue))

  /** The 4-row fold ([[graft.serve.Cosine.dot4]]) keeps every lane's
    * bits: each lane's dot, divided by its norms, equals the one-row
    * [[graft.serve.Cosine.score]] (NaN compared as NaN), and
    * [[graft.serve.Cosine.scores]] equals n one-row calls for every n
    * from 0 to 9 — every tail length — over any rows, repeats included.
    * Neither property here shrinks: shrinking their nested float lists
    * runs for minutes, and the drawn case is printed as it is.
    */
  property("serve.cosine-four-row-fold-equals-one-row-bitwise") = {
    import graft.serve.Cosine
    forAllNoShrink(Gen.chooseNum(1, 24)) { dim =>
      forAllNoShrink(Gen.listOfN(6 * dim, specialFloat), Gen.listOfN(dim, specialFloat),
        Gen.listOf(Gen.chooseNum(0, 5)).map(_.take(9))) { (flat, qf, picks) =>
        val vecs = flat.toArray
        val norms = Cosine.norms(vecs, 6, dim)
        val q = Cosine.query(qf)
        val qNorm = Cosine.queryNorm(q, dim)
        def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
        def one(r: Int) = Cosine.score(vecs, r * dim, norms(r), q, qNorm, dim)
        val dots = new Array[Double](5)
        Cosine.dot4(vecs, 2 * dim, 0, 5 * dim, 2 * dim, q, dim, dots, 1)
        val lanes = Seq(2, 0, 5, 2).zipWithIndex.forall { case (r, i) =>
          bits(dots(i + 1) / (norms(r) * qNorm)) == bits(one(r))
        }
        val rows = picks.toArray
        val out = new Array[Double](rows.length)
        Cosine.scores(vecs, norms, dim, rows, rows.length, q, qNorm, out)
        Prop(lanes) :| "dot4 lanes" &&
          Prop(rows.indices.forall(i => bits(out(i)) == bits(one(rows(i))))) :|
            s"scores over ${rows.length} rows"
      }
    }
  }

  /** Batched scoring is unobservable at the tier: for 0–9 passing
    * candidates (every tail of the 4-row pass), duplicate vectors and so
    * tied scores, non-finite elements, k from 0 to past the corpus, and
    * keyset cursors, every exact [[graft.serve.MemoryAnnIndex]] entry
    * point equals the brute-force (score DESC, id ASC) ranking bit for
    * bit — whichever of the scan and payload-index paths serves it.
    */
  property("serve.batched-exact-topk-equals-brute-force") = {
    val dim = 6
    val base: Gen[List[Float]] = Gen.listOfN(dim, specialFloat)
      .map(xs => if (xs.forall(_ == 0f)) 1f :: xs.tail else xs)
    val rowsGen = for {
      pool <- Gen.listOfN(3, base)
      n <- Gen.chooseNum(1, 12)
      rows <- Gen.listOfN(n, Gen.zip(
        Gen.oneOf(Gen.oneOf(pool), base), Gen.chooseNum(0, 1), Gen.chooseNum(0L, 3L)))
    } yield rows.zipWithIndex.map { case ((v, c, t), i) => (i.toLong * 3, v, c, t) }
    val cents = Seq(Seq.fill(dim)(1f), Seq.tabulate(dim)(j => if (j % 2 == 0) 1f else -1f))
    forAllNoShrink(rowsGen, base, Gen.chooseNum(0, 16), Gen.chooseNum(0L, 3L),
      Gen.chooseNum(0L, 3L), Gen.chooseNum(0, 20)) { (rows, q, k, fa, fb, cur) =>
      val (lo, hi) = (math.min(fa, fb), math.max(fa, fb))
      val idx = graft.serve.MemoryAnnIndex.fromRows(
        rows.map(r => (r._1, r._2, r._3)), cents,
        metaCols = Seq("tag"), metaVals = rows.map(r => Seq(r._4)))
      def desc(a: (Long, Double), b: (Long, Double)): Boolean = {
        val c = java.lang.Double.compare(b._2, a._2)
        c < 0 || (c == 0 && a._1 < b._1)
      }
      def bits(xs: Seq[(Long, Double)]) =
        xs.map { case (id, s) => (id, java.lang.Double.doubleToLongBits(s)) }
      def brute(pred: Long => Boolean) = rows.filter(r => pred(r._4))
        .map(r => (r._1, Ann.cosine(r._2, q))).sortWith(desc)
      val all = brute(_ => true)
      val inRange = brute(t => t >= lo && t <= hi)
      val f = Seq(graft.serve.MetaFilter("tag", lo, hi))
      // a cursor at a real row (or before the first), as a page boundary
      val (cid, cs) = if (cur < inRange.length) inRange(cur) else (-1L, Double.NaN)
      val after = inRange.filter { case (id, s) =>
        val c = java.lang.Double.compare(s, cs)
        c < 0 || (c == 0 && id > cid)
      }
      Prop(bits(idx.topK(q, k)) == bits(all.take(k))) :| "topK" &&
        Prop(bits(idx.topK(q, k, f)) == bits(inRange.take(k))) :| "filtered scan" &&
        Prop(bits(idx.topKFilteredIndexed(q, k, f, scanFraction = 1.0)) ==
          bits(inRange.take(k))) :| "payload index" &&
        Prop(bits(idx.topKIvf(q, k, 2, f)) == bits(inRange.take(k))) :| "full probe" &&
        Prop(bits(idx.topKAfter(q, k, cs, cid, f)) == bits(after.take(k))) :| "cursor" &&
        Prop(idx.countMatching(f) == inRange.length) :| "count"
    }
  }
}
