package graft

import graft.serve.MemoryHnswIndex

/** Contracts for the HNSW serving graph. No DuckDB oracle applies (a
  * graph walk is not SQL), so the verification class is: deterministic
  * build (same rows → same graph, bit-for-bit), measured recall vs
  * brute force on both embedding regimes, exactness of the returned
  * scores, and structural invariants (degree caps, nested levels,
  * symmetric reachability of every node at layer 0).
  */
class HnswSpec extends SparkSpec {

  private def clustered(n: Int, dim: Int, centers: Int): Seq[(Long, Seq[Float])] = {
    def center(c: Int): Seq[Double] =
      Seq.tabulate(dim)(j => math.sin(c * 97 + j * 13))
    (0 until n).map { i =>
      val c = center(i % centers)
      (i.toLong, Seq.tabulate(dim)(j =>
        (c(j) + 0.15 * math.sin(i * 31 + j * 7)).toFloat))
    }
  }

  private def isotropic(n: Int, dim: Int): Seq[(Long, Seq[Float])] =
    (0 until n).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i * 13 + j * 7).toFloat))
    }

  private def bruteTopK(rows: Seq[(Long, Seq[Float])], q: Seq[Float],
                        k: Int): Seq[(Long, Double)] =
    rows.map { case (id, v) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < v.length) {
        val x = v(j).toDouble; val y = q(j).toDouble
        dot += x * y; na += x * x; nb += y * y; j += 1
      }
      (id, dot / (math.sqrt(na) * math.sqrt(nb)))
    }.sortBy { case (id, s) => (-s, id) }.take(k)

  test("build is deterministic: same rows -> identical graph and identical answers") {
    val rows = clustered(400, 16, 5)
    val a = MemoryHnswIndex.build(rows, m = 8, efConstruction = 40)
    val b = MemoryHnswIndex.build(rows, m = 8, efConstruction = 40)
    rows.foreach { case (id, _) =>
      assert(a.maxLevelOf(id) == b.maxLevelOf(id))
      (0 to a.maxLevelOf(id)).foreach { l =>
        assert(a.neighborsOf(id, l) == b.neighborsOf(id, l),
          s"adjacency differs at id $id level $l")
      }
    }
    val q = rows(7)._2
    assert(a.topK(q, 10, ef = 30) == b.topK(q, 10, ef = 30))
  }

  test("returned scores are the exact pinned cosine fold; order is (score DESC, id ASC)") {
    val rows = clustered(300, 16, 4)
    val idx = MemoryHnswIndex.build(rows, m = 8, efConstruction = 40)
    val q = Seq.tabulate(16)(j => math.cos(j * 3).toFloat)
    val got = idx.topK(q, 8, ef = 64)
    val exactById = bruteTopK(rows, q, rows.length).toMap
    got.foreach { case (id, s) =>
      assert(s == exactById(id), s"score for $id is not the exact fold")
    }
    assert(got == got.sortBy { case (id, s) => (-s, id) })
  }

  test("recall@10 on the clustered regime >= 0.9 at ef=4k; ef=n reaches 1.0 here") {
    val rows = clustered(600, 32, 6)
    val idx = MemoryHnswIndex.build(rows, m = 12, efConstruction = 60)
    val queries = (0 until 10).map(qi =>
      Seq.tabulate(32)(j => (math.sin(qi * 97 + j * 13) + 0.05).toFloat))
    def recall(ef: Int): Double = {
      val hits = queries.map { q =>
        val want = bruteTopK(rows, q, 10).map(_._1).toSet
        val got = idx.topK(q, 10, ef = ef).map(_._1).toSet
        got.intersect(want).size / 10.0
      }
      hits.sum / hits.length
    }
    val r40 = recall(40)
    assert(r40 >= 0.9, s"clustered recall@10 at ef=40: $r40")
    val rFull = recall(rows.length)
    assert(rFull == 1.0, s"ef=n recall on this connected graph: $rFull")
  }

  test("recall improves monotonically-ish with ef on the isotropic regime") {
    val rows = isotropic(500, 16)
    val idx = MemoryHnswIndex.build(rows, m = 12, efConstruction = 60)
    val queries = (0 until 8).map(qi =>
      Seq.tabulate(16)(j => math.cos(qi * 5 + j * 3).toFloat))
    def recall(ef: Int): Double = {
      val hits = queries.map { q =>
        val want = bruteTopK(rows, q, 10).map(_._1).toSet
        val got = idx.topK(q, 10, ef = ef).map(_._1).toSet
        got.intersect(want).size / 10.0
      }
      hits.sum / hits.length
    }
    val lo = recall(15)
    val hi = recall(200)
    assert(hi >= lo, s"recall did not improve with ef: $lo -> $hi")
    assert(hi >= 0.9, s"isotropic recall@10 at ef=200: $hi")
  }

  test("duplicate-heavy corpus (5x replicated vectors) still yields k results and high recall") {
    // exact duplicates make sim(c, duplicate) == sim(c, target) — the
    // strict heuristic alone would starve adjacency (the serve bench's
    // replicated corpus caught this); keepPrunedConnections backfills
    val uniq = clustered(120, 16, 4)
    val rows = (0 until 5).flatMap(rep =>
      uniq.map { case (id, v) => (id + rep * 1000L, v) })
    val idx = MemoryHnswIndex.build(rows, m = 8, efConstruction = 40)
    (0 until 6).foreach { qi =>
      val q = Seq.tabulate(16)(j => (math.sin(qi * 97 + j * 13) + 0.05).toFloat)
      val got = idx.topK(q, 10, ef = 60)
      assert(got.length == 10, s"starved adjacency: ${got.length} rows for query $qi")
      val want = bruteTopK(rows, q, 10).map(_._1).toSet
      val rec = got.map(_._1).toSet.intersect(want).size / 10.0
      assert(rec >= 0.8, s"recall on duplicated corpus: $rec for query $qi")
    }
  }

  test("save/load round-trip: persisted graph answers bit-identically, sidecar required") {
    val rows = clustered(300, 16, 4)
    val idx = MemoryHnswIndex.build(rows, m = 8, efConstruction = 40)
    val dir = java.nio.file.Files.createTempDirectory("graft-hnsw").toString
    MemoryHnswIndex.save(idx, spark, dir)
    val loaded = MemoryHnswIndex.load(spark, dir)
    assert(loaded.size == idx.size && loaded.dim == idx.dim)
    rows.foreach { case (id, _) =>
      assert(loaded.maxLevelOf(id) == idx.maxLevelOf(id))
      (0 to idx.maxLevelOf(id)).foreach { l =>
        assert(loaded.neighborsOf(id, l) == idx.neighborsOf(id, l))
      }
    }
    (0 until 5).foreach { qi =>
      val q = Seq.tabulate(16)(j => math.cos(qi * 5 + j * 3).toFloat)
      assert(loaded.topK(q, 10, ef = 40) == idx.topK(q, 10, ef = 40),
        s"round-trip answers drifted for query $qi")
    }
    // a dir without the sidecar is an incomplete artifact, not a graph
    val bare = java.nio.file.Files.createTempDirectory("graft-hnsw-bare").toString
    spark.read.parquet(dir).write.mode("overwrite").parquet(bare)
    val err = intercept[IllegalArgumentException](MemoryHnswIndex.load(spark, bare))
    assert(err.getMessage.contains("sidecar"))
  }

  test("filtered walk: only passing ids returned; ef=n equals exact filtered top-k; selective recall holds") {
    val rows = clustered(400, 16, 4)
    val idx = MemoryHnswIndex.build(rows, m = 8, efConstruction = 40)
    val pred = (id: Long) => id % 5 == 2 // 1/5 of the corpus
    val passing = rows.filter(r => pred(r._1))
    (0 until 6).foreach { qi =>
      val q = Seq.tabulate(16)(j => (math.sin(qi * 97 + j * 13) + 0.05).toFloat)
      val got = idx.topKWhere(q, 10, pred, ef = 40)
      assert(got.forall { case (id, _) => pred(id) }, "non-passing id leaked")
      assert(got.length == 10, s"starved beam under filter: ${got.length}")
      // full beam: layer 0 is connected (pinned below), so every passing
      // row is reached and the filtered walk IS the exact filtered top-k
      val full = idx.topKWhere(q, 10, pred, ef = rows.length)
      val exact = bruteTopK(passing, q, 10)
      assert(full == exact, s"ef=n filtered walk != exact filtered top-k")
      // moderate beam: recall against the filtered ground truth
      val rec = got.map(_._1).toSet.intersect(exact.map(_._1).toSet).size / 10.0
      assert(rec >= 0.7, s"filtered recall@10 at ef=40: $rec for query $qi")
    }
    // very selective (single id): the walk still finds it
    val target = rows(123)
    val got1 = idx.topKWhere(target._2, 1, _ == target._1, ef = 60)
    assert(got1.map(_._1) == Seq(target._1),
      s"needle filter missed: $got1")
  }

  test("structural invariants: degree caps, nested levels, layer-0 connectivity") {
    val rows = clustered(400, 16, 5)
    val m = 8
    val idx = MemoryHnswIndex.build(rows, m = m, efConstruction = 40)
    rows.foreach { case (id, _) =>
      val top = idx.maxLevelOf(id)
      (0 to top).foreach { l =>
        val ns = idx.neighborsOf(id, l)
        assert(ns.distinct.length == ns.length, s"duplicate edges at $id/$l")
        assert(!ns.contains(id), s"self edge at $id/$l")
        val cap = if (l == 0) 2 * m else m
        assert(ns.length <= cap, s"degree ${ns.length} > cap $cap at $id/$l")
        // every neighbor exists at this level (nested-level invariant)
        ns.foreach(nb => assert(idx.maxLevelOf(nb) >= l))
      }
    }
    // layer 0 must be one connected component (reachability = recall floor)
    val adj = rows.map { case (id, _) => id -> idx.neighborsOf(id, 0) }.toMap
    val seen = scala.collection.mutable.Set(rows.head._1)
    val stack = scala.collection.mutable.Stack(rows.head._1)
    while (stack.nonEmpty) {
      adj(stack.pop()).foreach { nb =>
        // edges may be asymmetric after shrink; walk both directions
        if (!seen(nb)) { seen += nb; stack.push(nb) }
      }
    }
    // follow reverse edges too for the reachability check
    var grown = true
    while (grown) {
      grown = false
      adj.foreach { case (id, ns) =>
        if (!seen(id) && ns.exists(seen)) { seen += id; grown = true }
      }
    }
    assert(seen.size == rows.length,
      s"layer 0 disconnected: ${seen.size}/${rows.length} reachable")
  }

  // ---- the DELTA tier (serve/DeltaHnswIndex): the graph joins the
  // bounded-delta family (r15 verdict item 1). Same verification class
  // as the graph itself — no SQL oracle; visibility, determinism and
  // the fold's artifact-identity are the pinned contracts.

  test("delta visibility: add is servable next query; delete hides base row; re-add restores") {
    val rows = clustered(300, 16, 4)
    val base = MemoryHnswIndex.build(rows, m = 8, efConstruction = 40)
    val tier = new graft.serve.DeltaHnswIndex(base, m = 8, efConstruction = 40)
    // a brand-new row: its own vector must surface it immediately
    val freshVec = Seq.tabulate(16)(j => math.sin(9000 + j * 5).toFloat)
    tier.add(9000L, freshVec)
    assert(tier.topK(freshVec, 3, ef = 64).exists(_._1 == 9000L),
      "freshly added row not servable")
    // delete a BASE row: gone even when queried with its own vector
    val (victimId, victimVec) = rows(42)
    assert(tier.topK(victimVec, 3, ef = 64).exists(_._1 == victimId))
    tier.delete(victimId)
    assert(!tier.topK(victimVec, 10, ef = 64).exists(_._1 == victimId),
      "deleted base row still servable")
    // re-add with a NEW vector: visible again, latest-wins
    tier.add(victimId, freshVec)
    val again = tier.topK(freshVec, 3, ef = 64)
    assert(again.exists(_._1 == victimId), "re-added row not servable")
    // upsert SHADOWS the base copy: if the old vector still surfaces the
    // id, its score must be cos(freshVec, victimVec) — the NEW serving
    // vector — not the self-similarity ~1.0 of the shadowed base row
    val shadowScore = bruteTopK(Seq((victimId, freshVec)), victimVec, 1).head._2
    tier.topK(victimVec, 10, ef = 64).find(_._1 == victimId).foreach {
      case (_, s) => assert(s == shadowScore, "base copy leaked through upsert")
    }
    assert(tier.deltaSize == 2L) // 9000 + victim's latest slot
    assert(tier.tombstonedIds == Set(9000L, victimId))
  }

  test("delta merge is the k-bounded (score DESC, id ASC) merge of filtered walk + exact delta scan") {
    val rows = clustered(300, 16, 4)
    val base = MemoryHnswIndex.build(rows, m = 8, efConstruction = 40)
    val tier = new graft.serve.DeltaHnswIndex(base, m = 8, efConstruction = 40)
    val dels = rows.map(_._1).filter(_ % 7 == 0).toSet
    dels.foreach(tier.delete)
    val adds = (0 until 20).map(i =>
      (5000L + i, Seq.tabulate(16)(j => math.sin(i * 19 + j * 3).toFloat)))
    adds.foreach { case (id, v) => tier.add(id, v) }
    val q = Seq.tabulate(16)(j => math.cos(j * 2).toFloat)
    val got = tier.topK(q, 10, ef = 64)
    val expect = (base.topKWhere(q, 10, id => !dels(id), ef = 64) ++
      bruteTopK(adds, q, adds.size))
      .sortBy { case (id, s) => (-s, id) }.take(10)
    assert(got == expect, "merge drifted from its own definition")
    // no tombstoned id ever surfaces
    assert(!got.exists { case (id, _) => dels(id) })
  }

  test("republish folds to a graph bit-identical to a from-scratch build over the survivors") {
    val rows = clustered(250, 16, 4)
    val base = MemoryHnswIndex.build(rows, m = 8, efConstruction = 40)
    val tier = new graft.serve.DeltaHnswIndex(base, m = 8, efConstruction = 40)
    val dels = rows.map(_._1).filter(_ % 5 == 0).toSet
    dels.foreach(tier.delete)
    val adds = (0 until 30).map(i =>
      (5000L + i, Seq.tabulate(16)(j => math.sin(i * 23 + j * 11).toFloat)))
    adds.foreach { case (id, v) => tier.add(id, v) }
    val folded = tier.republish()
    val logical = rows.filterNot { case (id, _) => dels(id) } ++ adds
    val scratch = MemoryHnswIndex.build(logical, m = 8, efConstruction = 40)
    // artifact identity: every node's adjacency at every level
    logical.foreach { case (id, _) =>
      assert(folded.base.maxLevelOf(id) == scratch.maxLevelOf(id))
      (0 to scratch.maxLevelOf(id)).foreach { l =>
        assert(folded.base.neighborsOf(id, l) == scratch.neighborsOf(id, l),
          s"folded adjacency differs at id $id level $l")
      }
    }
    // answer identity on a probe battery, and the folded delta is empty
    (0 until 10).foreach { p =>
      val q = Seq.tabulate(16)(j => math.sin(p * 41 + j).toFloat)
      assert(folded.topK(q, 10, ef = 64) == scratch.topK(q, 10, ef = 64))
    }
    assert(folded.deltaSize == 0L)
    // the old handle is sealed for writers, still serves readers
    intercept[graft.serve.RepublishedHandleException] {
      tier.add(1L, rows.head._2)
    }
    assert(tier.topK(rows(3)._2, 5, ef = 64).nonEmpty)
  }

  test("BoundedDelta over the graph tier: folds trigger at the bound, nothing lost, self-recall holds") {
    val rows = clustered(200, 16, 4)
    val base = MemoryHnswIndex.build(rows, m = 8, efConstruction = 40)
    val bounded = new graft.serve.BoundedDelta(
      new graft.serve.DeltaHnswIndex(base, m = 8, efConstruction = 40),
      maxDeltaDocs = 10L)
    val adds = (0 until 45).map(i =>
      (7000L + i, Seq.tabulate(16)(j => math.sin(i * 29 + j * 13).toFloat)))
    adds.foreach { case (id, v) =>
      bounded.write { h =>
        h.add(id, v)
        if (id % 9 == 0) h.delete(id) // in-flight purge, atomic with its add
      }
    }
    assert(bounded.republishCount > 0L, "the bound was never crossed")
    assert(bounded.get.deltaSize < 10L)
    adds.foreach { case (id, v) =>
      val hit = bounded.get.topK(v, 3, ef = 64).exists(_._1 == id)
      if (id % 9 == 0) assert(!hit, s"purged $id still servable")
      else assert(hit, s"written $id lost across folds")
    }
  }
}
