package graft

import graft.operators.Sparse
import graft.serve.MemorySparseIndex

/** Pins the learned-sparse retrieval operator: TF extraction, the weighted
  * dot-product ranking with its tie rule, serving-convention edges, and
  * bit-parity between the DataFrame path and the memory tier.
  */
class SparseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "a b a c"),   // a:2 b:1 c:1
    (2L, "b b b"),     // b:3
    (3L, "a c c c"),   // a:1 c:3
    (4L, "d d"),       // no query terms
    (5L, "a b a c")    // duplicate of doc 1 — tie probe
  ).toDF("doc_id", "text")

  private lazy val sv = Sparse.tfVectors(docs, "doc_id", "text")

  test("tfVectors: per-(doc, term) counts with the BM25 tokenizer") {
    val m = sv.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m((1L, "a")) == 2L && m((1L, "b")) == 1L && m((1L, "c")) == 1L)
    assert(m((2L, "b")) == 3L)
    assert(m((4L, "d")) == 2L)
    assert(!m.contains((2L, "a")))
  }

  test("topKSparse: weighted integer dot product, ties to lower id") {
    // q = {a: 2, c: 1}: d1 = 2*2+1*1 = 5, d3 = 2*1+3*1 = 5, d5 = 5, d2 = 0 (b only)
    val out = Sparse.topKSparse(sv, "doc_id", Map("a" -> 2L, "c" -> 1L), 3).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 5L), (3L, 5L), (5L, 5L))) // equal scores -> id ascending
  }

  test("topKSparse: docs without any query term never appear") {
    val out = Sparse.topKSparse(sv, "doc_id", Map("b" -> 1L), 10).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
    assert(out.head.getLong(0) == 2L && out.head.getLong(1) == 3L)
  }

  test("topKSparse: empty query returns empty, not an error") {
    assert(Sparse.topKSparse(sv, "doc_id", Map.empty, 5).count() == 0L)
  }

  test("memory tier == DataFrame path over a query battery") {
    val mem = MemorySparseIndex.fromDataFrame(sv, "doc_id")
    val queries = Seq(
      Map("a" -> 2L, "c" -> 1L),
      Map("b" -> 1L),
      Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 10L),
      Map("zz" -> 5L, "a" -> 3L)) // partially unknown term
    queries.foreach { q =>
      val df = Sparse.topKSparse(sv, "doc_id", q, 4).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(mem.topK(q, 4) == df, s"memory/DataFrame divergence for $q")
    }
  }

  test("WAND sparse: randomized parity with the exhaustive TAAT scan") {
    // the shape WAND prunes: a RARE high-weight term decides θ, a
    // COMMON low-weight term's per-posting bound sits far below it —
    // the common cursor must skip between the rare term's documents
    val rng = new scala.util.Random(42)
    val rows = ((1L to 400L).map(id =>
      (id, "common", 1L + rng.nextInt(4).toLong)) ++
      (1L to 400L).filter(_ % 13 == 0).map(id => (id, "rare", 50L)) ++
      (1L to 400L).filter(_ % 3 == 0).map(id =>
        (id, "mid", 1L + rng.nextInt(8).toLong))).toDF("doc_id", "term", "w")
    val mem = MemorySparseIndex.fromDataFrame(rows, "doc_id")
    val queries = Seq(
      Map("rare" -> 1L, "common" -> 1L),
      Map("rare" -> 2L, "mid" -> 1L, "common" -> 1L),
      Map("common" -> 1L),
      Map("mid" -> 3L, "common" -> 2L))
    for (q <- queries; k <- Seq(1, 4, 10, 50))
      assert(mem.topKWand(q, k) == mem.topK(q, k),
        s"WAND drifted from TAAT for q=$q k=$k")
    // the pruning is real, not a vacuous pass: once k rare-term docs
    // have been seen, θ > ub(common)+ub(rare-tail) and the common
    // cursor leapfrogs between rare documents
    val (res, evaluated, skipped) =
      mem.topKWandCounted(Map("rare" -> 1L, "common" -> 1L), 4)
    assert(res.size == 4 && skipped > 0L,
      s"expected real skips on the skewed corpus (evaluated=$evaluated)")
  }

  test("WAND sparse contracts: ties keep id order; k<=0 and unknown-only empty; negative weights rejected") {
    val mem = MemorySparseIndex.fromDataFrame(sv, "doc_id")
    // docs 1 and 5 are exact duplicates: equal scores must keep id order
    assert(mem.topKWand(Map("a" -> 2L, "c" -> 1L), 3) ==
      Seq((1L, 5L), (3L, 5L), (5L, 5L)))
    assert(mem.topKWand(Map("nope" -> 3L), 5).isEmpty)
    assert(mem.topKWand(Map("a" -> 1L), 0).isEmpty)
    assert(mem.topKWand(Map("a" -> 0L), 5).isEmpty,
      "zero-weight terms contribute nothing")
    intercept[IllegalArgumentException] {
      mem.topKWand(Map("a" -> -1L), 5)
    }
  }

  test("sharded sparse tier: fan-out merge == unsharded WAND == TAAT bit-for-bit") {
    import graft.serve.Sharded
    // the same skewed corpus the WAND parity test uses — rare high-weight
    // term decides θ, common cursor must skip — so the fan-out is probed
    // under real pruning, not a trivial scan
    val rng = new scala.util.Random(7)
    val rows = ((1L to 400L).map(id =>
      (id, "common", 1L + rng.nextInt(4).toLong)) ++
      (1L to 400L).filter(_ % 13 == 0).map(id => (id, "rare", 50L)) ++
      (1L to 400L).filter(_ % 3 == 0).map(id =>
        (id, "mid", 1L + rng.nextInt(8).toLong))).toDF("doc_id", "term", "w")
    val whole = MemorySparseIndex.fromDataFrame(rows, "doc_id")
    val queries = Seq(
      Map("rare" -> 1L, "common" -> 1L),
      Map("rare" -> 2L, "mid" -> 1L, "common" -> 1L),
      Map("common" -> 1L),
      Map("zz" -> 5L, "mid" -> 3L)) // partially unknown term
    for (n <- Seq(1, 3, 4, 16)) {
      val sharded = MemorySparseIndex.sharded(rows, "doc_id", nShards = n)
      assert(sharded.size <= n && sharded.size >= 1)
      for (q <- queries; k <- Seq(1, 5, 10, 50)) {
        assert(Sharded.countedLong(sharded, k)(_.topKWandCounted(q, k))._1 == whole.topKWand(q, k),
          s"sharded($n) != unsharded WAND for $q k=$k")
        assert(Sharded.countedLong(sharded, k)(_.topKWandCounted(q, k))._1 == whole.topK(q, k),
          s"sharded($n) != TAAT for $q k=$k")
      }
    }
    // pruning survives the fan-out; ties keep id order through the merge
    val sh4 = MemorySparseIndex.sharded(rows, "doc_id", nShards = 4)
    val (res, evaluated, skipped) =
      Sharded.countedLong(sh4, 4)(_.topKWandCounted(Map("rare" -> 1L, "common" -> 1L), 4))
    assert(res.size == 4 && skipped > 0L,
      s"per-shard WAND lost pruning (evaluated=$evaluated, skipped=$skipped)")
    val tieShards = MemorySparseIndex.sharded(sv, "doc_id", nShards = 3)
    assert(Sharded.countedLong(tieShards, 3)(_.topKWandCounted(Map("a" -> 2L, "c" -> 1L), 3))._1 ==
      Seq((1L, 5L), (3L, 5L), (5L, 5L)),
      "equal scores must keep id order through the shard merge")
  }

  test("memory tier serving edges: unknown-only query empty, k<=0 empty") {
    val mem = MemorySparseIndex.fromDataFrame(sv, "doc_id")
    assert(mem.topK(Map("nope" -> 3L), 5).isEmpty)
    assert(mem.topK(Map.empty, 5).isEmpty)
    assert(mem.topK(Map("a" -> 1L), 0).isEmpty)
    assert(mem.topK(Map("a" -> 1L), -2).isEmpty)
  }
}
