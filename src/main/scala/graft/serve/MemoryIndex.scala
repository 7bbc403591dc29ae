package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.operators.{Ann, Bm25}
import graft.plans.AnnIndexMeta

/** Inclusive numeric range filter on a serving-time metadata column
  * (`min == max` is equality — the Method-1 `@eq`; open a side with
  * `Long.MinValue`/`MaxValue` for `@gte`/`@lte`). Conjunction =
  * a `Seq[MetaFilter]`. The reference's notebook queries are FILTERED
  * semantic searches (sport/difficulty `@eq`/`@and` —
  * `/root/reference/03_cortex_search_demo_notebook.ipynb` Q2/Q3), so
  * the serving tier carries the same fast path; string columns
  * dictionary-encode to a numeric id at index load
  * ([[MemoryAnnIndex.stringFilter]]); the DataFrame tier's full
  * [[graft.filter.FilterDsl]] stays the general path.
  */
final case class MetaFilter(col: String, min: Long, max: Long)

/** Memory-resident ANN serving index — the "specialized online runtime"
  * the reference's own notes call for at serving scale
  * (`/root/reference/README.md:19-21`: ~1,000 QPS at ~300 ms p50 over a
  * ~10K-doc corpus). Spark is the right engine for BUILDING the index
  * (embed, assign, compress, persist) and for batch search, but a
  * per-request Spark job pays full scheduling (~tens of ms floor and a
  * driver-side ceiling of ~300 QPS measured at 32 streams) — two orders
  * of magnitude of unnecessary machinery when the probed working set is
  * megabytes. This class is the serving tier: it loads the SAME persisted
  * artifacts the Spark path scans (the `partitionBy(ivf_cell)` parquet +
  * [[AnnIndexMeta]] sidecar written by the index build) into flat primitive
  * arrays and answers top-k with zero job launches.
  *
  * Result contract: BIT-IDENTICAL to the DataFrame path. Scoring is the
  * codegen [[graft.functions.CosineSimilarity]] fold with the row norms
  * hoisted to load ([[Cosine]]), run four passing candidates per pass
  * ([[CosineBatch]]; each row keeps its own fold order, so no score
  * moves), cell probing uses [[Ann.topKIvf]]'s exact rule (cosine to
  * centroids, ties to the lower cell id), and
  * selection is [[TopK]]'s (score DESC, id ASC) total order — so
  * `topK`/`topKIvf` return exactly the rows `Ann.topK`/`Ann.topKIvf`
  * would, in the same order, with the same score bits (ServeSpec pins
  * this, NaN scores included).
  *
  * Scale posture: memory is nDocs × dim × 4 bytes (+16/doc) — the
  * reference's 10 K-doc envelope is ~3 MB at dim 768; 10 M docs at dim
  * 768 is ~30 GB, which is where a deployment shards CELLS across serving
  * replicas (each node loads a cell subset; the probe fans out to the
  * owners and merges k-bounded lists with [[TopK.merge]]). The
  * batch/build tier stays Spark; this tier is rebuilt/swapped per index
  * publish (cheap: one sequential parquet read).
  *
  * Thread-safety: immutable after construction — serve from any number of
  * request threads.
  */
final class MemoryAnnIndex private (
    val dim: Int,
    cellOffsets: Array[Int], // length nCells+1; row range of cell c
    ids: Array[Long], // grouped by cell, ascending id within cell
    vecs: Array[Float], // flattened dim-strided, parallel to ids
    val centroids: IndexedSeq[IndexedSeq[Float]],
    meta: Map[String, Array[Long]], // parallel numeric metadata columns
    dicts: Map[String, Map[String, Long]]) { // string cols: value -> code

  private val norms = Cosine.norms(vecs, ids.length, dim)

  /** Resolve a string-equality filter against a dictionary-encoded
    * column (the notebook's `sport_type`/`difficulty` `@eq` shape). An
    * unseen value matches NOTHING (empty result, not an error — a
    * serving request for a category that has no docs is ordinary); an
    * un-encoded column is an error.
    */
  def stringFilter(colName: String, value: String): MetaFilter = {
    // IllegalArgumentException, not sys.error: "this column is not served
    // here" is a COVERAGE failure the routed front door's tryParseFilter
    // reads as "fall back to the Spark tier" — only IAE is caught there
    val dict = dicts.getOrElse(colName, throw new IllegalArgumentException(
      s"'$colName' is not a dictionary-encoded string column " +
        s"(have: ${dicts.keys.mkString(",")})"))
    dict.get(value) match {
      case Some(code) => MetaFilter(colName, code, code)
      case None => MetaFilter(colName, 1L, 0L) // impossible range
    }
  }

  /** All dictionary codes of `colName` whose VALUE contains `substr` —
    * the serving resolution of `@contains`. Bounded by the dictionary
    * (categorical alphabet) size, never the corpus; no match returns
    * empty (the request then matches nothing, like an unseen `@eq`).
    */
  def containsCodes(colName: String, substr: String): Seq[Long] = {
    val dict = dicts.getOrElse(colName, throw new IllegalArgumentException(
      s"'$colName' is not a dictionary-encoded string column " +
        s"(have: ${dicts.keys.mkString(",")})"))
    dict.collect { case (v, code) if v.contains(substr) => code }.toSeq.sorted
  }

  def nCells: Int = cellOffsets.length - 1
  def size: Int = ids.length

  /** Every row as (id, vector, cell) — the loader shape back out, for
    * [[DeltaAnnIndex.republish]]'s in-memory fold (survivors of this
    * base ∪ the delta segment → a new index via [[MemoryAnnIndex
    * .fromRows]]). Package-private: serving callers never enumerate.
    */
  private[serve] def exportRows: Seq[(Long, Seq[Float], Int)] =
    (0 until nCells).flatMap { c =>
      (cellOffsets(c) until cellOffsets(c + 1)).map { r =>
        (ids(r), (0 until dim).map(j => vecs(r * dim + j)): Seq[Float], c)
      }
    }

  /** Metadata columns loaded into this index — the column-coverage set
    * the routed JSON front door checks a request against
    * ([[graft.api.SemanticSearch.search]]).
    */
  def metaColumns: Set[String] = meta.keySet

  // id -> row position, built lazily once for the routed front door's
  // per-hit value reconstruction (ids are unique by the load contract)
  private lazy val rowOfId: java.util.HashMap[java.lang.Long, Integer] = {
    val m = new java.util.HashMap[java.lang.Long, Integer](ids.length * 2)
    var i = 0
    while (i < ids.length) { m.put(ids(i), i); i += 1 }
    m
  }

  // code -> value, inverted from the load-time dictionaries
  private lazy val invDicts: Map[String, Map[Long, String]] =
    dicts.map { case (c, d) => c -> d.map(_.swap) }

  /** The stored metadata value of `colName` for row `id`, decoded
    * (dictionary columns give back their string; numeric columns their
    * long) and stringified — exactly what the DataFrame front door's
    * `CAST(col AS STRING)` yields for integral/string columns, which is
    * all the loader admits to `meta`. Serving-time lookup for the routed
    * JSON front door; errors on an unknown id or column (the routed path
    * only asks about ids this index just returned).
    */
  def metaString(colName: String, id: Long): String = {
    val row = rowOfId.get(id)
    require(row != null, s"id $id is not in this index")
    val v = meta.getOrElse(colName, sys.error(
      s"metadata column '$colName' not loaded (have: ${meta.keys.mkString(",")})"))(row)
    invDicts.get(colName) match {
      case Some(inv) => inv(v)
      case None => v.toString
    }
  }

  /** Whether a metadata column is dictionary-encoded (string) — range
    * ops on its codes would be lexicographic-slice nonsense, so the
    * request parser rejects them.
    */
  def isStringColumn(colName: String): Boolean = dicts.contains(colName)

  /** The probe rule shared with [[Ann.topKIvf]]: cells ranked by
    * (cosine to centroid DESC, cell id ASC), top `nProbe`.
    */
  def probeCells(query: Seq[Float], nProbe: Int): Seq[Int] =
    Ann.probeCellsFor(centroids.map(_.toSeq), query, nProbe)

  /** Exact top-k: scan every cell (the reference's ~10K-doc design point,
    * where brute force IS the plan). Ties break by ascending id.
    * `filters` pre-filter rows on loaded metadata (conjunction) BEFORE
    * scoring — the memory analog of the DataFrame tier's pushed-down
    * predicate (02:406's "filter before similarity" prescription).
    */
  def topK(query: Seq[Float], k: Int,
           filters: Seq[MetaFilter] = Nil): Seq[(Long, Double)] =
    topKInCells(query, k, 0 until nCells, filters)

  /** IVF-probed top-k: scan only the `nProbe` query-nearest cells. */
  def topKIvf(query: Seq[Float], k: Int, nProbe: Int,
              filters: Seq[MetaFilter] = Nil): Seq[(Long, Double)] =
    topKInCells(query, k, probeCells(query, nProbe), filters)

  /** Per-column payload index: row indices sorted by (value, row) — a
    * range filter binary-searches its row set instead of testing every
    * row (the serving analog of a secondary index; built lazily once
    * per column, O(n log n), immutable afterwards).
    */
  private lazy val metaSorted: Map[String, Array[Int]] =
    meta.map { case (c, arr) =>
      c -> Array.range(0, arr.length)
        .sortBy(r => (arr(r), r))
    }

  // a loaded metadata column, or the coverage error naming what is loaded
  private def column(name: String): Array[Long] =
    meta.getOrElse(name, sys.error(
      s"metadata column '$name' not loaded (have: ${meta.keys.mkString(",")})"))

  /** (lo, hi) positions in the column's sorted row array covering
    * values in [f.min, f.max] — candidate count = hi - lo.
    */
  private def sortedRange(f: MetaFilter): (Array[Int], Int, Int) = {
    val arr = column(f.col)
    val sorted = metaSorted(f.col)
    // first index with value >= min
    var lo = 0; var hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr(sorted(mid)) < f.min) lo = mid + 1 else hi = mid
    }
    val start = lo
    // first index with value > max
    lo = start; hi = sorted.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr(sorted(mid)) <= f.max) lo = mid + 1 else hi = mid
    }
    (sorted, start, lo)
  }

  /** A conjunction's columns, minimums and maximums as three primitive
    * arrays, built once per request: [[passes]] is the one per-row
    * filter test of every scan here.
    */
  private final class Conjunction(filters: Seq[MetaFilter]) {
    private val cols = filters.map(f => column(f.col)).toArray
    private val mins = filters.map(_.min).toArray
    private val maxs = filters.map(_.max).toArray

    def passes(r: Int): Boolean = {
      var fi = 0
      while (fi < cols.length) {
        val v = cols(fi)(r)
        if (v < mins(fi) || v > maxs(fi)) return false
        fi += 1
      }
      true
    }
  }

  /** The most selective filter's sorted range (sorted rows, lo, hi) and
    * the conjunction of the others, which candidates in it must pass.
    */
  private def narrowest(filters: Seq[MetaFilter]): (Array[Int], Int, Int, Conjunction) = {
    val ranged = filters.map(f => (f, sortedRange(f)))
    val (bestF, (sorted, lo, hi)) = ranged.minBy { case (_, (_, l, h)) => h - l }
    (sorted, lo, hi, new Conjunction(filters.filterNot(_ eq bestF)))
  }

  /** Filtered top-k through the payload index: the MOST SELECTIVE
    * filter's sorted range enumerates candidates directly (scored rows =
    * that filter's match count, not the corpus), remaining filters test
    * per candidate, and the candidates that pass score four per pass
    * ([[CosineBatch]]). Falls back to the scan path when the best range
    * still covers most of the corpus (> `scanFraction` of rows — then
    * the scan's sequential locality wins). Results are IDENTICAL to
    * [[topK]] with the same filters — same fold, same (score DESC,
    * id ASC) rule — whichever path runs (ServeSpec + the q195 oracle pin
    * it); only the cost adapts, the reference's 02:406 "filter before
    * similarity" taken to its serving conclusion.
    */
  def topKFilteredIndexed(query: Seq[Float], k: Int,
                          filters: Seq[MetaFilter],
                          scanFraction: Double = 0.25): Seq[(Long, Double)] = {
    require(filters.nonEmpty,
      "topKFilteredIndexed needs at least one filter (use topK for none)")
    require(query.length == dim, s"query dim ${query.length} != index dim $dim")
    if (k <= 0) return Nil
    val (sorted, lo, hi, rest) = narrowest(filters)
    if (hi - lo > scanFraction * size) return topK(query, k, filters)
    val q = Cosine.query(query)
    val batch = new CosineBatch(vecs, norms, dim, q, Cosine.queryNorm(q, dim),
      ids, TopK.largest(k, hi - lo))
    var p = lo
    while (p < hi) {
      val r = sorted(p)
      if (rest.passes(r)) batch.add(r)
      p += 1
    }
    batch.result().toSeq
  }

  /** Exact match count for a conjunction (the planner's selectivity
    * probe: the best single range bounds it above; remaining filters
    * verified per row only inside that range).
    */
  def countMatching(filters: Seq[MetaFilter]): Int = {
    if (filters.isEmpty) return size
    val (sorted, lo, hi, rest) = narrowest(filters)
    var n = 0
    var p = lo
    while (p < hi) {
      if (rest.passes(sorted(p))) n += 1
      p += 1
    }
    n
  }

  /** Keyset pagination (the q172 contract served job-free): the next k
    * rows STRICTLY AFTER the cursor `(afterScore, afterId)` in the
    * (score DESC, id ASC) total order — score < afterScore, or equal
    * score and id > afterId. Stateless between requests (the cursor IS
    * the state, the serving analog of keyset-vs-OFFSET); scan cost is
    * one pass either way, but the heap stays k-bounded instead of
    * page·k-bounded.
    */
  def topKAfter(query: Seq[Float], k: Int,
                afterScore: Double, afterId: Long,
                filters: Seq[MetaFilter] = Nil): Seq[(Long, Double)] = {
    // Double.compare, not IEEE </==: ranking everywhere else uses the
    // total order, and at a page boundary of -0.0 vs +0.0 the IEEE admit
    // rule would disagree with the sort — skipping or duplicating a row
    topKInCellsWhere(query, k, 0 until nCells, filters,
      (s, id) => {
        val c = java.lang.Double.compare(s, afterScore)
        c < 0 || (c == 0 && id > afterId)
      })
  }

  private def topKInCells(query: Seq[Float], k: Int,
                          cells: Seq[Int],
                          filters: Seq[MetaFilter]): Seq[(Long, Double)] =
    topKInCellsWhere(query, k, cells, filters, CosineBatch.admitAll)

  // the cell scan: rows passing the conjunction score four per pass,
  // and `admit` (a keyset cursor) sees every score before the heap does
  private def topKInCellsWhere(query: Seq[Float], k: Int,
                               cells: Seq[Int],
                               filters: Seq[MetaFilter],
                               admit: (Double, Long) => Boolean): Seq[(Long, Double)] = {
    // k <= 0 is an ordinary request for nothing (the DataFrame front
    // door's .limit(0) shape) — empty result, not a crashed heap
    if (k <= 0) return Nil
    val conj = new Conjunction(filters)
    require(query.length == dim, s"query dim ${query.length} != index dim $dim")
    val q = Cosine.query(query)
    val batch = new CosineBatch(vecs, norms, dim, q, Cosine.queryNorm(q, dim),
      ids, TopK.largest(k, size), admit)
    cells.foreach { cell =>
      var r = cellOffsets(cell)
      val end = cellOffsets(cell + 1)
      while (r < end) {
        if (conj.passes(r)) batch.add(r)
        r += 1
      }
    }
    batch.result().toSeq
  }
}

object MemoryAnnIndex {

  /** Load from collected (id, embedding, cell, numeric-metadata) rows +
    * centroids. `metaCols` names the metadata values positionally.
    */
  def fromRows(rows: Seq[(Long, Seq[Float], Int)],
               centroids: Seq[Seq[Float]],
               metaCols: Seq[String] = Nil,
               metaVals: Seq[Seq[Long]] = Nil,
               dicts: Map[String, Map[String, Long]] = Map.empty): MemoryAnnIndex = {
    require(rows.nonEmpty, "MemoryAnnIndex: empty corpus")
    require(metaVals.isEmpty || metaVals.length == rows.length,
      "metaVals must parallel rows")
    val dim = rows.head._2.length
    require(rows.forall(_._2.length == dim), "MemoryAnnIndex: ragged dims")
    // an all-zero vector has no direction (its cosine is 0/0 against
    // every query) — a degenerate embedding is rejected at load, like
    // MaxSim's zero parts and the delta tier's zero adds
    rows.find(_._2.forall(_ == 0.0f)).foreach { case (id, _, _) =>
      throw new IllegalArgumentException(
        s"MemoryAnnIndex: id $id has an all-zero embedding " +
          "(cosine would be NaN — reject degenerate vectors upstream)")
    }
    val nCells = centroids.length
    val order = rows.indices.sortBy(i => (rows(i)._3, rows(i)._1)).toArray
    val offsets = new Array[Int](nCells + 1)
    rows.foreach { case (_, _, c) =>
      require(c >= 0 && c < nCells, s"cell $c out of range [0, $nCells)")
      offsets(c + 1) += 1
    }
    var i = 0
    while (i < nCells) { offsets(i + 1) += offsets(i); i += 1 }
    val ids = new Array[Long](rows.length)
    val vecs = new Array[Float](rows.length * dim)
    val meta = metaCols.map(_ -> new Array[Long](rows.length)).toMap
    var r = 0
    while (r < rows.length) {
      val src = order(r)
      ids(r) = rows(src)._1
      val v = rows(src)._2
      var j = 0
      while (j < dim) { vecs(r * dim + j) = v(j); j += 1 }
      if (metaVals.nonEmpty) {
        val mv = metaVals(src)
        metaCols.indices.foreach(c => meta(metaCols(c))(r) = mv(c))
      }
      r += 1
    }
    new MemoryAnnIndex(dim, offsets, ids, vecs,
      centroids.map(_.toIndexedSeq).toIndexedSeq, meta, dicts)
  }

  /** Load from an assigned-corpus DataFrame (e.g. the reloaded
    * `partitionBy(cellCol)` parquet) + explicit centroids. `metaCols`
    * are metadata columns to retain for serving-time [[MetaFilter]]s:
    * numeric columns cast to long; STRING columns dictionary-encode at
    * load (value → dense code, lexicographic order) and filter via
    * [[MemoryAnnIndex.stringFilter]] — the notebook's
    * `sport_type`/`difficulty` `@eq` filters served from memory.
    */
  def fromDataFrame(df0: DataFrame, idCol: String, embCol: String,
                    cellCol: String, centroids: Seq[Seq[Float]],
                    metaCols: Seq[String] = Nil): MemoryAnnIndex = {
    val (collected, isString) = collectRows(df0, idCol, embCol, cellCol, metaCols)
    fromCollected(collected, centroids, metaCols, isString)
  }

  /** The [[Sharded]] serving form: [[fromDataFrame]]'s input, evaluated
    * ONCE and cut by [[Sharded.slices]] into per-replica indexes. Every
    * slice carries the full centroid set (IVF probes compose, see
    * [[Sharded]]) and its own string dictionaries. An empty corpus is
    * refused, as [[fromRows]] refuses it.
    */
  def sharded(df: DataFrame, idCol: String, embCol: String, cellCol: String,
              centroids: Seq[Seq[Float]], nShards: Int,
              metaCols: Seq[String] = Nil): Seq[MemoryAnnIndex] = {
    val (rows, isString) = collectRows(df, idCol, embCol, cellCol, metaCols)
    require(rows.nonEmpty, "MemoryAnnIndex: empty corpus")
    Sharded.slices(rows, nShards)(_.getLong(0))
      .map(fromCollected(_, centroids, metaCols, isString))
  }

  /** One collect of (id, embedding, cell, metadata…) rows — the single
    * evaluation of the input plan that [[fromDataFrame]] and [[sharded]]
    * both load from — plus which metadata columns are strings.
    */
  private[serve] def collectRows(df0: DataFrame, idCol: String, embCol: String,
                                 cellCol: String, metaCols: Seq[String])
      : (Array[org.apache.spark.sql.Row], Map[String, Boolean]) = {
    // the DataFrame tier's scans filter embCol.isNotNull — the loader
    // applies the same rule so both tiers serve the same logical corpus
    val df = df0.where(col(embCol).isNotNull)
    val schema = df.schema
    val isString = metaCols.map(c =>
      c -> (schema(c).dataType == org.apache.spark.sql.types.StringType)).toMap
    val collected = df.select(
        Seq(col(idCol).cast("long"), col(embCol), col(cellCol).cast("int")) ++
          metaCols.map(c =>
            if (isString(c)) col(c) else col(c).cast("long")): _*)
      .collect()
    (collected, isString)
  }

  private[serve] def fromCollected(collected: Array[org.apache.spark.sql.Row],
                                   centroids: Seq[Seq[Float]],
                                   metaCols: Seq[String],
                                   isString: Map[String, Boolean]): MemoryAnnIndex = {
    // deterministic dictionaries: distinct values, lexicographic codes.
    // A null metadata value has no code (and the DataFrame tier's WHERE
    // would never match it) — the load names the offending row instead
    // of NPE-ing in the sort
    val dicts: Map[String, Map[String, Long]] = metaCols.filter(isString)
      .map { c =>
        val pos = 3 + metaCols.indexOf(c)
        collected.find(_.isNullAt(pos)).foreach { r =>
          throw new IllegalArgumentException(
            s"MemoryAnnIndex: null value in string metadata column '$c' " +
              s"(id ${r.getLong(0)}) — fill or filter nulls before loading")
        }
        val values = collected.map(_.getString(pos)).distinct.sorted
        c -> values.zipWithIndex.map { case (v, i) => v -> i.toLong }.toMap
      }.toMap
    fromRows(
      collected.map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq,
      centroids, metaCols,
      if (metaCols.isEmpty) Nil
      else collected.map(r =>
        metaCols.indices.map { i =>
          val c = metaCols(i)
          if (isString(c)) dicts(c)(r.getString(3 + i)) else r.getLong(3 + i)
        }.toSeq).toSeq,
      dicts)
  }

  /** Load a SELF-DESCRIBING persisted index: the `partitionBy` parquet
    * directory with its [[AnnIndexMeta]] sidecar (the exact artifact
    * `AnnIndexMeta.buildIvfIndex` / the q144 layout writes). One
    * sequential scan at startup; Spark is not touched again afterwards.
    */
  def load(spark: SparkSession, indexDir: String,
           idCol: String): MemoryAnnIndex = {
    val meta = AnnIndexMeta.read(spark.sessionState.newHadoopConf(),
        new org.apache.hadoop.fs.Path(indexDir))
      .getOrElse(sys.error(s"no ${AnnIndexMeta.FileName} sidecar at $indexDir"))
    fromDataFrame(spark.read.parquet(indexDir), idCol, meta.embCol,
      meta.assignCol, meta.centroids)
  }
}

/** SQ8-compressed memory index — the serving-tier form of
  * [[graft.operators.Quantize]]'s codec, where the compression is REAL:
  * codes pack into `Array[Byte]` (1 B/element vs 4 B for the float
  * vectors — in-JVM `array<int>` codes would be 4 B/element and save
  * nothing, the same lesson the Spark scan learned). Memory per doc =
  * dim bytes + 4 doubles + id, so the 10 M-doc × dim-768 deployment in
  * [[MemoryAnnIndex]]'s note drops ~30 GB → ~7.7 GB per replica.
  *
  * Scoring replays [[graft.operators.Quantize.topKSq8]]'s algebra
  * bit-for-bit: approx cos(q, mn + c·s) =
  * (mn·Σq + s·Σqᵢcᵢ) / (√(dim·mn² + 2·mn·s·Σc + s²·Σc²)·‖q‖), one
  * byte-fold per row. [[topK]] then re-ranks the `rerankFactor·k` best
  * candidates with the exact cosine over the retained float vectors
  * ([[Cosine]], row norms from load) — the same prune-then-rerank
  * contract, so results match the DataFrame SQ8 path exactly (ServeSpec
  * pins both layers). Construct WITHOUT vectors
  * ([[MemorySq8Index.fromDataFrameApproxOnly]]) for the compressed-only
  * deployment that serves [[topKApprox]] — e.g. the reference's threshold
  * cache-hit decision, which tolerates approximate scores.
  */
final class MemorySq8Index private (
    val dim: Int,
    ids: Array[Long],
    codes: Array[Byte], // dim-strided, unsigned (& 0xff), parallel to ids
    mns: Array[Double], scales: Array[Double],
    csums: Array[Double], csum2s: Array[Double],
    vecs: Option[Array[Float]]) { // dim-strided, only if rerank retained

  def size: Int = ids.length

  private def approxScores(query: Seq[Float]): (Array[Double], Array[Double]) = {
    require(query.length == dim, s"query dim ${query.length} != index dim $dim")
    val qd = query.map(_.toDouble).toArray
    // the same driver-side ordered folds as Quantize.topKSq8
    var qn2 = 0.0; var sq = 0.0
    var i = 0
    while (i < dim) { qn2 += qd(i) * qd(i); sq += qd(i); i += 1 }
    val qn = math.sqrt(qn2)
    val out = new Array[Double](ids.length)
    var r = 0
    while (r < ids.length) {
      var qdot = 0.0
      var j = 0
      val base = r * dim
      while (j < dim) {
        qdot += qd(j) * (codes(base + j) & 0xff).toDouble
        j += 1
      }
      val num = mns(r) * sq + scales(r) * qdot
      val den = math.sqrt(dim.toDouble * mns(r) * mns(r) +
        2.0 * mns(r) * scales(r) * csums(r) +
        scales(r) * scales(r) * csum2s(r)) * qn
      out(r) = num / den
      r += 1
    }
    (out, qd)
  }

  private val norms = vecs.map(Cosine.norms(_, ids.length, dim))

  // bounded k-selection by (score DESC, id ASC), rows as payload — a
  // full sortBy over every row index boxes and sorts the whole corpus
  // per request and measured ~4x the scan
  private def rank(scores: Array[Double], k: Int): Array[Int] = {
    val top = TopK.largest(k, scores.length)
    var r = 0
    while (r < scores.length) { top.offer(scores(r), ids(r), r); r += 1 }
    top.rowsBestFirst()
  }

  /** Approximate top-k straight off the codes (no float vectors needed —
    * the compressed-only deployment). Scores are the approximate cosine.
    */
  def topKApprox(query: Seq[Float], k: Int): Seq[(Long, Double)] = {
    if (k <= 0) return Nil
    val (scores, _) = approxScores(query)
    rank(scores, k).toSeq.map(r => (ids(r), scores(r)))
  }

  /** Approximate prune + exact re-rank over the retained vectors — the
    * [[graft.operators.Quantize.topKSq8]] contract, bit-identical.
    */
  def topK(query: Seq[Float], k: Int, rerankFactor: Int = 4): Seq[(Long, Double)] = {
    val vs = vecs.getOrElse(sys.error(
      "MemorySq8Index built approx-only (no vectors retained for rerank)"))
    if (k <= 0) return Nil
    val (scores, qd) = approxScores(query)
    val pool = rank(scores, math.max(k, TopK.satMul(rerankFactor, k)))
    val batch = new CosineBatch(vs, norms.get, dim, qd, Cosine.queryNorm(qd, dim),
      ids, TopK.largest(k, pool.length))
    batch.addAll(pool)
    batch.result().toSeq
  }
}

object MemorySq8Index {

  private def build(rows: Seq[(Long, Seq[Int], Double, Double, Double, Double, Option[Seq[Float]])],
                    dim: Int): MemorySq8Index = {
    val sorted = rows.sortBy(_._1).toArray
    val n = sorted.length
    val ids = new Array[Long](n)
    val codes = new Array[Byte](n * dim)
    val mns = new Array[Double](n); val scales = new Array[Double](n)
    val csums = new Array[Double](n); val csum2s = new Array[Double](n)
    val withVecs = sorted.forall(_._7.isDefined)
    val vecs = if (withVecs) Some(new Array[Float](n * dim)) else None
    var r = 0
    while (r < n) {
      val (id, cs, mn, s, c1, c2, v) = sorted(r)
      require(cs.length == dim, s"ragged codes at id $id")
      ids(r) = id; mns(r) = mn; scales(r) = s; csums(r) = c1; csum2s(r) = c2
      var j = 0
      while (j < dim) { codes(r * dim + j) = cs(j).toByte; j += 1 }
      (vecs, v) match {
        case (Some(arr), Some(fv)) =>
          var i = 0
          while (i < dim) { arr(r * dim + i) = fv(i); i += 1 }
        case _ => ()
      }
      r += 1
    }
    new MemorySq8Index(dim, ids, codes, mns, scales, csums, csum2s, vecs)
  }

  /** Load from a [[graft.operators.Quantize.withSq8]]-staged frame,
    * retaining the float vectors for exact re-rank.
    */
  def fromDataFrame(staged: DataFrame, idCol: String,
                    vecCol: String): MemorySq8Index = {
    // mirror topKSq8's codes.isNotNull scan filter at load
    val rows = staged.where(col("codes").isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col("codes"), col("mn"), col("scale"),
        col("csum"), col("csum2"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        Option(r.getSeq[Float](6)))).toSeq
    require(rows.nonEmpty, "MemorySq8Index: empty corpus")
    build(rows, rows.head._2.length)
  }

  /** Compressed-only load: codes + scalars, no float vectors — the
    * 4×-smaller replica that serves [[MemorySq8Index.topKApprox]].
    */
  def fromDataFrameApproxOnly(staged: DataFrame, idCol: String): MemorySq8Index = {
    val rows = staged.where(col("codes").isNotNull)
      .select(col(idCol).cast("long"), col("codes"), col("mn"), col("scale"),
        col("csum"), col("csum2"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5),
        Option.empty[Seq[Float]])).toSeq
    require(rows.nonEmpty, "MemorySq8Index: empty corpus")
    build(rows, rows.head._2.length)
  }
}

/** Matryoshka (MRL) memory index — the prune-and-rerank serving tier
  * whose codec is DIMENSION TRUNCATION ([[graft.operators.Ann
  * .topKMatryoshka]]'s memory twin): the first `prefixDim` coordinates
  * live in their OWN contiguous array — the candidate scan touches
  * prefixDim/dim of the vector bytes (the same resident-set argument as
  * [[MemorySq8Index]]'s byte packing: a strided read over the full array
  * would save nothing) — and the k·rerankFactor survivors rerank over the
  * full vectors with the exact pinned cosine fold ([[Cosine]]; prefix and
  * full-row norms both computed at load). Results are bit-identical to
  * `Ann.topKMatryoshka` over the same rows (ServeSpec): same prefix fold,
  * same (prefix score DESC, id ASC) candidate rule, same exact rerank
  * order. Like every tier here, the candidate SET is the approximation —
  * returned scores are always the exact full-dim fold. Meaningful recall
  * needs MRL-trained embeddings (RECALL.md's mrl rows measure the
  * untrained floor).
  */
final class MemoryMrlIndex private (
    val dim: Int, val prefixDim: Int,
    ids: Array[Long], // ascending id
    prefix: Array[Float], // prefixDim-strided — the candidate-scan bytes
    vecs: Array[Float]) { // dim-strided — touched only for the rerank pool

  def size: Int = ids.length

  private val prefixNorms = Cosine.norms(prefix, ids.length, prefixDim)
  private val norms = Cosine.norms(vecs, ids.length, dim)

  /** Prefix-prune + exact full-dim re-rank. */
  def topK(query: Seq[Float], k: Int, rerankFactor: Int = 4): Seq[(Long, Double)] = {
    if (k <= 0) return Nil
    require(query.length == dim, s"query dim ${query.length} != index dim $dim")
    require(rerankFactor >= 1, s"rerankFactor $rerankFactor must be >= 1")
    val q = Cosine.query(query)
    // candidate pool by (prefix score DESC, id ASC) — the DataFrame
    // stage's TakeOrderedAndProject rule over the SLICED column
    val scan = new CosineBatch(prefix, prefixNorms, prefixDim, q,
      Cosine.queryNorm(q, prefixDim), ids,
      TopK.largest(TopK.satMul(k, rerankFactor), ids.length))
    var r = 0
    while (r < ids.length) { scan.add(r); r += 1 }
    val pool = scan.result()
    // exact rerank over the pool (bounded: k·rerankFactor rows)
    val rerank = new CosineBatch(vecs, norms, dim, q, Cosine.queryNorm(q, dim),
      ids, TopK.largest(k, pool.size))
    rerank.addAll(pool.rowsBestFirst())
    rerank.result().toSeq
  }
}

object MemoryMrlIndex {

  /** Load from an (id, embedding) frame, splitting each vector into the
    * resident prefix array + the full array at `prefixDim`.
    */
  def fromDataFrame(corpus: DataFrame, idCol: String, embCol: String,
                    prefixDim: Int): MemoryMrlIndex = {
    val rows = corpus.where(col(embCol).isNotNull)
      .select(col(idCol).cast("long"), col(embCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(rows.nonEmpty, "MemoryMrlIndex: empty corpus")
    val dim = rows.head._2.length
    require(rows.forall(_._2.length == dim), "MemoryMrlIndex: ragged dims")
    require(prefixDim >= 1 && prefixDim <= dim,
      s"prefixDim $prefixDim out of range 1..$dim")
    val n = rows.length
    val ids = new Array[Long](n)
    val prefix = new Array[Float](n * prefixDim)
    val vecs = new Array[Float](n * dim)
    var r = 0
    while (r < n) {
      val (id, v) = rows(r)
      ids(r) = id
      var i = 0
      while (i < dim) {
        vecs(r * dim + i) = v(i)
        if (i < prefixDim) prefix(r * prefixDim + i) = v(i)
        i += 1
      }
      r += 1
    }
    new MemoryMrlIndex(dim, prefixDim, ids, prefix, vecs)
  }
}

/** PQ (product-quantization) memory index — the HIGH-compression
  * serving form next to [[MemorySq8Index]]: each vector is `m` byte
  * codes (dim 64 / m 8 → 32× smaller than float32), scored by ADC
  * (asymmetric distance computation): the query's per-subspace L2
  * distances to every sub-centroid form an m×ksub table computed ONCE per
  * request, and each row's approximate distance is m table lookups summed
  * in subspace order — the classic IVF-ADC serving kernel (Jegou et al.,
  * TPAMI 2011), replayed with the SAME double arithmetic as
  * [[graft.operators.Ann.topKPq]]'s plan (table loop, fold seed and
  * order), so the candidate cut and the exact-rerank output are
  * bit-identical to the DataFrame path (ServeSpec + the q190 oracle pin
  * it). Exact rerank ([[Cosine]]) reads the retained float vectors and
  * their load-time norms; memory per doc = m bytes of codes + dim×4 B for
  * rerank — drop the vectors and serve approximate-only where a
  * 32×-smaller replica matters more than exact order.
  */
final class MemoryPqIndex private (
    val dim: Int, m: Int,
    ids: Array[Long],
    codes: Array[Byte], // m-strided, unsigned codes (ksub <= 256)
    vecs: Array[Float], // dim-strided, for the exact rerank
    codebooks: Seq[Seq[Seq[Float]]]) {

  def size: Int = ids.length

  private val norms = Cosine.norms(vecs, ids.length, dim)

  /** The same driver-side table build as [[Ann.topKPq]] — per subspace,
    * squared-L2 of the query slice to each sub-centroid, in-order fold.
    */
  private def adcTable(query: Seq[Float]): Array[Array[Double]] =
    Ann.adcTableFor(codebooks, query).map(_.toArray).toArray

  /** ADC prune + exact cosine rerank — the [[Ann.topKPq]] contract. */
  def topK(query: Seq[Float], k: Int, rerankFactor: Int = 4): Seq[(Long, Double)] = {
    require(query.length == dim, s"query dim ${query.length} != index dim $dim")
    require(k > 0 && rerankFactor >= 1)
    val table = adcTable(query)
    val n = ids.length
    val adc = new Array[Double](n)
    var r = 0
    while (r < n) {
      // the engine's fold: seed 0.0, subspace-ascending adds
      var s = 0.0
      var j = 0
      while (j < m) { s += table(j)(codes(r * m + j) & 0xff); j += 1 }
      adc(r) = s
      r += 1
    }
    // bounded selection by (adc ASC, id ASC), then exact cosine rerank
    val pool = TopK.smallest(math.max(k, TopK.satMul(rerankFactor, k)), n)
    r = 0
    while (r < n) { pool.offer(adc(r), ids(r), r); r += 1 }
    val q = Cosine.query(query)
    val batch = new CosineBatch(vecs, norms, dim, q, Cosine.queryNorm(q, dim),
      ids, TopK.largest(k, pool.size))
    batch.addAll(pool.rowsBestFirst())
    batch.result().toSeq
  }
}

object MemoryPqIndex {

  /** Load from an [[Ann.withPqCodes]]-coded frame + its codebooks. */
  def fromDataFrame(coded: DataFrame, idCol: String, embCol: String,
                    codeCol: String,
                    codebooks: Seq[Seq[Seq[Float]]]): MemoryPqIndex = {
    val m = codebooks.length
    require(codebooks.forall(_.length <= 256),
      "byte-packed PQ needs ksub <= 256")
    val rows = coded
      .where(col(embCol).isNotNull && col(codeCol).isNotNull)
      .select(col(idCol).cast("long"), col(embCol), col(codeCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getSeq[Int](2)))
      .sortBy(_._1)
    require(rows.nonEmpty, "MemoryPqIndex: empty corpus")
    val dim = rows.head._2.length
    require(dim == codebooks.head.head.size * m,
      s"dim $dim != m($m) x subdim(${codebooks.head.head.size})")
    val ids = rows.map(_._1).toArray
    val vecs = new Array[Float](rows.length * dim)
    val codes = new Array[Byte](rows.length * m)
    var r = 0
    while (r < rows.length) {
      val v = rows(r)._2; val c = rows(r)._3
      require(c.length == m, s"code length ${c.length} != m $m at id ${ids(r)}")
      var i = 0
      while (i < dim) { vecs(r * dim + i) = v(i); i += 1 }
      var j = 0
      while (j < m) { codes(r * m + j) = c(j).toByte; j += 1 }
      r += 1
    }
    new MemoryPqIndex(dim, m, ids, codes, vecs, codebooks)
  }
}

/** Memory-resident BM25 postings — the lexical leg of the serving tier.
  * Loads the term-partitioned postings artifact ([[Bm25.buildPostings]])
  * plus the build-time index metadata (idf per term, avgdl) and answers
  * keyword top-k without a job. Scores are BIT-IDENTICAL to
  * [[Bm25.searchPostings]]: the same contribution expression shape and the
  * same per-doc fold order (terms ascending — the DataFrame path's
  * `sort_array(struct(term, c))`). Memory is O(Σ postings); a deployment
  * past memory shards by TERM (each replica owns a term range — queries
  * fan out and per-doc partials merge by sum, which is safe because the
  * fold re-sorts per doc).
  */
final class MemoryPostingsIndex private (
    postings: Map[String, Array[(Long, Long, Long)]], // term -> (id, tf, dl), id-ascending
    idf: Map[String, Double], avgdl: Double,
    k1: Double, b: Double) {

  def vocabularySize: Int = postings.size

  /** The exact per-posting BM25 contribution — ONE definition shared by
    * the exhaustive scan and the WAND path, so a fully-evaluated WAND
    * document carries bit-identical addends.
    */
  private def contribOf(w: Double, tf: Long, dl: Long): Double = {
    val tfD = tf.toDouble
    w * ((tfD * (k1 + 1.0)) /
      (tfD + k1 * ((1.0 - b) + b * (dl.toDouble / avgdl))))
  }

  /** Per-term score upper bound for WAND: the max contribution over the
    * term's own postings, computed ONCE at load with the exact serving
    * expression (so ub(t) >= every real contribution of t by
    * construction, not by analysis). Contributions are strictly positive
    * here — the idf is the "+1" Robertson form (never negative).
    */
  private lazy val termUb: Map[String, Double] = postings.map { case (t, arr) =>
    val w = idf.getOrElse(t, 0.0)
    var m = 0.0
    arr.foreach { case (_, tf, dl) =>
      val c = contribOf(w, tf, dl); if (c > m) m = c
    }
    t -> m
  }

  /** BM25 top-k for `terms`; unknown-terms-only queries return empty
    * (the [[Bm25.searchPostings]] contract).
    */
  def search(terms: Seq[String], k: Int): Seq[(Long, Double)] = {
    val present = terms.distinct.filter(t => idf.contains(t) && postings.contains(t))
    if (present.isEmpty) return Nil
    val acc = new java.util.HashMap[Long, Double]()
    // term-ascending order = the DataFrame path's per-doc
    // sort_array(struct(term, c)) fold (each term appears once per doc)
    present.sorted.foreach { term =>
      val w = idf(term)
      postings(term).foreach { case (id, tf, dl) =>
        acc.put(id, acc.getOrDefault(id, 0.0) + contribOf(w, tf, dl)): Unit
      }
    }
    TopK.best(acc, k)
  }

  /** WAND dynamic pruning (Broder et al., CIKM'03): document-at-a-time
    * top-k that skips documents whose per-term upper-bound sum cannot
    * reach the current k-th best score, WITHOUT changing the answer —
    * results are bit-identical to [[search]] because (a) a fully
    * evaluated document folds the SAME contributions in the SAME
    * term-ascending order, and (b) pruning is guarded: a document is
    * skipped only when ubSum + 64·ulp(ubSum ∨ θ) < θ. The guard covers
    * float summation error (m addends accumulate ≤ m·u relative error,
    * m ≤ 128 query terms here, and the real ubSum dominates the real
    * score because every addend bound is exact and non-negative), and a
    * document whose bound TIES θ is always evaluated, so score-tie
    * id-ordering survives. Skipped-vs-evaluated counters are exposed for
    * tests and ops ([[searchWandCounted]]).
    */
  def searchWand(terms: Seq[String], k: Int): Seq[(Long, Double)] =
    searchWandCounted(terms, k)._1

  /** [[searchWand]] plus (fullyEvaluatedDocs, skippedPostings). */
  def searchWandCounted(terms: Seq[String], k: Int)
      : (Seq[(Long, Double)], Long, Long) = {
    if (k <= 0) return (Nil, 0L, 0L)
    val present = terms.distinct
      .filter(t => idf.contains(t) && postings.contains(t)).sorted
    if (present.isEmpty) return (Nil, 0L, 0L)

    final class Cur(val term: String, val arr: Array[(Long, Long, Long)],
                    val w: Double, val ub: Double) {
      var pos = 0
      def id: Long = arr(pos)._1
      def done: Boolean = pos >= arr.length
      /** advance to the first posting with id >= target (binary search
        * over the id-ascending array — the skip-list move)
        */
      def seek(target: Long): Long = {
        var lo = pos; var hi = arr.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (arr(mid)._1 < target) lo = mid + 1 else hi = mid
        }
        val jumped = (lo - pos).toLong
        pos = lo
        jumped
      }
    }
    var curs = present.map(t =>
      new Cur(t, postings(t), idf(t), termUb(t))).toArray

    val top = TopK.largest(k, curs.map(_.arr.length).sum)
    var evaluated = 0L
    var skipped = 0L

    var active = true
    while (active && curs.nonEmpty) {
      val sorted = curs.sortBy(_.id)
      val theta = if (top.isFull) top.rootScore else -1.0
      // pivot: first prefix whose UB sum (plus the float guard) reaches θ
      var acc = 0.0
      var pivot = -1
      var i = 0
      while (pivot < 0 && i < sorted.length) {
        acc += sorted(i).ub
        if (acc + 64.0 * Math.ulp(Math.max(acc, theta)) >= theta) pivot = i
        i += 1
      }
      if (pivot < 0) {
        active = false // no remaining document can beat θ
      } else {
        val pivotDoc = sorted(pivot).id
        if (sorted(0).id == pivotDoc) {
          // full evaluation: every cursor at pivotDoc contributes; fold
          // term-ascending = the TAAT/DataFrame per-doc order
          val group = sorted.filter(c => !c.done && c.id == pivotDoc)
          val pairs = group.map { c =>
            val (_, tf, dl) = c.arr(c.pos)
            (c.term, contribOf(c.w, tf, dl))
          }.sortBy(_._1)
          var s = 0.0
          pairs.foreach(s += _._2)
          evaluated += 1
          top.offer(s, pivotDoc)
          group.foreach(_.pos += 1)
        } else {
          // docs below pivotDoc are only reachable through cursors
          // 0..pivot-1, whose UB prefix sum is < θ − guard: skip them all
          var j = 0
          while (j < pivot) {
            val c = sorted(j)
            if (!c.done && c.id < pivotDoc) skipped += c.seek(pivotDoc)
            j += 1
          }
        }
        curs = curs.filterNot(_.done)
      }
    }
    (top.toSeq, evaluated, skipped)
  }
}

object MemoryPostingsIndex {

  /** Load from the postings artifact + precomputed metadata (the same
    * inputs [[Bm25.searchPostings]] takes).
    */
  def fromDataFrame(postings: DataFrame, idCol: String,
                    idf: Map[String, Double], avgdl: Double,
                    k1: Double = 1.2, b: Double = 0.75): MemoryPostingsIndex =
    fromRows(collectRows(postings, idCol), idf, avgdl, k1, b)

  /** The [[Sharded]] serving form over the same postings frame, evaluated
    * once. `idf`/`avgdl` MUST be the whole-corpus statistics (per-slice
    * stats would change every score). An empty frame has no slices and
    * answers `Nil`, like the unsharded index.
    */
  def sharded(postings: DataFrame, idCol: String,
              idf: Map[String, Double], avgdl: Double, nShards: Int,
              k1: Double = 1.2, b: Double = 0.75): Seq[MemoryPostingsIndex] =
    Sharded.slices(collectRows(postings, idCol), nShards)(_._2._1)
      .map(fromRows(_, idf, avgdl, k1, b))

  /** The postings frame's (term, (id, tf, dl)) rows, one collect. */
  private[graft] def collectRows(postings: DataFrame,
                                 idCol: String): Array[(String, (Long, Long, Long))] =
    postings
      .select(col("term"), col(idCol).cast("long"), col("tf").cast("long"),
        col("dl").cast("long"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))

  /** Build from already-collected (term, (id, tf, dl)) rows — one slice
    * of [[sharded]], or the Spark-free loader
    * [[graft.tools.FleetShardServer]] uses.
    */
  private[graft] def fromRows(rows: Array[(String, (Long, Long, Long))],
                              idf: Map[String, Double], avgdl: Double,
                              k1: Double = 1.2,
                              b: Double = 0.75): MemoryPostingsIndex = {
    val byTerm = rows.groupBy(_._1).map { case (t, xs) =>
      t -> xs.map(_._2).sortBy(_._1)
    }
    new MemoryPostingsIndex(byTerm, idf, avgdl, k1, b)
  }
}

/** A reloading handle over a persisted self-describing index: serves
  * from the memory tier, and when the index is REBUILT in place
  * (`AnnIndexMeta.buildIvfIndex` overwrites the directory and rewrites
  * the sidecar last), the next `current()` call notices the sidecar's
  * new mtime and reloads — the serving node's refresh loop, one
  * sequential parquet read per publish, requests in flight keep the
  * immutable index object they already hold. This is the online half of
  * the reference's TARGET_LAG freshness story: Spark rebuilds the
  * artifact on its cadence; serving follows it without restarts.
  */
final class ServingIndex(spark: SparkSession, indexDir: String, idCol: String) {

  // cache key = (sidecar mtime, sidecar content hash): content breaks
  // the 1-second mtime granularity (two publishes in one granule with
  // different centroids reload correctly); mtime breaks content ties
  // across same-parameter rebuilds over new rows
  @volatile private var loaded: (String, MemoryAnnIndex) = ("", null)

  private def sidecarKey(): String = {
    val p = new org.apache.hadoop.fs.Path(indexDir, AnnIndexMeta.FileName)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    val in = fs.open(p)
    val md = java.security.MessageDigest.getInstance("MD5")
    try {
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    st.getModificationTime.toString + ":" +
      md.digest().map("%02x".format(_)).mkString
  }

  /** The memory index for the newest published artifact (reloads at most
    * once per sidecar change; concurrent callers during a reload serve
    * the previous immutable index). A load that RACES an in-place
    * rebuild is detected by re-reading the sidecar key after the load —
    * if it moved, the load is retried so a torn read is never cached
    * (AnnIndexMeta writes the sidecar LAST, so a stable key before and
    * after brackets a complete artifact; a stricter deployment uses
    * UpsertSink's immutable versioned dirs, where no in-place overwrite
    * exists at all).
    */
  def current(): MemoryAnnIndex = {
    val key = sidecarKey()
    val snap = loaded
    if (snap._2 != null && snap._1 == key) snap._2
    else this.synchronized {
      var attempts = 0
      var out: MemoryAnnIndex = null
      while (out == null) {
        val k1 = sidecarKey()
        val again = loaded
        if (again._2 != null && again._1 == k1) out = again._2
        else {
          attempts += 1
          require(attempts <= 5,
            s"index at $indexDir kept changing under 5 load attempts — " +
              "publisher cadence faster than load time")
          try {
            val idx = MemoryAnnIndex.load(spark, indexDir, idCol)
            if (sidecarKey() == k1) { // complete artifact bracketed
              loaded = (k1, idx)
              out = idx
            }
          } catch {
            case _: Exception if sidecarKey() != k1 => () // torn read: retry
          }
        }
      }
      out
    }
  }

  def topK(query: Seq[Float], k: Int): Seq[(Long, Double)] =
    current().topK(query, k)

  def topKIvf(query: Seq[Float], k: Int, nProbe: Int): Seq[(Long, Double)] =
    current().topKIvf(query, k, nProbe)
}

/** The serving front door over the memory tier: dense, lexical, and
  * hybrid (RRF-fused) search plus the Method-1 JSON request shape for the
  * pre-embedded `query_vector` path
  * (`/root/reference/01_method1_cortex_search.sql:200-219` — text
  * `query` requests embed on the caller's side or stay on the
  * [[graft.api.SemanticSearch]] DataFrame tier, where the embedder and
  * the filter DSL live). Hybrid fuses the two k-bounded legs with
  * [[HybridTier.fuse]] — the Spark path's fusion fold, so hybrid results
  * also match bit-for-bit.
  */
final class MemoryServer(val dense: MemoryAnnIndex,
                         lexical: Option[MemoryPostingsIndex],
                         val defaultNProbe: Int = 0)
  extends ServingTier with HybridTier {

  /** [[ServingTier]] conformance: the routed front door reads the dense
    * index's loaded metadata through the tier interface, so the SAME
    * door also composes with the multi-process [[FleetTier]].
    */
  def metaColumns: Set[String] = dense.metaColumns
  def metaString(colName: String, id: Long): String =
    dense.metaString(colName, id)

  /** True iff dense requests serve EXACTLY (full scan / payload index —
    * no IVF probe). The routed front doors ([[graft.api.SemanticSearch]],
    * [[graft.api.HybridSearch]]) promise results bit-identical to their
    * Spark job paths, so they route only onto an exact server; a probed
    * (`defaultNProbe > 0`) server is a recall/latency trade the caller
    * must opt into through this class's own API, never silently behind
    * a bit-identity contract.
    */
  def servesExactDense: Boolean = defaultNProbe == 0

  /** True iff hybrid requests serve exactly: an exact dense leg
    * ([[servesExactDense]]) AND a postings tier attached — a dense-only
    * server cannot serve the lexical leg, so [[graft.api.HybridSearch]]
    * takes its job path instead of failing per request.
    */
  def servesExactHybrid: Boolean = servesExactDense && lexical.nonEmpty

  /** Dense top-k: IVF-probed when the server was built with a probe
    * width, exact otherwise. Filtered exact requests route through the
    * payload index ([[MemoryAnnIndex.topKFilteredIndexed]] — selective
    * filters enumerate their candidates instead of testing every row,
    * and it falls back to the scan itself when unselective), so a
    * filtered JSON request pays the measured indexed-path latency, not
    * the full-scan one. Results are identical either way (ServeSpec +
    * the q195/q262/q263 oracles pin all three routes).
    */
  def topKVec(qvec: Seq[Float], k: Int,
              filters: Seq[MetaFilter] = Nil): Seq[(Long, Double)] =
    if (defaultNProbe > 0) dense.topKIvf(qvec, k, defaultNProbe, filters)
    else if (filters.nonEmpty) dense.topKFilteredIndexed(qvec, k, filters)
    else dense.topK(qvec, k)

  /** Lexical top-k via WAND dynamic pruning — answer-preserving by the
    * ulp-guarded pivot rule (see [[MemoryPostingsIndex.searchWand]];
    * the q220 oracle pins bit-equality to the exhaustive TAAT scan), so
    * the serving tier never pays the full-postings walk that made the
    * lexical leg the slowest memory path.
    */
  def searchLexical(terms: Seq[String], k: Int): Seq[(Long, Double)] =
    lexical.getOrElse(sys.error("MemoryServer built without a postings index"))
      .searchWand(terms, k)

  /** Hybrid: dense + lexical candidate lists (each `poolK` deep), fused
    * by [[HybridTier.fuse]].
    */
  def searchHybrid(qvec: Seq[Float], terms: Seq[String], k: Int,
                   poolK: Int = 20, c: Int = 60): Seq[(Long, Double)] =
    HybridTier.fuse(topKVec(qvec, poolK), searchLexical(terms, poolK), k, c)

  /** Hybrid via CONVEX (min-max normalized) score fusion — the q176
    * combiner served job-free: each leg's scores normalize over its own
    * `poolK` candidates, fused = wDense·dense + wLex·lexical in pinned
    * leg order ([[Bm25.normFuseLocal]], bit-identical to the batch
    * path). Keeps score MAGNITUDE where RRF keeps only rank.
    */
  def searchHybridNorm(qvec: Seq[Float], terms: Seq[String], k: Int,
                       poolK: Int = 20, wDense: Double = 0.6,
                       wLex: Double = 0.4): Seq[(Long, Double)] = {
    val d = topKVec(qvec, poolK)
    val l = searchLexical(terms, poolK)
    Bm25.normFuseLocal(Seq((d, wDense), (l, wLex)), k)
  }

  /** Dense top-k under a DISJUNCTIVE-normal-form filter (a Seq of
    * conjunction branches): one k-bounded probe per branch, merged by
    * [[TopK.merge]] with repeated ids dropped. This is BIT-IDENTICAL to
    * a single scan testing the whole disjunction per row: a row passes
    * the OR iff it passes some branch, every branch scores a row with
    * the same fold (same bits), and the global top-k is contained in
    * the union of per-branch top-k's. Cost is one probe per branch —
    * each of which keeps the payload-index / IVF-probe fast paths a
    * monolithic OR-scan would forfeit — and requests bound branch
    * counts (the parser caps DNF expansion), so no data-sized work is
    * ever disjunction-shaped.
    */
  def topKVecDnf(qvec: Seq[Float], k: Int,
                 dnf: Seq[Seq[MetaFilter]]): Seq[(Long, Double)] =
    dnf match {
      case Seq(one) => topKVec(qvec, k, one)
      case branches => // same id ⇒ same score bits in every branch
        TopK.merge(branches.map(b => topKVec(qvec, k, b)), k, distinct = true)
    }

  /** The Method-1 filter DSL (`01_method1_cortex_search.sql:204-212`,
    * notebook Q2/Q3/Q5 shapes) compiled to disjunctive normal form over
    * loaded metadata columns: `@and`, `@or`, `@eq` (numeric +
    * dictionary string), `@gte`/`@lte` (numeric), `@ne` (numeric +
    * dictionary string — two ranges around the excluded value), and
    * `@contains` (dictionary string — one equality branch per matching
    * dictionary code, bounded by the categorical alphabet). `@and`
    * cross-multiplies child DNFs; the result is capped at 64 branches
    * (these are serving requests, not a query engine — the DataFrame
    * tier's [[graft.filter.FilterDsl]] stays the general path).
    * `Seq(Nil)` = one unconstrained branch = match-all.
    */
  private[serve] def parseFilterDnf(
      node: com.fasterxml.jackson.databind.JsonNode): Seq[Seq[MetaFilter]] = {
    if (node == null || node.isNull) return Seq(Nil)
    def cross(a: Seq[Seq[MetaFilter]], b: Seq[Seq[MetaFilter]]): Seq[Seq[MetaFilter]] =
      for (x <- a; y <- b) yield x ++ y
    val parts = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[MetaFilter]]]
    if (node.has("@and"))
      parts += node.get("@and").elements().asScala.toSeq
        .map(parseFilterDnf).foldLeft(Seq(Seq.empty[MetaFilter]))(cross)
    if (node.has("@or")) {
      val ors = node.get("@or").elements().asScala.toSeq.flatMap(parseFilterDnf)
      require(ors.nonEmpty, "@or needs at least one child")
      parts += ors
    }
    {
      // strictness rules (a silently-dropped or mis-typed filter is a
      // WRONG RESULT, not a convenience): a textual value is only legal
      // under @eq on a dictionary-encoded column; a numeric value is
      // only legal on a numeric column (comparing dictionary CODES with
      // ranges would match an arbitrary lexicographic slice)
      def checkNumericCol(op: String, n: String,
                          v: com.fasterxml.jackson.databind.JsonNode): Unit = {
        if (!v.isNumber)
          throw new IllegalArgumentException(
            s"$op value for '$n' must be numeric, got: $v " +
              "(string values are only supported as {\"@eq\": {col: value}})")
        // the memory tier stores long-encoded values: a fractional literal
        // (e.g. {"@gte":{"n_chars":49.5}}) would asLong()-TRUNCATE to 49
        // and admit rows the Spark tier's 49.5 comparison rejects — and an
        // integral literal outside long range (2^63 arrives as a
        // BigIntegerNode, isIntegralNumber = true) would asLong()-WRAP to
        // the opposite sign. Refuse both, so the router falls back to the
        // bit-faithful FilterDsl
        if (!v.isIntegralNumber || !v.canConvertToLong)
          throw new IllegalArgumentException(
            s"$op value for '$n' must be a long-range integral for the " +
              s"memory tier, got: $v (other comparisons serve on the Spark tier)")
        if (dense.isStringColumn(n))
          throw new IllegalArgumentException(
            s"$op on dictionary-encoded string column '$n' is not " +
              "supported (codes are not ordered meaningfully); use @eq")
      }
      def one(op: String, f: (String, Long) => MetaFilter): Seq[MetaFilter] =
        Option(node.get(op)).toSeq.flatMap { o =>
          o.fieldNames().asScala.map { n =>
            checkNumericCol(op, n, o.get(n))
            f(n, o.get(n).asLong())
          }.toSeq
        }
      // string @eq resolves through the index's load-time dictionary —
      // the notebook's {"@eq": {"sport_type": "run"}} shape
      val stringEq = Option(node.get("@eq")).toSeq.flatMap { o =>
        o.fieldNames().asScala.filter(n => o.get(n).isTextual)
          .map(n => dense.stringFilter(n, o.get(n).asText())).toSeq
      }
      val numEq = Option(node.get("@eq")).toSeq.flatMap { o =>
        o.fieldNames().asScala.filterNot(n => o.get(n).isTextual)
          .map { n =>
            checkNumericCol("@eq", n, o.get(n))
            MetaFilter(n, o.get(n).asLong(), o.get(n).asLong())
          }.toSeq
      }
      val leafConj = stringEq ++ numEq ++
        one("@gte", (c, v) => MetaFilter(c, v, Long.MaxValue)) ++
        one("@lte", (c, v) => MetaFilter(c, Long.MinValue, v))
      if (leafConj.nonEmpty) parts += Seq(leafConj)
      // @ne — "anything but v" = the two ranges around v (string values
      // resolve to their dictionary code first; an UNSEEN string value
      // excludes nothing, so the field contributes match-all)
      def neBranches(n: String, v: Long): Seq[Seq[MetaFilter]] =
        Seq(
          if (v > Long.MinValue) Some(Seq(MetaFilter(n, Long.MinValue, v - 1))) else None,
          if (v < Long.MaxValue) Some(Seq(MetaFilter(n, v + 1, Long.MaxValue))) else None
        ).flatten
      Option(node.get("@ne")).foreach { o =>
        o.fieldNames().asScala.foreach { n =>
          val v = o.get(n)
          if (v.isTextual) {
            val f = dense.stringFilter(n, v.asText()) // errors on non-dict col
            parts += (if (f.min > f.max) Seq(Nil) else neBranches(n, f.min))
          } else {
            checkNumericCol("@ne", n, v)
            parts += neBranches(n, v.asLong())
          }
        }
      }
      // @contains — substring match resolved against the dictionary at
      // request time: one equality branch per matching code (bounded by
      // the categorical alphabet, never the corpus); no match = an
      // impossible branch (empty results, like an unseen @eq)
      Option(node.get("@contains")).foreach { o =>
        o.fieldNames().asScala.foreach { n =>
          val v = o.get(n)
          if (!v.isTextual)
            throw new IllegalArgumentException(
              s"@contains value for '$n' must be a string, got: $v")
          val codes = dense.containsCodes(n, v.asText()) // errors on non-dict col
          parts += (if (codes.isEmpty) Seq(Seq(MetaFilter(n, 1L, 0L)))
                    else codes.map(c => Seq(MetaFilter(n, c, c))))
        }
      }
      if (parts.isEmpty)
        throw new IllegalArgumentException(
          "memory tier supports @and/@or/@eq/@ne/@gte/@lte/@contains " +
            s"filters, got: $node")
      val dnf = parts.foldLeft(Seq(Seq.empty[MetaFilter]))(cross)
      require(dnf.size <= 64,
        s"filter expands to ${dnf.size} DNF branches (max 64) — " +
          "simplify the request or use the DataFrame tier's FilterDsl")
      dnf
    }
  }

  /** JSON request → JSON response, job-free. Accepts `query_vector` +
    * `limit` + the numeric `filter` subset (the deterministic serving
    * path); a `query` text request needs the embedder and belongs to
    * the DataFrame tier. The response is `{"results":[{"id":"…",
    * "score":"…"}, …]}`, both values stringified ([[ResponseJson]]).
    */
  def search(requestJson: String): String = {
    val req = Request.parse(requestJson)
    val k = req.limit.getOrElse(5)
    // limit 0 = the DataFrame front door's .limit(0): empty results
    if (k == 0) return ResponseJson.rows(Nil, Nil)
    val qv = req.vector.getOrElse(throw new IllegalArgumentException(
      "memory tier serves 'query_vector' requests; text 'query' goes " +
        "through the embedder-backed DataFrame tier"))
    ResponseJson.rows(Seq("id", "score"),
      topKVecDnf(qv, k, parseFilterDnf(req.filter))
        .map { case (id, s) => Seq(id.toString, s.toString) })
  }

  /** [[parseFilterDnf]] as a coverage PROBE for the routed DataFrame
    * front door ([[graft.api.SemanticSearch.search]]): `None` when the
    * filter uses ops or columns this server does not serve (the parser's
    * strictness errors), which the router reads as "fall back to the
    * Spark tier" — never as a swallowed request error (a malformed
    * request fails identically on the fallback path, with the general
    * tier's message). ONLY `IllegalArgumentException` — the parser's and
    * the dictionary lookups' documented strictness failure mode — reads
    * as "not covered"; any other exception is a parser DEFECT and
    * propagates instead of hiding behind a silent latency difference.
    */
  def tryParseFilter(filterNode: com.fasterxml.jackson.databind.JsonNode)
      : Option[Seq[Seq[MetaFilter]]] =
    try Some(parseFilterDnf(filterNode))
    catch { case _: IllegalArgumentException => None }
}
