package graft.serve

/** What a routed front door ([[graft.api.SemanticSearch]]) needs from the
  * tier behind it — extracted so the SAME door (JSON parse → coverage
  * route → serve/fallback → stringify) composes with either deployment
  * shape: the in-process memory tier ([[MemoryServer]]) or the
  * multi-process shard fleet ([[FleetTier]], over one client or a
  * [[FleetDoor]] pool). The door's coverage rule is built from these five
  * methods; a tier narrows its own coverage by returning None from
  * [[tryParseFilter]] or fewer [[metaColumns]], and the door falls back
  * to the Spark job path — never a wrong answer.
  *
  * Contract every implementation must keep (the bit-identity promise the
  * door makes): when [[servesExactDense]] is true, [[topKVecDnf]] returns
  * EXACTLY what the Spark path's pinned cosine fold + (score DESC,
  * id ASC) order produces over the same rows — same ids, same score BITS.
  */
trait ServingTier {

  /** True iff dense requests serve exactly (no probe/approximation) —
    * the routing precondition for the door's bit-identity contract.
    */
  def servesExactDense: Boolean

  /** Metadata columns this tier can stringify for response assembly. */
  def metaColumns: Set[String]

  /** The exact string the Spark path's CAST would emit for this row's
    * column (only called for columns in [[metaColumns]]).
    */
  def metaString(colName: String, id: Long): String

  /** Compile the request's filter to DNF over THIS tier's capabilities;
    * None = not covered here (the door falls back). `Seq(Nil)` = one
    * unconstrained branch = match-all.
    */
  def tryParseFilter(node: com.fasterxml.jackson.databind.JsonNode)
      : Option[Seq[Seq[MetaFilter]]]

  /** Dense top-k under a DNF filter from [[tryParseFilter]]. */
  def topKVecDnf(qvec: Seq[Float], k: Int,
                 dnf: Seq[Seq[MetaFilter]]): Seq[(Long, Double)]
}

/** What the HYBRID front door ([[graft.api.HybridSearch]]) needs from a
  * fused-retrieval tier: both legs pooled `poolK` deep, folded to `k` by
  * [[HybridTier.fuse]]. Three shapes implement it — the [[MemoryServer]]
  * monolith, sharded legs in one process ([[Sharded.hybrid]]) and the
  * multi-process fleet ([[FleetTier]]) — and all three end in that one
  * fold.
  *
  * Contract (the door's bit-identity promise): when [[servesExactHybrid]]
  * is true, [[searchHybrid]] returns EXACTLY the Spark path's fused
  * `(id, rrf)` rows — same ids, same score bits. The door routes onto
  * nothing else.
  */
trait HybridTier {

  /** True iff [[searchHybrid]] serves exactly — the door's routing
    * precondition.
    */
  def servesExactHybrid: Boolean

  def searchHybrid(qvec: Seq[Float], terms: Seq[String], k: Int,
                   poolK: Int = 20, c: Int = 60): Seq[(Long, Double)]
}

object HybridTier {

  /** The one hybrid fold: each best-first leg becomes 1-based ranks, and
    * the two rank lists fuse in pinned (dense, lexical) order by
    * [[graft.operators.Bm25.rrfFuseLocal]] — the engine's fusion fold, so
    * (rrf DESC, id ASC) order and score bits match the Spark path's
    * [[graft.operators.Bm25.rrfFuse]].
    */
  def fuse(dense: Seq[(Long, Double)], lexical: Seq[(Long, Double)],
           k: Int, c: Int): Seq[(Long, Double)] = {
    def ranks(leg: Seq[(Long, Double)]) =
      leg.zipWithIndex.map { case ((id, _), i) => (id, i + 1) }
    graft.operators.Bm25.rrfFuseLocal(Seq(ranks(dense), ranks(lexical)), c, k)
  }
}
