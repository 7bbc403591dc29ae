package graftbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Column

import graft.embed.Embedder
import graft.serve.{MetaFilter, ServingTier}

/** Delegating [[Embedder]] that records one `embed` span per single-text
  * embedding. The column form (corpus build) is passed through untouched.
  */
final class TracedEmbedder(inner: Embedder) extends Embedder {
  def dim: Int = inner.dim
  def embed(text: String): Array[Float] = Trace.span("embed")(inner.embed(text))
  def embedCol(text: Column): Column = inner.embedCol(text)
}

/** Delegating [[ServingTier]]: the door's calls into the serving layer
  * become `serve.parse` (filter coverage probe), `serve.topk` (the scan)
  * and `serve.meta` (one per response value) spans.
  */
final class TracedTier(inner: ServingTier) extends ServingTier {
  def servesExactDense: Boolean = inner.servesExactDense
  def metaColumns: Set[String] = inner.metaColumns
  def metaString(colName: String, id: Long): String =
    Trace.span("serve.meta")(inner.metaString(colName, id))
  def tryParseFilter(node: JsonNode): Option[Seq[Seq[MetaFilter]]] =
    Trace.span("serve.parse")(inner.tryParseFilter(node))
  def topKVecDnf(qvec: Seq[Float], k: Int,
                 dnf: Seq[Seq[MetaFilter]]): Seq[(Long, Double)] =
    Trace.span("serve.topk")(inner.topKVecDnf(qvec, k, dnf))
}
