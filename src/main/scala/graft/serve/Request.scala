package graft.serve

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** One front-door request, parsed once and shared by every door
  * ([[graft.api.SemanticSearch]], [[graft.api.HybridSearch]],
  * [[MemoryServer.search]]): `{"query" | "query_vector", "columns",
  * "filter", "limit", ...}`.
  *
  * Integer fields ([[limit]], and a door's own ones through [[int]]) are
  * strict on every route: a negative, fractional, textual or
  * out-of-`Int`-range value is refused with `IllegalArgumentException`
  * instead of being coerced (Jackson's `asInt` reads `"abc"` as 0 and
  * wraps `10000000000` to 1410065408), so a covered request and its Spark
  * fallback can never disagree about it. An absent or JSON-null field
  * takes the door's default.
  */
final class Request private (node: JsonNode) {

  val limit: Option[Int] = int("limit")

  /** The requested columns, in order; None = the door's default set. */
  val columns: Option[Seq[String]] = Option(node.get("columns"))
    .map(_.elements().asScala.map(_.asText()).toSeq)

  /** The pre-embedded query. An explicit JSON null (a client serializing
    * the unused optional field) falls through to [[text]], not to an
    * empty vector.
    */
  val vector: Option[Seq[Float]] = Option(node.get("query_vector"))
    .filter(_.isArray).map(_.elements().asScala.map(_.floatValue()).toSeq)

  val text: Option[String] = Option(node.get("query")).map(_.asText())

  /** The raw `filter` node (null when absent): each tier compiles it
    * under its own capabilities.
    */
  val filter: JsonNode = node.get("filter")

  /** A string array field, e.g. the hybrid door's lexical `terms`. */
  def strings(field: String): Option[Seq[String]] = Option(node.get(field))
    .filter(_.isArray).map(_.elements().asScala.map(_.asText()).toSeq)

  /** A non-negative `Int` field under the rule in the class doc. */
  def int(field: String): Option[Int] =
    Option(node.get(field)).filterNot(_.isNull).map { v =>
      if (!v.isIntegralNumber || !v.canConvertToInt || v.intValue < 0)
        throw new IllegalArgumentException(
          s"'$field' must be a non-negative integer in Int range, got: $v")
      v.intValue
    }
}

object Request {
  private val mapper = new ObjectMapper()

  def parse(json: String): Request = new Request(mapper.readTree(json))
}

/** The one writer of a front door's response body, `{"results":[…]}`.
  * Rows go through Jackson's `JsonGenerator`, the writer Spark's
  * `to_json` uses, so a row of string values written here is
  * byte-identical to `to_json(struct(*))` over the same string columns:
  * the same escapes, and a null value's field omitted (ServeSpec pins
  * both against the Spark path).
  */
object ResponseJson {
  private val factory = new JsonFactory()

  /** Rows of string values under `cols` (one value per column). */
  def rows(cols: Seq[String], rows: Seq[Seq[String]]): String = write { g =>
    rows.foreach { r =>
      g.writeStartObject()
      cols.lazyZip(r).foreach((c, v) => if (v != null) g.writeStringField(c, v))
      g.writeEndObject()
    }
  }

  /** Rows already rendered as JSON objects (the Spark path's `to_json`). */
  def rendered(rows: Seq[String]): String = write(g => rows.foreach(g.writeRawValue))

  private def write(body: JsonGenerator => Unit): String = {
    val out = new java.io.StringWriter(256)
    val g = factory.createGenerator(out)
    g.writeStartObject()
    g.writeArrayFieldStart("results")
    body(g)
    g.writeEndArray()
    g.writeEndObject()
    g.close()
    out.toString
  }
}
