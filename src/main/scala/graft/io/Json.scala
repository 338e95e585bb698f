package graft.io

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The one JSON codec for what the program writes as JSON text: the
  * [[TableIO]] manifests and `graft.Run`'s `metrics.json`. Jackson ships on
  * Spark's classpath. Output is compact (no whitespace), so a plain value
  * serializes to the same bytes as a hand-built `"key":"value"` fragment. */
object Json {
  private val mapper = new ObjectMapper()

  def obj(): ObjectNode = mapper.createObjectNode()

  def write(node: JsonNode): String = mapper.writeValueAsString(node)

  /** `s` as a JSON string literal, quotes included, escaped as needed. */
  def quote(s: String): String = mapper.writeValueAsString(s)

  /** The parsed document, or None when `s` is not JSON. */
  def parse(s: String): Option[JsonNode] =
    try Option(mapper.readTree(s)) catch {
      case _: com.fasterxml.jackson.core.JacksonException => None
    }
}
