package graft.core

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** The one JSON codec of the CLI lines, the MCP payloads, the run records
  * and the oracle dump: Jackson, which Spark ships. Writes escape every
  * control character, so any text a user supplies (a run dir, a note, a
  * model id) round-trips through a strict parser.
  *
  * Reads also accept raw control characters inside strings: run records
  * written by the earlier hand-rolled writer escaped only `\\ " \n \r`,
  * so a tab in a note sits in those files unescaped. */
object Json {
  val mapper: ObjectMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  /** An object of `fields` in order. A value is a JsonNode, a String, a
    * Long, an Int, a Double, a Boolean, an Option (None = null) or a Seq
    * of those (an array); anything else is written as its toString. */
  def obj(fields: (String, Any)*): ObjectNode = {
    val n = mapper.createObjectNode()
    fields.foreach { case (k, v) => n.set[JsonNode](k, node(v)) }
    n
  }

  private def node(v: Any): JsonNode = {
    val f = mapper.getNodeFactory
    v match {
      case null | None => f.nullNode()
      case Some(x) => node(x)
      case n: JsonNode => n
      case s: String => f.textNode(s)
      case l: Long => f.numberNode(l)
      case i: Int => f.numberNode(i)
      case d: Double => f.numberNode(d)
      case b: Boolean => f.booleanNode(b)
      case xs: Seq[_] =>
        val a = f.arrayNode(); xs.foreach(x => a.add(node(x))); a
      case other => f.textNode(String.valueOf(other))
    }
  }

  def write(n: JsonNode): String = mapper.writeValueAsString(n)

  def read(text: String): JsonNode = mapper.readTree(text)
}
