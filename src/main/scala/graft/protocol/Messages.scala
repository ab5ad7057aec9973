package graft.protocol

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** Airbyte-protocol and Singer-protocol message envelopes.
  *
  * The reference consumes Airbyte messages (`RECORD, STATE, LOG, TRACE,
  * CATALOG, SPEC, CONNECTION_STATUS, CONTROL` — reference
  * `tap_airbyte/tap.py:87-96`) from a connector subprocess's stdout and
  * re-emits Singer messages (`SCHEMA / RECORD / STATE` JSONL) on its own
  * stdout. We model both sides as small ADTs over Jackson trees — schemas
  * are runtime-discovered so a fully-typed model buys nothing (SURVEY §1.4)
  * — except the RECORD payload, which stays the connector's raw JSON text
  * from the line to the demux spill file.
  */
object AirbyteMessageType extends Enumeration {
  val RECORD, STATE, LOG, TRACE, CATALOG, SPEC, CONNECTION_STATUS, CONTROL = Value
}

/** One parsed line of Airbyte-protocol output: a [[AirbyteMessage.Record]]
  * or, for every other type, a [[AirbyteMessage.Tree]].
  */
sealed trait AirbyteMessage { def msgType: AirbyteMessageType.Value }

object AirbyteMessage {

  /** A RECORD message: `record.stream` and the raw JSON text of
    * `record.data`, copied from the line without building a tree. `data`
    * is any JSON value (`null`, an array and a scalar included); either
    * field is None when the line lacks it, and `stream` is None when it is
    * not a string.
    */
  final case class Record(stream: Option[String], data: Option[String]) extends AirbyteMessage {
    def msgType: AirbyteMessageType.Value = AirbyteMessageType.RECORD
  }

  /** Any other message type. `payload` is the full message object; helpers
    * pull the per-type sub-document.
    */
  final case class Tree(msgType: AirbyteMessageType.Value, payload: JsonNode)
      extends AirbyteMessage {
    def state: Option[JsonNode]   = Option(payload.get("state"))
    def catalog: Option[JsonNode] = Option(payload.get("catalog"))
    def spec: Option[JsonNode]    = Option(payload.get("spec"))
    def connectionStatus: Option[JsonNode] = Option(payload.get("connectionStatus"))
    def log: Option[JsonNode]     = Option(payload.get("log"))
    def trace: Option[JsonNode]   = Option(payload.get("trace"))
  }

  private val mapper = new ObjectMapper()
  private val types: Map[String, AirbyteMessageType.Value] =
    AirbyteMessageType.values.iterator.map(t => t.toString -> t).toMap

  /** Parse one JSONL line in a single streaming pass; None for blank
    * lines, non-JSON noise, a truncated object, or a missing or unknown
    * `type` (the reference logs-and-skips undecodable lines rather than
    * failing).
    *
    * Fields may come in any order and a repeated key keeps its last value,
    * as in a Jackson tree. A RECORD line never becomes a tree: the pass
    * reads `record.stream` and takes `record.data` as the character span
    * of its value (token start, `skipChildren`, current location), so the
    * demux writes the connector's own text instead of a parse plus a
    * re-serialization per record. Only the top-level fields other than
    * `record` are read as trees; they make the payload of the other
    * message types.
    */
  def parse(line: String): Option[AirbyteMessage] = {
    val s = line.trim
    if (s.isEmpty || s.charAt(0) != '{') return None
    val p = mapper.getFactory.createParser(s)
    try {
      p.nextToken()
      var typeName: String = null
      var stream: String = null
      var data: String = null
      var recordStart, recordEnd = -1
      var rest: ObjectNode = null
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName
        p.nextToken()
        name match {
          case "type" => typeName = stringValue(p)
          case "record" =>
            recordStart = p.currentTokenLocation.getCharOffset.toInt
            stream = null
            data = null
            if (p.currentToken == JsonToken.START_OBJECT)
              while (p.nextToken() == JsonToken.FIELD_NAME) {
                val field = p.currentName
                p.nextToken()
                field match {
                  case "stream" => stream = stringValue(p)
                  case "data"   => data = valueText(p, s)
                  case _        => p.skipChildren()
                }
              }
            else { p.skipChildren(); p.finishToken() }
            recordEnd = p.currentLocation.getCharOffset.toInt
          case _ =>
            if (rest == null) rest = mapper.createObjectNode()
            rest.set[JsonNode](name, mapper.readTree[JsonNode](p))
        }
      }
      types.get(typeName).map {
        case AirbyteMessageType.RECORD => Record(Option(stream), Option(data))
        case t =>
          val payload = mapper.createObjectNode().put("type", typeName)
          if (rest != null) payload.setAll[JsonNode](rest)
          if (recordStart >= 0)
            payload.set[JsonNode]("record", mapper.readTree(s.substring(recordStart, recordEnd)))
          Tree(t, payload)
      }
    } catch { case _: Exception => None }
    finally p.close()
  }

  /** The current value when it is a string, else null (after skipping it). */
  private def stringValue(p: JsonParser): String =
    if (p.currentToken == JsonToken.VALUE_STRING) p.getText
    else { p.skipChildren(); null }

  /** The raw text of the value at the current token; leaves the parser on
    * the value's last token. `finishToken` reads a string to its closing
    * quote, which the parser otherwise defers.
    */
  private def valueText(p: JsonParser, s: String): String = {
    val start = p.currentTokenLocation.getCharOffset.toInt
    p.skipChildren()
    p.finishToken()
    s.substring(start, p.currentLocation.getCharOffset.toInt)
  }
}

/** Singer-side messages the engine emits (reference `tap.py:62-77`,
  * fixture shape `tests/fixtures/KPHX.singer`).
  */
sealed trait SingerMessage { def toJson: String }

object SingerMessage {
  private[protocol] val mapper = new ObjectMapper()

  final case class Schema(stream: String, schema: JsonNode, keyProperties: Seq[String])
      extends SingerMessage {
    def toJson: String = {
      val n: ObjectNode = mapper.createObjectNode()
      n.put("type", "SCHEMA")
      n.put("stream", stream)
      n.set[JsonNode]("schema", schema)
      val kp = n.putArray("key_properties")
      keyProperties.foreach(kp.add)
      mapper.writeValueAsString(n)
    }
  }

  final case class Record(stream: String, record: JsonNode, timeExtracted: Option[String])
      extends SingerMessage {
    def toJson: String = {
      val n: ObjectNode = mapper.createObjectNode()
      n.put("type", "RECORD")
      n.put("stream", stream)
      n.set[JsonNode]("record", record)
      timeExtracted.foreach(n.put("time_extracted", _))
      mapper.writeValueAsString(n)
    }
  }

  final case class State(value: JsonNode) extends SingerMessage {
    def toJson: String = {
      val n: ObjectNode = mapper.createObjectNode()
      n.put("type", "STATE")
      n.set[JsonNode]("value", value)
      mapper.writeValueAsString(n)
    }
  }
}
