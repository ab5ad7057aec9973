package graft.protocol

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{NullNode, ObjectNode}

import java.io.OutputStream
import java.nio.charset.StandardCharsets

/** Airbyte-protocol and Singer-protocol message envelopes.
  *
  * The reference consumes Airbyte messages (`RECORD, STATE, LOG, TRACE,
  * CATALOG, SPEC, CONNECTION_STATUS, CONTROL` — reference
  * `tap_airbyte/tap.py:87-96`) from a connector subprocess's stdout and
  * re-emits Singer messages (`SCHEMA / RECORD / STATE` JSONL) on its own
  * stdout. We model both sides as small ADTs over Jackson trees — schemas
  * are runtime-discovered so a fully-typed model buys nothing (SURVEY §1.4)
  * — except the RECORD payload, which stays the connector's raw JSON bytes
  * from its stdout to the demux spill file.
  */
object AirbyteMessageType extends Enumeration {
  val RECORD, STATE, LOG, TRACE, CATALOG, SPEC, CONNECTION_STATUS, CONTROL = Value
}

/** One parsed line of Airbyte-protocol output: a [[AirbyteMessage.Record]]
  * or, for every other type, a [[AirbyteMessage.Tree]].
  */
sealed trait AirbyteMessage { def msgType: AirbyteMessageType.Value }

object AirbyteMessage {

  /** A RECORD message: `record.stream` and `record.data`, the latter kept
    * as the byte span `[dataFrom, dataUntil)` of the parsed input — the
    * connector's own UTF-8 text, a tree only when [[dataTree]] asks.
    * `data` is any JSON value (`null`, an array and a scalar included);
    * `dataFrom` is -1 when the line has no `data`, and `stream` is None
    * when it is missing or not a string. The record refers to the input bytes, so it lives only as
    * long as they are left unchanged.
    */
  final class Record private[protocol] (
      val stream: Option[String], bytes: Array[Byte], dataFrom: Int, dataUntil: Int)
      extends AirbyteMessage {
    def msgType: AirbyteMessageType.Value = AirbyteMessageType.RECORD

    /** The raw text of `data`, or None when the line has none. */
    def data: Option[String] =
      if (dataFrom < 0) None
      else Some(new String(bytes, dataFrom, dataUntil - dataFrom, StandardCharsets.UTF_8))

    /** Whether the line has a `data` field. */
    def hasData: Boolean = dataFrom >= 0

    /** Whether `data` is a JSON object (the span starts with `{`). */
    def dataIsObject: Boolean = dataFrom >= 0 && bytes(dataFrom) == '{'

    /** Writes the bytes of `data` to `out`. */
    def writeData(out: OutputStream): Unit = out.write(bytes, dataFrom, dataUntil - dataFrom)

    /** A tree of `data` alone; a JSON null when the line has none. */
    def dataTree: JsonNode =
      if (dataFrom < 0) NullNode.instance else mapper.readTree(bytes, dataFrom, dataUntil - dataFrom)
  }

  object Record {
    def unapply(r: Record): Some[(Option[String], Option[String])] = Some((r.stream, r.data))
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

    /** For a TRACE of type ERROR, its `error` (the whole trace when it has
      * none) as JSON text.
      */
    def traceError: Option[String] =
      if (msgType != AirbyteMessageType.TRACE) None
      else trace.filter(_.path("type").asText == "ERROR").map(t => Option(t.get("error")).getOrElse(t).toString)
  }

  private val mapper = new ObjectMapper()
  private val types: Map[String, AirbyteMessageType.Value] =
    AirbyteMessageType.values.iterator.map(t => t.toString -> t).toMap

  /** Parse one JSONL line: its UTF-8 bytes through the byte core below. */
  def parse(line: String): Option[AirbyteMessage] = {
    val bytes = line.getBytes(StandardCharsets.UTF_8)
    parse(bytes, 0, bytes.length)
  }

  /** Parse the line held in `bytes(from until until)` in a single
    * streaming pass; None for blank lines, non-JSON noise, a truncated
    * object, or a missing or unknown `type` (the reference logs-and-skips
    * undecodable lines rather than failing). Leading bytes up to and
    * including space are skipped, as `String.trim` does, and anything
    * after the top-level object is ignored.
    *
    * Fields may come in any order and a repeated key keeps its last value,
    * as in a Jackson tree. A RECORD line never becomes a tree: the pass
    * reads `record.stream` and takes `record.data` as the byte span of its
    * value (token start, `skipChildren`, current location), so the demux
    * writes the connector's own bytes instead of a parse plus a
    * re-serialization per record. Only the top-level fields other than
    * `record` are read as trees; they make the payload of the other
    * message types. The parser is Jackson's byte parser over the span
    * itself: no decoding to chars and no copy of the line.
    */
  def parse(bytes: Array[Byte], from: Int, until: Int): Option[AirbyteMessage] = {
    var start = from
    while (start < until && (bytes(start) & 0xff) <= ' ') start += 1
    if (start == until || bytes(start) != '{') return None
    val p = mapper.getFactory.createParser(bytes, start, until - start)
    // Jackson reports byte offsets relative to `start`.
    def tokenStart = start + p.currentTokenLocation.getByteOffset.toInt
    def position = start + p.currentLocation.getByteOffset.toInt
    try {
      p.nextToken()
      var typeName: String = null
      var stream: String = null
      var dataFrom, dataUntil = -1
      var recordFrom, recordUntil = -1
      var rest: ObjectNode = null
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName
        p.nextToken()
        name match {
          case "type" => typeName = stringValue(p)
          case "record" =>
            recordFrom = tokenStart
            stream = null
            dataFrom = -1
            if (p.currentToken == JsonToken.START_OBJECT)
              while (p.nextToken() == JsonToken.FIELD_NAME) {
                val field = p.currentName
                p.nextToken()
                field match {
                  case "stream" => stream = stringValue(p)
                  case "data" =>
                    // `finishToken` reads a string to its closing quote,
                    // which the parser otherwise defers.
                    dataFrom = tokenStart
                    p.skipChildren()
                    p.finishToken()
                    dataUntil = position
                  case _ => p.skipChildren()
                }
              }
            else { p.skipChildren(); p.finishToken() }
            recordUntil = position
          case _ =>
            if (rest == null) rest = mapper.createObjectNode()
            rest.set[JsonNode](name, mapper.readTree[JsonNode](p))
        }
      }
      types.get(typeName).map {
        case AirbyteMessageType.RECORD => new Record(Option(stream), bytes, dataFrom, dataUntil)
        case t =>
          val payload = mapper.createObjectNode().put("type", typeName)
          if (rest != null) payload.setAll[JsonNode](rest)
          if (recordFrom >= 0)
            payload.set[JsonNode]("record",
              mapper.readTree(bytes, recordFrom, recordUntil - recordFrom))
          Tree(t, payload)
      }
    } catch { case _: Exception => None }
    finally p.close()
  }

  /** The current value when it is a string, else null (after skipping it). */
  private def stringValue(p: JsonParser): String =
    if (p.currentToken == JsonToken.VALUE_STRING) p.getText
    else { p.skipChildren(); null }
}

/** Singer-side messages the engine emits (reference `tap.py:62-77`,
  * fixture shape `tests/fixtures/KPHX.singer`). RECORD lines are not
  * messages here: `SingerSink.recordLines` renders them in bulk.
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

  final case class State(value: JsonNode) extends SingerMessage {
    def toJson: String = {
      val n: ObjectNode = mapper.createObjectNode()
      n.put("type", "STATE")
      n.set[JsonNode]("value", value)
      mapper.writeValueAsString(n)
    }
  }
}
