package graft.protocol

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSpec
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.{DataType, DecimalType, StructField, StructType}

/** The streaming [[AirbyteMessage.parse]] against the tree-based parse it
  * replaced, kept here as the reference: every line must give the same
  * message type, the same RECORD stream and the same `from_json` row of
  * `data` (or, for the other types, the same payload tree).
  */
class AirbyteMessageSpec extends SparkSpec {
  import spark.implicits._
  private val m = new ObjectMapper()

  /** What a parse says about one line, in comparable form. */
  private final case class Parsed(
      msgType: String, stream: Option[String], data: Option[String], payload: Option[JsonNode])

  /** The tree-based parse: `readTree` of the trimmed line, a linear type
    * lookup, and a RECORD's `data` subtree re-serialized.
    */
  private def reference(line: String): Option[Parsed] = {
    val trimmed = line.trim
    if (trimmed.isEmpty || !trimmed.startsWith("{")) return None
    try {
      val node = m.readTree(trimmed)
      Option(node.get("type")).flatMap(t => AirbyteMessageType.values.find(_.toString == t.asText)).map {
        case AirbyteMessageType.RECORD =>
          val rec = Option(node.get("record"))
          Parsed("RECORD",
            rec.flatMap(r => Option(r.get("stream"))).map(_.asText),
            rec.flatMap(r => Option(r.get("data"))).map(m.writeValueAsString),
            None)
        case t => Parsed(t.toString, None, None, Some(node))
      }
    } catch { case _: Exception => None }
  }

  private def streaming(line: String): Option[Parsed] =
    AirbyteMessage.parse(line).map {
      case AirbyteMessage.Record(stream, data) => Parsed("RECORD", stream, data, None)
      case t: AirbyteMessage.Tree             => Parsed(t.msgType.toString, None, None, Some(t.payload))
    }

  private val schema = DataType.fromDDL(
    "a BIGINT, s STRING, q STRING, u STRING, o STRUCT<x: BIGINT, y: ARRAY<BIGINT>>, " +
      "arr ARRAY<STRUCT<k: STRING>>").asInstanceOf[StructType]

  private def rec(body: String) = s"""{"type":"RECORD","record":{$body}}"""

  /** (case, line, whether the raw `data` text equals the re-serialized one). */
  private val table: Seq[(String, String, Boolean)] = Seq(
    ("flat record", rec(""""stream":"s","data":{"a":1,"s":"x"},"emitted_at":1"""), true),
    ("data before stream, type after record",
      """{"record":{"data":{"a":2,"s":"y"},"stream":"s","emitted_at":5},"type":"RECORD"}""", true),
    ("nested objects and arrays",
      rec(""""stream":"s","data":{"o":{"x":3,"y":[1,2,3]},"arr":[{"k":"v"},{"k":"w"}]}"""), true),
    ("braces and escaped quotes inside strings",
      rec(""""stream":"s{\"}","data":{"s":"a}b{c\"d\\","q":"[\"]{"}"""), true),
    ("\\u escapes and raw non-ASCII", rec("\"stream\":\"s\\u00e9\",\"data\":{\"s\":\"caf\\u00e9 \\ud83d\\ude00\"," +
      "\"u\":\"naïve 日本 😀\"}"), false),
    ("data null", rec(""""stream":"s","data":null"""), true),
    ("data an array", rec(""""stream":"s","data": [ {"a":1} , 2 ] """), false),
    ("data a number", rec(""""stream":"s","data":42"""), true),
    ("data a string", rec("\"stream\":\"s\",\"data\":\"text \\\"q\\\"\""), true),
    ("data a boolean", rec(""""stream":"s","data":true"""), true),
    ("missing stream", rec(""""data":{"a":1}"""), true),
    ("missing data", rec(""""stream":"s""""), true),
    ("record not an object", """{"type":"RECORD","record":5}""", true),
    ("duplicate keys in data and record",
      rec(""""stream":"a","data":{"a":1,"a":2},"stream":"b","data":{"a":3,"s":"z"}"""), true),
    ("duplicate keys inside data", rec(""""stream":"s","data":{"a":3,"a":4}"""), false),
    ("duplicate record keys", """{"type":"RECORD","record":{"stream":"a","data":{"a":1}},"record":{"data":{"a":2}}}""", true),
    ("duplicate type keys", """{"type":"STATE","type":"RECORD","record":{"stream":"s","data":{"a":7}}}""", true),
    ("leading and trailing whitespace", " \t " + rec(""""stream":"s","data":{"a":8}""") + "  ", true),
    ("text after the object", rec(""""stream":"s","data":{"a":9}""") + " trailing", true),
    ("whitespace inside the envelope",
      """{ "type" : "RECORD" , "record" : { "stream" : "s" , "data" : {"a":10} } }""", true),
    ("truncated line", """{"type":"RECORD","record":{"stream":"s","data":{"a":1""", true),
    ("non-JSON noise", "starting connector...", true),
    ("a JSON array", """[{"type":"RECORD"}]""", true),
    ("broken JSON", """{type: RECORD}""", true),
    ("blank line", "   ", true),
    ("unknown type", """{"type":"FOO","record":{"stream":"s","data":{}}}""", true),
    ("missing type", """{"record":{"stream":"s","data":{"a":1}}}""", true),
    ("non-string type", """{"type":1,"record":{"stream":"s","data":{"a":1}}}""", true),
    ("STATE", """{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"s"},"stream_state":{"c":"2024"}}}}""", true),
    ("STATE with a record field", """{"record":{"stream":"s","data":[1]},"type":"STATE","state":{"data":{}}}""", true),
    ("LOG", """{"type":"LOG","log":{"level":"INFO","message":"read {1} \"rows\""}}""", true),
    ("TRACE", """{"type":"TRACE","trace":{"type":"ERROR","error":{"message":"boom"},"emitted_at":1.5}}""", true),
    ("CATALOG", """{"type":"CATALOG","catalog":{"streams":[{"name":"s","json_schema":{}}]}}""", true),
    ("SPEC", """{"type":"SPEC","spec":{"connectionSpecification":{}}}""", true),
    ("CONNECTION_STATUS", """{"type":"CONNECTION_STATUS","connectionStatus":{"status":"SUCCEEDED"}}""", true),
    ("CONTROL", """{"type":"CONTROL","control":{"type":"CONNECTOR_CONFIG"}}""", true))

  test("streaming parse agrees with the tree-based reference on every line") {
    val pairs = table.map { case (name, line, _) => (name, streaming(line), reference(line)) }
    pairs.foreach { case (name, mine, ref) =>
      assert(mine.map(_.msgType) == ref.map(_.msgType), s"$name: message type")
      assert(mine.map(_.stream) == ref.map(_.stream), s"$name: stream")
      assert(mine.map(_.data.isDefined) == ref.map(_.data.isDefined), s"$name: data presence")
      assert(mine.map(_.payload) == ref.map(_.payload), s"$name: payload tree")
    }
    // Every case of the table that should parse does, so the row check
    // below is not vacuous.
    assert(pairs.count(_._2.exists(_.msgType == "RECORD")) == 20)
    assert(pairs.count(_._2.exists(_.msgType != "RECORD")) == 8)

    val texts = pairs.zipWithIndex.collect { case ((name, Some(mine), Some(ref)), i) =>
      (i, name, mine.data.orNull, ref.data.orNull)
    }
    val rows = texts.toDF("i", "name", "mine", "ref")
      .select(col("i"), col("name"),
        from_json(col("mine"), schema).as("mine"), from_json(col("ref"), schema).as("ref"))
      .orderBy("i").collect()
    assert(rows.length == texts.size)
    rows.foreach(r => assert(r.get(2) == r.get(3), s"${r.getString(1)}: from_json row"))
    assert(rows.exists(r => r.getString(1) == "nested objects and arrays" && r.getStruct(2).getStruct(4) != null))
  }

  test("raw data text is the connector's own bytes, equal to the re-serialized text when compact") {
    table.foreach { case (name, line, same) =>
      val mine = streaming(line).flatMap(_.data)
      val ref = reference(line).flatMap(_.data)
      if (same) assert(mine == ref, s"$name: raw text")
      else assert(mine != ref && mine.isDefined, s"$name: expected a different raw text")
    }
    assert(streaming(rec(""""stream":"s","data": [ {"a":1} , 2 ] """)).flatMap(_.data)
      .contains("""[ {"a":1} , 2 ]"""))
    assert(streaming(rec("\"stream\":\"s\",\"data\":\"q\\u00e9\""))
      .flatMap(_.data).contains("\"q\\u00e9\""))
  }

  test("raw data keeps decimal digits the tree path rounded through a double") {
    val line = rec(""""stream":"s","data":{"d":1.0000000000000001}""")
    val dec = StructType(Seq(StructField("d", DecimalType(20, 16))))
    val r = Seq((streaming(line).get.data.get, reference(line).get.data.get)).toDF("mine", "ref")
      .select(from_json(col("mine"), dec).getField("d"), from_json(col("ref"), dec).getField("d"))
      .head()
    assert(r.getDecimal(0).toPlainString == "1.0000000000000001")
    assert(r.getDecimal(1).toPlainString == "1.0000000000000000")
  }

  test("every message type name resolves to its type") {
    AirbyteMessageType.values.foreach { t =>
      assert(AirbyteMessage.parse(s"""{"type":"$t"}""").map(_.msgType).contains(t))
    }
  }
}
