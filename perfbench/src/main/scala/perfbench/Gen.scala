package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.ZoneOffset
import scala.util.Random

/** Seeded input generator for the sync workload. The base rows are the
  * testdata `events` table shipped in `perfbench/data`; the seed only
  * perturbs values. Sizes depend on the workload alone, so generation
  * costs the same on every seed.
  */
object Gen {

  /** One stream of the connector output: rows in `schema`, keyed by the
    * long `cursor` column, which is also the primary key. */
  final case class StreamData(name: String, schema: StructType, cursor: String, rows: IndexedSeq[Row]) {
    private val ci = schema.fieldIndex(cursor)
    def maxCursor: String = rows.map(_.getLong(ci)).max.toString
  }

  private def field(n: String, t: DataType) = StructField(n, t, nullable = true)

  /** `events` as an Airbyte stream carries its timestamp as an ISO string. */
  val eventsSchema: StructType = StructType(Seq(field("event_id", LongType), field("ts", StringType),
    field("user_id", LongType), field("event_type", StringType), field("value", DoubleType),
    field("props", StringType)))

  /** The testdata `events` rows in [[eventsSchema]], ordered by id. */
  def events(spark: SparkSession, dataDir: String): IndexedSeq[Row] =
    graft.Tables.events(spark, dataDir).orderBy("event_id").collect().toIndexedSeq.map { r =>
      val ts = Option(r.getAs[java.sql.Timestamp]("ts"))
        .map(_.toInstant.atOffset(ZoneOffset.UTC).toLocalDateTime.toString).orNull
      Row(r.getAs[Long]("event_id"), ts, r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Any]("value"), r.getAs[String]("props"))
    }

  /** The `sync_flat_singer` stream: `copies` copies of the base rows, ids
    * shifted so every copy owns its own range, each `value` moved by a
    * seeded 0 to 99 cents. */
  def flatStream(base: IndexedSeq[Row], seed: Long, copies: Int): StreamData = {
    val r = new Random(seed)
    val span = base.map(_.getLong(0)).max + 1
    val rows = for (k <- 0 until copies; b <- base) yield {
      val v = b.get(4) match {
        case d: Double => math.rint(d * 100 + r.nextInt(100)) / 100
        case null => null
      }
      Row(b.getLong(0) + k * span, b.get(1), b.get(2), b.get(3), v, b.get(5))
    }
    StreamData("events", eventsSchema, "event_id", rows)
  }

  // ------------------------------------------------------ Airbyte output

  def jsonString(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** A flat row as a JSON object, in schema field order. */
  def json(row: Row, st: StructType): String =
    st.fields.indices.map { i =>
      val v = row.get(i) match {
        case null => "null"
        case s: String => jsonString(s)
        case x => x.toString
      }
      s"${jsonString(st.fields(i).name)}:$v"
    }.mkString("{", ",", "}")

  /** JSON Schema of a flat stream, nullable by union as Airbyte discovery emits it. */
  def jsonSchema(st: StructType): String = st.fields.map { f =>
    val t = f.dataType match {
      case LongType => "integer"
      case DoubleType => "number"
      case _ => "string"
    }
    s"""${jsonString(f.name)}:{"type":["null","$t"]}"""
  }.mkString("""{"type":["null","object"],"properties":{""", ",", "}}")

  def catalogMessage(s: StreamData): String =
    s"""{"type":"CATALOG","catalog":{"streams":[{"name":${jsonString(s.name)},"json_schema":${jsonSchema(s.schema)},""" +
      s""""supported_sync_modes":["full_refresh","incremental"],"source_defined_cursor":true,""" +
      s""""default_cursor_field":[${jsonString(s.cursor)}],"source_defined_primary_key":[[${jsonString(s.cursor)}]]}]}}"""

  def stateMessage(stream: String, cursor: String, value: Long): String =
    s"""{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":${jsonString(stream)}},""" +
      s""""stream_state":{${jsonString(cursor)}:$value}}}}"""

  /** The stream's RECORD lines, with a STREAM STATE after every
    * `stateEvery` records and after the last one. */
  def writeAirbyte(path: Path, s: StreamData, stateEvery: Int): Unit = {
    val w = Files.newBufferedWriter(path, UTF_8)
    val ci = s.schema.fieldIndex(s.cursor)
    val head = s"""{"type":"RECORD","record":{"stream":${jsonString(s.name)},"data":"""
    try s.rows.zipWithIndex.foreach { case (row, i) =>
      w.write(head); w.write(json(row, s.schema)); w.write(""","emitted_at":1704067200000}}"""); w.newLine()
      if ((i + 1) % stateEvery == 0 || i + 1 == s.rows.size) {
        w.write(stateMessage(s.name, s.cursor, row.getLong(ci))); w.newLine()
      }
    } finally w.close()
  }

  /** A connector that replays pre-generated files: `discover` prints the
    * catalog, `read` the stream. Every spawn appends one line to `spawns`.
    * It writes nothing to stderr. */
  def writeConnector(dir: Path, s: StreamData, stateEvery: Int): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("spec.jsonl"),
      """{"type":"SPEC","spec":{"connectionSpecification":{"type":"object","properties":{}}}}""" + "\n")
    Files.writeString(dir.resolve("check.jsonl"),
      """{"type":"CONNECTION_STATUS","connectionStatus":{"status":"SUCCEEDED"}}""" + "\n")
    Files.writeString(dir.resolve("catalog.jsonl"), catalogMessage(s) + "\n")
    writeAirbyte(dir.resolve("full.jsonl"), s, stateEvery)
    val script = dir.resolve("connector.sh")
    Files.writeString(script,
      """#!/bin/sh
        |d=$(dirname "$0")
        |echo 1 >> "$d/spawns"
        |case "$1" in
        |  spec) exec cat "$d/spec.jsonl" ;;
        |  check) exec cat "$d/check.jsonl" ;;
        |  discover) exec cat "$d/catalog.jsonl" ;;
        |  read) exec cat "$d/full.jsonl" ;;
        |esac
        |exit 2
        |""".stripMargin)
    script.toFile.setExecutable(true)
  }

  def spawns(dir: Path): Long = {
    val f = dir.resolve("spawns")
    if (Files.exists(f)) Files.readAllLines(f).size.toLong else 0L
  }
}
