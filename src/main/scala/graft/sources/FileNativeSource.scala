package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.catalog.{AirbyteCatalog, ConfiguredCatalog, StreamMeta}
import graft.schema.JsonSchemaConverter
import graft.state.StateStore

/** File-native source: streams backed by files Spark reads directly
  * (parquet / csv / json / orc). The analog of the reference's
  * `airbyte/source-file` path (reference `tests/test_syncs.py:22-74` syncs a
  * CSV through a connector container); here the scan is a first-class Spark
  * read — distributed, columnar, predicate-pushdown-capable — instead of a
  * single subprocess pipe.
  *
  * @param streams stream name → (format, path, options, cursorField, pks).
  */
final class FileNativeSource(streams: Seq[FileNativeSource.FileStream]) extends AirbyteSource {

  private val mapper = new ObjectMapper()

  override def spec: JsonNode = mapper.readTree(
    """{
      "documentationUrl": "https://spark.apache.org/docs/latest/sql-data-sources.html",
      "connectionSpecification": {
        "type": "object",
        "required": ["streams"],
        "properties": {
          "streams": {
            "type": "array",
            "items": {
              "type": "object",
              "required": ["name", "format", "path"],
              "properties": {
                "name":   {"type": "string"},
                "format": {"type": "string", "enum": ["parquet", "csv", "json", "orc"]},
                "path":   {"type": "string"},
                "options": {"type": "object"},
                "cursor_field": {"type": ["null", "string"]},
                "primary_key":  {"type": "array", "items": {"type": "string"}}
              }
            }
          }
        }
      }
    }""")

  /** Probe: every declared path must load (schema-only — no data scan). */
  override def check(spark: SparkSession): Boolean =
    try { streams.foreach(s => reader(spark, s).schema); true }
    catch { case _: Exception => false }

  override def discover(spark: SparkSession): AirbyteCatalog =
    AirbyteCatalog(streams.map { s =>
      val schema = reader(spark, s).schema
      StreamMeta(
        name = s.name,
        jsonSchema = JsonSchemaConverter.toJsonSchemaNode(schema),
        supportedSyncModes =
          if (s.cursorField.isDefined) Seq("full_refresh", "incremental") else Seq("full_refresh"),
        cursorField = s.cursorField,
        primaryKeys = s.primaryKeys)
    })

  override def read(
      spark: SparkSession,
      configured: Seq[ConfiguredCatalog.Entry],
      state: StateStore): Map[String, DataFrame] =
    configured.map { entry =>
      val fs = streams.find(_.name == entry.stream.name).getOrElse(
        throw new IllegalArgumentException(s"unknown stream ${entry.stream.name}"))
      var df = reader(spark, fs)
      // Incremental pushdown: cursor > bookmark becomes a scan-level filter
      // (Catalyst pushes it into the parquet reader — the Spark analog of
      // shipping `--state` to the connector, reference tap.py:592-611).
      if (entry.syncMode == "incremental") {
        for {
          cursor <- fs.cursorField
          bm <- state.bookmark(fs.name, cursor)
        } df = df.filter(col(cursor) > lit(bm).cast(df.schema(cursor).dataType))
      }
      entry.stream.name -> df
    }.toMap

  private def reader(spark: SparkSession, s: FileNativeSource.FileStream): DataFrame =
    s.format match {
      // INT64 TIMESTAMP(NANOS) columns read as raw ns-epoch longs (the
      // graft.Sessions policy), which serialize losslessly through the
      // Singer path.
      case "parquet" => spark.read.options(s.options).parquet(s.path)
      case "csv" =>
        // defaults FIRST so user options override them (header=false works)
        spark.read.option("header", "true").option("inferSchema", "true")
          .options(s.options).csv(s.path)
      case "json"  => spark.read.options(s.options).json(s.path)
      case "orc"   => spark.read.options(s.options).orc(s.path)
      case other   => throw new IllegalArgumentException(s"unsupported format $other")
    }
}

object FileNativeSource {
  final case class FileStream(
      name: String,
      format: String,
      path: String,
      options: Map[String, String] = Map.empty,
      cursorField: Option[String] = None,
      primaryKeys: Seq[String] = Seq.empty)

  /** Convenience: one source over a testdata directory of parquet tables. */
  def parquetDir(dir: String, tables: Seq[String], cursors: Map[String, String] = Map.empty)
      : FileNativeSource =
    new FileNativeSource(tables.map(t =>
      FileStream(t, "parquet", s"$dir/$t.parquet", cursorField = cursors.get(t))))
}
