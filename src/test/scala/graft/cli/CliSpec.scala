package graft.cli

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.sources.FileNativeSource

class CliSpec extends SparkSpec {
  private val m = new ObjectMapper()

  test("buildSource: file config with cursor, options, primary keys") {
    val cfg = m.readTree(
      s"""{"source":{"type":"file","streams":[
            {"name":"events","format":"parquet","path":"$sf/events.parquet",
             "cursor_field":"event_id","primary_key":["event_id"]}]}}""")
    val src = Main.buildSource(cfg).asInstanceOf[FileNativeSource]
    val cat = src.discover(spark)
    assert(cat.streams.head.cursorField.contains("event_id"))
    assert(cat.streams.head.primaryKeys == Seq("event_id"))
  }

  test("catalogJson: Singer catalog shape with replication_key") {
    val cfg = m.readTree(
      s"""{"source":{"type":"file","streams":[
            {"name":"events","format":"parquet","path":"$sf/events.parquet",
             "cursor_field":"event_id"}]}}""")
    val json = Main.catalogJson(spark, Main.buildSource(cfg))
    val cat = m.readTree(json)
    val s = cat.get("streams").get(0)
    assert(s.get("tap_stream_id").asText == "events")
    assert(s.get("replication_key").asText == "event_id")
    assert(s.get("schema").get("properties").has("event_type"))
  }

  test("configFromEnv: GRAFT_-prefixed vars assemble a config (--config ENV)") {
    val cfg = Main.configFromEnv(Map(
      "GRAFT_SOURCE" -> s"""{"type":"file","streams":[{"name":"nation","format":"parquet","path":"$sf/nation.parquet"}]}""",
      "GRAFT_SELECT" -> """["nation"]""",
      "GRAFT_FLATTENING_MAX_DEPTH" -> "2",
      "PATH" -> "/usr/bin"))
    assert(cfg.get("source").get("type").asText == "file")
    assert(cfg.get("select").get(0).asText == "nation")
    assert(cfg.get("flattening_max_depth").asInt == 2)
    assert(!cfg.has("path")) // non-GRAFT vars ignored
    // a value that merely STARTS with a JSON token stays a string
    val cfg2 = Main.configFromEnv(Map(
      "GRAFT_ADDRESS" -> "123 Main St", "GRAFT_NOTE" -> "true false"))
    assert(cfg2.get("address").isTextual && cfg2.get("address").asText == "123 Main St")
    assert(cfg2.get("note").isTextual && cfg2.get("note").asText == "true false")
    val src = Main.buildSource(cfg).asInstanceOf[FileNativeSource]
    assert(src.discover(spark).streams.map(_.name) == Seq("nation"))
  }

  test("configScaffold: --about template lists every spec property with requiredness") {
    val spec = m.readTree(
      """{"connectionSpecification":{"type":"object","required":["host"],
           "properties":{
             "host":{"type":"string","description":"server host"},
             "port":{"type":"integer","default":5432},
             "ssl":{"type":["null","boolean"]}}}}""")
    val scaffold = Main.configScaffold(spec)
    assert(scaffold.contains(""""host": "..."""") && scaffold.contains("required"))
    assert(scaffold.contains(""""port": 5432"""))
    assert(scaffold.contains(""""ssl": false""") && scaffold.contains("optional"))
    assert(scaffold.contains("server host"))
  }

  test("SingerCatalogDoc: stream + field selection from catalog metadata") {
    val doc =
      """{"streams":[
           {"tap_stream_id":"events","metadata":[
              {"breadcrumb":[],"metadata":{"selected":true,"replication-method":"INCREMENTAL"}},
              {"breadcrumb":["properties","props"],"metadata":{"selected":false}},
              {"breadcrumb":["properties","event_id"],"metadata":{"selected":false,"inclusion":"automatic"}}]},
           {"tap_stream_id":"skipped","metadata":[
              {"breadcrumb":[],"metadata":{"selected":false}}]},
           {"tap_stream_id":"by_default","metadata":[
              {"breadcrumb":[],"metadata":{"selected-by-default":true}}]}]}"""
    val sel = graft.catalog.SingerCatalogDoc.parse(doc)
    assert(sel.selects("events") && !sel.selects("skipped") && sel.selects("by_default"))
    assert(sel.selects("not_in_doc")) // document scopes only what it mentions
    assert(sel.fieldDrops("events") == Seq("props")) // automatic field kept
    assert(sel.replicationMethod("events") == "INCREMENTAL")
  }

  test("writeParquetCounted: the count rides the write job — ONE pass") {
    import org.apache.spark.sql.functions._
    val acc = spark.sparkContext.longAccumulator("scan_probe")
    val probe = udf { (x: Long) => acc.add(1); true }
    val df = spark.range(0, 1234).toDF("id").filter(probe(col("id")))
    val dir = java.nio.file.Files.createTempDirectory("sync_obs").toString
    val (name, n) = Main.writeParquetCounted("s1", df, dir)
    assert(name == "s1" && n == 1234L)
    assert(spark.read.parquet(s"$dir/s1").count() == 1234L)
    // a count() after the write would have driven a SECOND scan and
    // doubled the accumulator — the observe-based count must not
    assert(acc.value == 1234L, s"stream was computed ${acc.value / 1234.0}x")
  }

  test("emitSinger: a stream's count is its RECORD lines, even with a column named RECORD") {
    import spark.implicits._
    val state = new graft.state.StateStore()
    state.setBookmark("events", "RECORD", "2")
    val events = Seq((1L, "a"), (2L, "b")).toDF("RECORD", "name")
    val nation = Seq(7L).toDF("n_nationkey")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val counts = Main.emitSinger(Seq("events" -> events, "nation" -> nation),
      _ => Seq("RECORD"), state, lines += _)
    // SCHEMA and STATE lines mention "RECORD" (column, key, bookmark)
    assert(lines.count(l => !l.startsWith("{\"type\":\"RECORD\"") && l.contains("\"RECORD\"")) == 4)
    assert(counts == Seq("events" -> 2L, "nation" -> 1L))
  }

  test("sync: a connector stream's Singer stdout keeps an explicit null") {
    val dir = java.nio.file.Files.createTempDirectory("cli_null")
    val script = dir.resolve("connector.sh")
    java.nio.file.Files.writeString(script,
      """#!/bin/sh
        |case "$1" in
        |  discover) echo '{"type":"CATALOG","catalog":{"streams":[{"name":"s","json_schema":{"type":"object","properties":{"id":{"type":["null","integer"]},"v":{"type":["null","string"]}}},"supported_sync_modes":["full_refresh"]}]}}' ;;
        |  read) echo '{"type":"RECORD","record":{"stream":"s","data":{"id":1,"v":null}}}' ;;
        |esac
        |""".stripMargin)
    val cfg = m.readTree(s"""{"source":{"type":"subprocess","command":["/bin/sh","$script"]}}""")
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(stdout, true, "UTF-8")) {
      Main.sync(spark, Main.buildSource(cfg), cfg, Map.empty)
    }
    val records = stdout.toString("UTF-8").split("\n").filter(_.startsWith(graft.sync.SingerSink.RecordPrefix))
    assert(records.toSeq == Seq(graft.sync.SingerSink.RecordPrefix +
      s""","stream":"s","record":{"id":1,"v":null},"time_extracted":"${graft.sync.SingerSink.TimeExtracted}"}"""))
  }
}
