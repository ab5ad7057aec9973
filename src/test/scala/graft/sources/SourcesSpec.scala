package graft.sources

import graft.SparkSpec
import graft.catalog.ConfiguredCatalog
import graft.state.StateStore
import graft.sync.SyncEngine
import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.file.Files

class SourcesSpec extends SparkSpec {
  private val m = new ObjectMapper()

  private def eventsSource =
    new FileNativeSource(Seq(FileNativeSource.FileStream(
      "events", "parquet", s"$sf/events.parquet", cursorField = Some("event_id"))))

  test("file-native discover: schemas, cursor, sync modes") {
    val cat = eventsSource.discover(spark)
    assert(cat.streams.map(_.name) == Seq("events"))
    val s = cat.streams.head
    assert(s.cursorField.contains("event_id"))
    assert(s.supportedSyncModes == Seq("full_refresh", "incremental"))
    assert(s.sparkSchema.fieldNames.contains("event_type"))
  }

  test("check passes on readable paths, fails on missing") {
    assert(eventsSource.check(spark))
    val bad = new FileNativeSource(Seq(FileNativeSource.FileStream("x", "parquet", "/nope.parquet")))
    assert(!bad.check(spark))
  }

  test("incremental read applies cursor > bookmark pushdown") {
    val src = eventsSource
    val cat = src.discover(spark)
    val conf = ConfiguredCatalog.configure(cat, _ => true, _ => "INCREMENTAL")
    assert(conf.head.syncMode == "incremental")

    val full = src.read(spark, conf, new StateStore())("events")
    val total = full.count()

    val st = new StateStore()
    st.setBookmark("events", "event_id", "500")
    val inc = src.read(spark, conf, st)("events")
    assert(inc.count() == total - 501) // event_ids are 0..N-1; ids > 500 remain
    assert(inc.agg(org.apache.spark.sql.functions.min("event_id")).head().getLong(0) == 501L)
  }

  test("user csv options override the header/inferSchema defaults") {
    val dir = java.nio.file.Files.createTempDirectory("csvnohdr")
    java.nio.file.Files.writeString(dir.resolve("d.csv"), "1,alpha\n2,beta\n")
    val src = new FileNativeSource(Seq(
      FileNativeSource.FileStream("raw", "csv", dir.toString,
        options = Map("header" -> "false"))))
    val df = src.read(spark,
      graft.catalog.ConfiguredCatalog.configure(src.discover(spark), _ => true),
      new graft.state.StateStore())("raw")
    assert(df.count() == 2) // header=false respected: first line is DATA
  }

  test("sync-mode falls back to the stream's supported mode on mismatch") {
    val noCursor = new FileNativeSource(Seq(FileNativeSource.FileStream(
      "region", "parquet", s"$sf/region.parquet")))
    val conf = ConfiguredCatalog.configure(noCursor.discover(spark), _ => true, _ => "INCREMENTAL")
    assert(conf.head.syncMode == "full_refresh") // requested incremental, only full_refresh supported
  }

  test("SyncEngine end-to-end: full then incremental resume extracts only new rows") {
    val engine = new SyncEngine(eventsSource)
    val state = new StateStore()
    val run1 = engine.sync(spark, _ == "events", _ => "INCREMENTAL", state)
    val n1 = run1("events").count()
    assert(n1 > 0)
    // bookmark committed at max cursor → a re-run extracts nothing new
    val run2 = engine.sync(spark, _ == "events", _ => "INCREMENTAL", state)
    assert(run2("events").count() == 0)
    assert(state.bookmark("events", "event_id").contains((n1 - 1).toString)) // ids 0-based
  }

  test("subprocess source: demux, typed parse, state fold, selection skip") {
    val work = Files.createTempDirectory("subproc")
    // A fake Airbyte connector: emits catalog on discover, records+state on read.
    val script = work.resolve("connector.sh")
    Files.writeString(script,
      """#!/bin/sh
        |case "$1" in
        |  discover)
        |    echo '{"type":"CATALOG","catalog":{"streams":[
        |      {"name":"s1","json_schema":{"type":"object","properties":{"id":{"type":["null","integer"]},"v":{"type":["null","string"]}}},"supported_sync_modes":["full_refresh"]},
        |      {"name":"s2","json_schema":{"type":"object","properties":{"id":{"type":["null","integer"]}}},"supported_sync_modes":["full_refresh"]}]}}' | tr -d '\n'
        |    echo ;;
        |  check)
        |    echo '{"type":"CONNECTION_STATUS","connectionStatus":{"status":"SUCCEEDED"}}' ;;
        |  read)
        |    echo '{"type":"RECORD","record":{"stream":"s1","data":{"id":1,"v":"a"}}}'
        |    echo '{"type":"RECORD","record":{"stream":"s2","data":{"id":9}}}'
        |    echo '{"type":"LOG","log":{"level":"INFO","message":"hi"}}'
        |    echo '{"type":"RECORD","record":{"stream":"s1","data":{"id":2,"v":"b"}}}'
        |    echo '{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"s1"},"stream_state":{"id":"2"}}}}'
        |    echo '{"type":"CONTROL","control":{}}'
        |    ;;
        |esac
        |""".stripMargin)
    script.toFile.setExecutable(true)

    val src = new SubprocessSource(Seq("/bin/sh", script.toString), m.createObjectNode(), work)
    assert(src.check(spark))
    val cat = src.discover(spark)
    assert(cat.streams.map(_.name) == Seq("s1", "s2"))

    // select ONLY s1: s2 records must be skipped (stream-selection pushdown)
    val conf = ConfiguredCatalog.configure(cat, _ == "s1")
    val state = new StateStore()
    val dfs = src.read(spark, conf, state)
    assert(dfs.keySet == Set("s1"))
    val rows = dfs("s1").orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getString(1)).toSeq == Seq("a", "b"))
    assert(state.bookmark("s1", "id").contains("2")) // STATE folded
  }

  test("subprocess source: TRACE ERROR fails fast") {
    val work = Files.createTempDirectory("subproc2")
    val script = work.resolve("bad.sh")
    Files.writeString(script,
      """#!/bin/sh
        |echo '{"type":"TRACE","trace":{"type":"ERROR","error":{"message":"boom"}}}'
        |""".stripMargin)
    script.toFile.setExecutable(true)
    val src = new SubprocessSource(Seq("/bin/sh", script.toString), m.createObjectNode(), work)
    val cat = graft.catalog.AirbyteCatalog.fromJson(
      """{"streams":[{"name":"s1","json_schema":{"type":"object","properties":{"id":{"type":["null","integer"]}}}}]}""")
    val conf = ConfiguredCatalog.configure(cat, _ => true)
    val e = intercept[RuntimeException](src.read(spark, conf, new StateStore()))
    assert(e.getMessage.contains("boom"))
  }

  test("a parquet FileNativeSource read leaves the session conf unchanged") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = Files.createTempDirectory("fileconf")
    spark.range(3).write.parquet(dir.resolve("t.parquet").toString)
    val src = new FileNativeSource(Seq(FileNativeSource.FileStream("t", "parquet", dir.resolve("t.parquet").toString)))
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val conf = ConfiguredCatalog.configure(src.discover(spark), _ => true)
      assert(src.read(spark, conf, new StateStore())("t").count() == 3L)
      assert(spark.conf.get(key) == "false")
    } finally spark.conf.set(key, saved)
  }
}
