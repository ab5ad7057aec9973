package graft.streaming

import graft.SparkSpec
import graft.catalog.ConfiguredCatalog
import graft.sources.SubprocessSource
import graft.state.StateStore
import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.file.Files

/** End-to-end reference topology as one pipeline: a connector child
  * process (Airbyte protocol on stdout) demuxes into per-stream spill
  * JSONL, and Structured Streaming incrementally syncs the landing dir to
  * parquet with checkpoints + bookmarks — connector → demux → stream →
  * sink, the full sync loop of reference tap.py:781-902 with Spark owning
  * the backpressure and exactly-once batches.
  */
class ConnectorStreamingSpec extends SparkSpec {

  private def fakeConnector(dir: java.nio.file.Path, ids: Range): Seq[String] = {
    val script = dir.resolve("conn.sh")
    val catalog =
      """{"streams":[{"name":"s1","json_schema":{"type":"object","properties":
        |{"id":{"type":["null","integer"]},"v":{"type":["null","string"]}}},
        |"supported_sync_modes":["full_refresh"]}]}""".stripMargin.replaceAll("\n", "")
    val lines = Seq(
      "#!/bin/sh",
      s"""if [ "$$1" = "discover" ]; then echo '{"type":"CATALOG","catalog":$catalog}'; exit 0; fi""") ++
      ids.map(i =>
        s"""echo '{"type":"RECORD","record":{"stream":"s1","data":{"id":$i,"v":"r$i"}}}'""") :+
      """echo '{"type":"STATE","state":{"type":"LEGACY","data":{"s1":{"id":"done"}}}}'"""
    Files.writeString(script, lines.mkString("\n") + "\n")
    script.toFile.setExecutable(true)
    Seq("/bin/sh", script.toString)
  }

  test("connector spill feeds a checkpointed streaming sync with bookmarks") {
    val work = Files.createTempDirectory("connstream")
    val src = new SubprocessSource(fakeConnector(work, 1 to 8),
      new ObjectMapper().createObjectNode(), work)

    // batch demux: connector stdout → per-stream spill JSONL
    val cat = src.discover(spark)
    assert(cat.streams.map(_.name) == Seq("s1"))
    val state = new StateStore()
    val dfs = src.read(spark, ConfiguredCatalog.configure(cat, _ => true), state)
    assert(dfs("s1").count() == 8)

    // the spill dir IS a streaming landing dir: readStream it with the
    // DISCOVERED schema and sync incrementally
    val landing = work.resolve("spill").toString
    val out = Files.createTempDirectory("connout").toString
    val ckpt = Files.createTempDirectory("connckpt").toString
    val q = StreamingSync.syncToParquet(
      StreamingSync.readJsonlStream(spark, s"$landing/*.jsonl", cat.streams.head.sparkSchema),
      "s1", out, ckpt, Some("id"), state)
    q.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 8)
    assert(state.bookmark("s1", "id").contains("8"))

    // a second connector run appends to the landing dir; the SAME
    // checkpoint resumes and reads only the new file
    val work2 = Files.createTempDirectory("connstream2")
    val src2 = new SubprocessSource(fakeConnector(work2, 9 to 12),
      new ObjectMapper().createObjectNode(), work2)
    src2.read(spark, ConfiguredCatalog.configure(src2.discover(spark), _ => true), state)
    val spill2 = SubprocessSource.spillFile(work2, 0) // s1, the only configured stream
    Files.copy(spill2, java.nio.file.Paths.get(landing, "s1_seg2.jsonl"))
    val q2 = StreamingSync.syncToParquet(
      StreamingSync.readJsonlStream(spark, s"$landing/*.jsonl", cat.streams.head.sparkSchema),
      "s1", out, ckpt, Some("id"), state)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 12) // no re-read of batch 1
    assert(state.bookmark("s1", "id").contains("12"))
  }
}
