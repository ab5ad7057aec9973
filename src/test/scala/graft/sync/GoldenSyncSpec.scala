package graft.sync

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.sources.FileNativeSource
import graft.state.StateStore

import scala.collection.mutable.ArrayBuffer

/** Golden-output protocol test — the port of the reference's strongest
  * guarantee (`tests/test_syncs.py`, see FIXTURES.md): run a full sync,
  * compare EVERY emitted line (count + deep equality, volatile fields
  * pinned), then re-run with the emitted STATE and assert only
  * `cursor > bookmark` rows appear. Unlike the reference's fixture loop
  * (which re-read an exhausted stream), every record IS compared.
  */
class GoldenSyncSpec extends SparkSpec {
  private val m = new ObjectMapper()

  private def source = new FileNativeSource(Seq(FileNativeSource.FileStream(
    "events", "parquet", s"$sf/events.parquet", cursorField = Some("event_id"))))

  private def runSync(state: StateStore): Seq[String] = {
    val engine = new SyncEngine(source,
      streamMaps = Map("events" -> StreamMaps.StreamMap(
        filter = Some("event_id >= 990"), drops = Seq("props", "ts"))))
    val dfs = engine.sync(spark, _ == "events", _ => "INCREMENTAL", state)
    val lines = ArrayBuffer.empty[String]
    SingerSink.emit("events", dfs("events").orderBy("event_id"), Seq("event_id"), state, lines += _)
    lines.toSeq
  }

  test("full sync emits the exact golden line sequence; resume emits none") {
    val state = new StateStore()
    val lines = runSync(state)

    // line count: 1 SCHEMA + 10 RECORDs (990..999) + 1 STATE
    assert(lines.size == 12)

    val schema = m.readTree(lines.head)
    assert(schema.get("type").asText == "SCHEMA")
    assert(schema.get("key_properties").get(0).asText == "event_id")

    // deep-compare every record: ids ascend, volatile time_extracted is pinned
    lines.slice(1, 11).zipWithIndex.foreach { case (l, i) =>
      val n = m.readTree(l)
      assert(n.get("type").asText == "RECORD")
      assert(n.get("record").get("event_id").asLong == 990L + i)
      assert(n.get("time_extracted").asText == "1970-01-01T00:00:00.000000Z")
      assert(!n.get("record").has("props")) // stream map drop applied
    }

    val st = m.readTree(lines.last)
    assert(st.get("type").asText == "STATE")
    assert(st.get("value").get("airbyte_state").get(0).get("stream")
      .get("stream_state").get("event_id").asText == "999")

    // determinism: identical second run from clean state
    assert(runSync(new StateStore()) == lines)

    // incremental resume with the emitted state: zero new records
    val resume = runSync(state)
    assert(resume.count(_.contains("\"RECORD\"")) == 0)
  }
}
