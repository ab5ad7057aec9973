package graft.state

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class StateStoreSpec extends AnyFunSuite {
  private val m = new ObjectMapper()

  private def streamState(name: String, cursor: String, v: String) =
    m.readTree(s"""{"type":"STREAM","stream":{"stream_descriptor":{"name":"$name"},"stream_state":{"$cursor":"$v"}}}""")

  test("STREAM state upserts by descriptor") {
    val st = new StateStore()
    st.merge(streamState("a", "ts", "1"))
    st.merge(streamState("b", "ts", "2"))
    st.merge(streamState("a", "ts", "3")) // update in place, not append
    val v2 = st.snapshot.get("airbyte_state")
    assert(v2.size() == 2)
    assert(st.bookmark("a", "ts").contains("3"))
    assert(st.bookmark("b", "ts").contains("2"))
  }

  test("GLOBAL state is a singleton upsert") {
    val st = new StateStore()
    st.merge(m.readTree("""{"type":"GLOBAL","global":{"shared_state":{"v":1}}}"""))
    st.merge(m.readTree("""{"type":"GLOBAL","global":{"shared_state":{"v":2}}}"""))
    val v2 = st.snapshot.get("airbyte_state")
    assert(v2.size() == 1)
    assert(v2.get(0).get("global").get("shared_state").get("v").asInt == 2)
  }

  test("LEGACY state clears and replaces the whole list") {
    val st = new StateStore()
    st.merge(streamState("a", "ts", "1"))
    st.merge(m.readTree("""{"type":"LEGACY","legacy":{"bookmarks":{"x":1}}}"""))
    val v2 = st.snapshot.get("airbyte_state")
    assert(v2.size() == 1)
    assert(v2.get(0).get("type").asText == "LEGACY")
  }

  test("unpacked top-level: data field wins over per-type sub-document") {
    val st = new StateStore()
    st.merge(m.readTree(
      """{"type":"STREAM","data":{"legacy_cursor":"42"},
          "stream":{"stream_descriptor":{"name":"a"},"stream_state":{"ts":"9"}}}"""))
    val snap = st.snapshot
    assert(snap.get("legacy_cursor").asText == "42")   // data took precedence
    assert(snap.get("airbyte_state").size() == 1)      // v2 list still updated
  }

  test("without data, STREAM unpacks the stream sub-document at top level") {
    val st = new StateStore()
    st.merge(streamState("a", "ts", "7"))
    assert(st.snapshot.get("stream_descriptor").get("name").asText == "a")
  }

  test("save/load roundtrip preserves bookmarks") {
    val st = new StateStore()
    st.setBookmark("events", "ts", "2024-01-15 00:00:00")
    val p = java.nio.file.Files.createTempDirectory("state").resolve("s.json")
    st.save(p)
    val loaded = StateStore.load(p)
    assert(loaded.bookmark("events", "ts").contains("2024-01-15 00:00:00"))
  }

  test("save to a bare relative file name (no parent) writes it in the working directory") {
    val st = new StateStore()
    st.setBookmark("events", "ts", "7")
    val p = java.nio.file.Paths.get(s"graft-state-${java.util.UUID.randomUUID}.json")
    assert(p.getParent == null)
    try {
      st.save(p)
      assert(StateStore.load(p).bookmark("events", "ts").contains("7"))
    } finally java.nio.file.Files.deleteIfExists(p)
  }

  test("save over an existing file replaces it and leaves no temp file behind") {
    val dir = java.nio.file.Files.createTempDirectory("state")
    val p = dir.resolve("s.json")
    val st = new StateStore()
    st.setBookmark("events", "ts", "1")
    st.save(p)
    st.setBookmark("events", "ts", "2")
    st.save(p)
    assert(StateStore.load(p).bookmark("events", "ts").contains("2"))
    val left = java.nio.file.Files.list(dir)
    try assert(left.toArray.toSeq == Seq(p))
    finally left.close()
  }
}
