package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkSpec
import graft.state.StateStore
import graft.sync.{SingerSink, SyncEngine}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The full subprocess lifecycle against a REAL child process carrying
  * the KPHX payload — the end-to-end case the reference exercises with
  * a docker-mounted `airbyte/source-file` (`tests/test_syncs.py:177-235`),
  * here driven through a mock connector binary speaking the Airbyte
  * protocol on stdout (no docker daemon in this environment; the argv
  * construction for the real mount is covered by CliSpec/CommandBuilder).
  *
  * One spec, the whole `run_read` contract (`tap.py:584-642`):
  * discover → catalog parse → `read --config --catalog` under a real
  * ProcessBuilder → stdout demux (RECORD spill, STATE fold, LOG skip)
  * → EOF + returncode check → typed DataFrames → Singer emission — and
  * the output is graded line-for-line against the reference's own
  * `KPHX.singer` golden (records deep-equal with volatile
  * `time_extracted` popped, the reference's comparison), so drift in
  * demux routing, value rendering, record order, or EOF handling all
  * fail loudly. The mid-stream Airbyte STATE message makes the final
  * Singer STATE line carry the FOLDED composite (stronger than the
  * reference's empty-state tail — state-merge drift fails too).
  */
class MockConnectorE2eSpec extends SparkSpec with TimeLimits {
  private val m = new ObjectMapper()
  private val singerPath = "/root/reference/tests/fixtures/KPHX.singer"

  /** Column type from the golden values themselves: Spark CSV inference
    * typed each column before the golden was rendered, so integral
    * rendering (109, no '.') across every row ⟺ integer column.
    */
  private def declaredType(records: Seq[JsonNode], field: String): String = {
    val vals = records.flatMap(r => Option(r.get(field))).filterNot(_.isNull)
    if (vals.exists(_.isTextual)) "string"
    else if (vals.exists(v => v.isFloatingPointNumber || v.asText.contains("."))) "number"
    else "integer"
  }

  private def writeMock(dir: Path, catalogLine: String, messages: Seq[String]): Seq[String] = {
    val catalogFile = dir.resolve("catalog_msg.jsonl")
    Files.writeString(catalogFile, catalogLine + "\n")
    val msgFile = dir.resolve("messages.jsonl")
    Files.writeString(msgFile, messages.mkString("", "\n", "\n"))
    val script = dir.resolve("connector.sh")
    Files.writeString(script,
      s"""#!/bin/sh
         |case "$$1" in
         |  spec) echo '{"type":"SPEC","spec":{"connectionSpecification":{}}}' ;;
         |  check) echo '{"type":"CONNECTION_STATUS","connectionStatus":{"status":"SUCCEEDED"}}' ;;
         |  discover) cat '$catalogFile' ;;
         |  read) cat '$msgFile' ;;
         |esac
         |""".stripMargin)
    script.toFile.setExecutable(true)
    Seq("/bin/sh", script.toString)
  }

  test("mock connector subprocess replays the KPHX golden end-to-end") {
    assume(Files.exists(Paths.get(singerPath)))
    val golden = Files.readAllLines(Paths.get(singerPath)).asScala.toSeq
    val parsedGold = golden.map(m.readTree)
    val goldData = parsedGold.filter(_.get("type").asText == "RECORD").map(_.get("record"))
    assert(goldData.size == 365)

    // Catalog from the golden's own value shapes (field order = golden's
    // sorted-keys order, so to_json renders records key-identically).
    val fields = goldData.head.fieldNames.asScala.toSeq
    val props = m.createObjectNode()
    fields.foreach { f =>
      val t = props.putObject(f).putArray("type")
      t.add(declaredType(goldData, f)); t.add("null")
    }
    val catalogMsg = {
      val n = m.createObjectNode()
      n.put("type", "CATALOG")
      val s = n.putObject("catalog").putArray("streams").addObject()
      s.put("name", "test")
      val js = s.putObject("json_schema")
      js.put("type", "object"); js.set[JsonNode]("properties", props)
      s.putArray("supported_sync_modes").add("full_refresh")
      m.writeValueAsString(n)
    }

    // Airbyte message stream: LOG noise + 365 RECORDs in golden order +
    // one mid-stream STREAM state.
    val stateMsg = m.readTree(
      """{"type":"STATE","state":{"type":"STREAM","stream":{
        |"stream_descriptor":{"name":"test"},"stream_state":{"rows":365}}}}""".stripMargin)
    val messages =
      Seq("""{"type":"LOG","log":{"level":"INFO","message":"starting"}}""") ++
        goldData.map { d =>
          val n = m.createObjectNode()
          n.put("type", "RECORD")
          val r = n.putObject("record")
          r.put("stream", "test"); r.set[JsonNode]("data", d.deepCopy[JsonNode]())
          m.writeValueAsString(n)
        } ++ Seq(m.writeValueAsString(stateMsg))

    val dir = Files.createTempDirectory("mockconn")
    val cmd = writeMock(dir, catalogMsg, messages)
    val source = new SubprocessSource(cmd, m.createObjectNode(), dir.resolve("work"))

    assert(source.check(spark), "mock connector must pass the connection check")

    val state = new StateStore()
    val dfs = new SyncEngine(source).sync(spark, _ == "test", _ => "FULL_TABLE", state)
    val lines = ArrayBuffer.empty[String]
    // coalesce(1): record order is spill-file order (= connector stdout
    // order = golden order); one partition pins the read to it.
    SingerSink.emit("test", dfs("test").coalesce(1), Seq.empty, state, lines += _)

    assert(lines.size == golden.size, s"expected ${golden.size} lines, got ${lines.size}")
    def scrub(n: JsonNode): JsonNode = {
      n match { case o: ObjectNode => o.remove("time_extracted"); case _ => }
      n
    }
    val parsedMine = lines.map(l => scrub(m.readTree(l)))
    val goldScrubbed = golden.map(l => scrub(m.readTree(l)))

    // RECORDs: the reference's deep-equality loop over the whole envelope.
    (1 until golden.size - 1).foreach { i =>
      assert(parsedMine(i) == goldScrubbed(i),
        s"line $i diverges:\n  golden: ${goldScrubbed(i)}\n  mine:   ${parsedMine(i)}")
    }

    // SCHEMA: structural parity (KphxGoldenSpec discipline) — golden
    // declares all numerics `number`; ours refines int columns to integer.
    val (sMine, sGold) = (parsedMine.head, goldScrubbed.head)
    assert(sMine.get("type").asText == "SCHEMA" && sMine.get("stream").asText == sGold.get("stream").asText)
    assert(sMine.get("schema").get("properties").fieldNames.asScala.toSet ==
      sGold.get("schema").get("properties").fieldNames.asScala.toSet)

    // Final STATE: the FOLDED mid-stream Airbyte state (not the golden's
    // empty tail) — legacy-unpacked stream doc + V2 airbyte_state list.
    val st = parsedMine.last
    assert(st.get("type").asText == "STATE")
    val v = st.get("value")
    assert(v.get("stream_state").get("rows").asLong == 365L,
      s"legacy-unpacked state missing: $v")
    val v2 = v.get("airbyte_state")
    assert(v2 != null && v2.size == 1 &&
      v2.get(0).get("stream").get("stream_state").get("rows").asLong == 365L,
      s"V2 state list missing: $v")
  }

  test("mid-stream nonzero exit fails the sync, never a silent partial table") {
    val dir = Files.createTempDirectory("mockconnfail")
    val catalogMsg =
      """{"type":"CATALOG","catalog":{"streams":[{"name":"test","json_schema":
        |{"type":"object","properties":{"id":{"type":["integer","null"]}}},
        |"supported_sync_modes":["full_refresh"]}]}}""".stripMargin.replace("\n", "")
    val half = (1 to 10).map(i =>
      s"""{"type":"RECORD","record":{"stream":"test","data":{"id":$i}}}""")
    val cmd = writeMock(dir, catalogMsg, half)
    // overwrite the script: emit half the records then die with rc=3
    Files.writeString(dir.resolve("connector.sh"),
      s"""#!/bin/sh
         |case "$$1" in
         |  discover) cat '${dir.resolve("catalog_msg.jsonl")}' ;;
         |  read) cat '${dir.resolve("messages.jsonl")}'; echo "disk on fire" >&2; exit 3 ;;
         |esac
         |""".stripMargin)
    val source = new SubprocessSource(cmd, m.createObjectNode(), dir.resolve("work"))
    val e = intercept[RuntimeException] {
      new SyncEngine(source).sync(spark, _ == "test", _ => "FULL_TABLE", new StateStore())
    }
    assert(e.getMessage.contains("exited 3"), e.getMessage)
    assert(e.getMessage.contains("disk on fire"), s"stderr tail must surface: ${e.getMessage}")
  }

  test("200 KB of stderr before the first RECORD neither blocks nor fails the read") {
    val dir = Files.createTempDirectory("mockconnstderr")
    val catalogMsg =
      """{"type":"CATALOG","catalog":{"streams":[{"name":"test","json_schema":
        |{"type":"object","properties":{"id":{"type":["integer","null"]}}},
        |"supported_sync_modes":["full_refresh"]}]}}""".stripMargin.replace("\n", "")
    val cmd = writeMock(dir, catalogMsg, Seq.empty)
    val pidFile = dir.resolve("pid")
    // 2000 lines of 100 bytes: three times a 64 KiB pipe buffer
    Files.writeString(dir.resolve("connector.sh"),
      s"""#!/bin/sh
         |case "$$1" in
         |  discover) cat '${dir.resolve("catalog_msg.jsonl")}' ;;
         |  read)
         |    echo $$$$ > '$pidFile'
         |    i=0
         |    while [ $$i -lt 2000 ]; do
         |      echo "${"w" * 80} line $$i of stderr" >&2
         |      i=$$((i + 1))
         |    done
         |    echo '{"type":"RECORD","record":{"stream":"test","data":{"id":1}}}'
         |    echo "last words" >&2 ;;
         |esac
         |""".stripMargin)
    val source = new SubprocessSource(cmd, m.createObjectNode(), dir.resolve("work"))
    val rows = MockConnectorE2eSpec.bounded(pidFile) {
      new SyncEngine(source).sync(spark, _ == "test", _ => "FULL_TABLE", new StateStore())("test")
        .collect().map(_.getLong(0)).toSeq
    }
    assert(rows == Seq(1L))
  }
}

object MockConnectorE2eSpec extends TimeLimits {
  implicit private val signaler: Signaler = ThreadSignaler

  /** `body` on another thread, failed after 60 s rather than hung: a reader
    * deadlocked on the connector's pipes is freed by killing the connector
    * whose pid its script wrote to `pidFile`.
    */
  def bounded[T](pidFile: Path)(body: => T): T = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val f = Future(body)(ExecutionContext.global)
    try failAfter(60.seconds)(Await.result(f, Duration.Inf))
    finally if (!f.isCompleted && Files.exists(pidFile))
      java.lang.ProcessHandle.of(Files.readString(pidFile).trim.toLong).ifPresent(p => { p.destroyForcibly(); () })
  }
}
