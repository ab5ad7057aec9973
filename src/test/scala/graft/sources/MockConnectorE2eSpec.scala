package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkSpec
import graft.state.StateStore
import graft.sync.{SingerSink, StreamMaps, SyncEngine}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The full subprocess lifecycle against a REAL child process carrying
  * the KPHX payload — the end-to-end case the reference exercises with
  * a docker-mounted `airbyte/source-file` (`tests/test_syncs.py:177-235`),
  * here driven through a mock connector binary speaking the Airbyte
  * protocol on stdout (no docker daemon in this environment; the CLI
  * runs the connector `command` it is given, so no container argv is
  * built).
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

  private def writeMock(dir: Path, catalogLine: String, messages: Seq[String],
      prelude: String = ""): Seq[String] = {
    val catalogFile = dir.resolve("catalog_msg.jsonl")
    Files.writeString(catalogFile, catalogLine + "\n")
    val msgFile = dir.resolve("messages.jsonl")
    Files.writeString(msgFile, messages.mkString("", "\n", "\n"))
    val script = dir.resolve("connector.sh")
    Files.writeString(script,
      s"""#!/bin/sh
         |$prelude
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

  private val idCatalog =
    """{"type":"CATALOG","catalog":{"streams":[{"name":"test","json_schema":""" +
      """{"type":"object","properties":{"id":{"type":["integer","null"]}}},"supported_sync_modes":["full_refresh"]}]}}"""

  test("mid-stream nonzero exit fails the sync, never a silent partial table") {
    val dir = Files.createTempDirectory("mockconnfail")
    val half = (1 to 10).map(i =>
      s"""{"type":"RECORD","record":{"stream":"test","data":{"id":$i}}}""")
    val cmd = writeMock(dir, idCatalog, half)
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
    val cmd = writeMock(dir, idCatalog, Seq.empty)
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

  test("a sync then a second discover spawn the connector twice: discover runs once per source") {
    val dir = Files.createTempDirectory("spawncount")
    val spawns = dir.resolve("spawns")
    val cmd = writeMock(dir, idCatalog,
      Seq("""{"type":"RECORD","record":{"stream":"test","data":{"id":1}}}"""),
      prelude = s"""echo "$$1" >> '$spawns'""")
    val source = new SubprocessSource(cmd, m.createObjectNode(), dir.resolve("work"))
    new SyncEngine(source).sync(spark, _ == "test", _ => "FULL_TABLE", new StateStore())
    assert(source.discover(spark).streams.map(_.name) == Seq("test"))
    assert(Files.readAllLines(spawns).asScala == Seq("discover", "read"))
  }

  test("a connector LOG message reaches the logger at its own level") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val dir = Files.createTempDirectory("connectorlog")
    val cmd = writeMock(dir, idCatalog, Seq("""{"type":"LOG","log":{"level":"WARN","message":"m"}}"""))
    val source = new SubprocessSource(cmd, m.createObjectNode(), dir.resolve("work"))
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val appender = new AbstractAppender("connector-log-test", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { events.add(e.toImmutable); () }
    }
    appender.start()
    val logger = LogManager.getLogger("graft.sources.ConnectorProcess").asInstanceOf[CoreLogger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.ALL)
    try new SyncEngine(source).sync(spark, _ == "test", _ => "FULL_TABLE", new StateStore())
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    assert(events.asScala.map(e => e.getLevel -> e.getMessage.getFormattedMessage).toSeq == Seq(Level.WARN -> "m"))
  }

  // ---- the stdout demux: block-parallel byte parse, ordered apply ----

  private val idProps = """{"id":{"type":["null","integer"]},"v":{"type":["null","string"]}}"""

  /** A RECORD line of `stream` with `data` (JSON text), quoted by Jackson. */
  private def rec(stream: String, data: String): String = {
    val n = m.createObjectNode()
    n.put("type", "RECORD")
    val r = n.putObject("record")
    r.put("stream", stream)
    r.set[JsonNode]("data", m.readTree(data))
    m.writeValueAsString(n)
  }

  private def stateLine(stream: String, id: String): String =
    s"""{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"$stream"},""" +
      s""""stream_state":{"id":"$id"}}}}"""

  /** A source whose connector discovers `names`, each with `properties`,
    * and on `read` writes its pid to `dir/pid`, runs the shell text
    * `before`, writes `output` byte for byte, then runs the shell text
    * `after`.
    */
  private def rawSource(dir: Path, names: Seq[String], properties: String, output: Array[Byte],
      before: String = "", after: String = ""): SubprocessSource = {
    val catalog = m.createObjectNode()
    catalog.put("type", "CATALOG")
    val streams = catalog.putObject("catalog").putArray("streams")
    names.foreach { name =>
      val st = streams.addObject()
      st.put("name", name)
      st.set[JsonNode]("json_schema", m.readTree(s"""{"type":"object","properties":$properties}"""))
      st.putArray("supported_sync_modes").add("full_refresh")
    }
    Files.writeString(dir.resolve("catalog_msg.jsonl"), m.writeValueAsString(catalog) + "\n")
    Files.write(dir.resolve("out.bin"), output)
    val script = dir.resolve("connector.sh")
    Files.writeString(script,
      s"""#!/bin/sh
         |case "$$1" in
         |  discover) cat '${dir.resolve("catalog_msg.jsonl")}' ;;
         |  read) echo $$$$ > '${dir.resolve("pid")}'
         |    $before
         |    cat '${dir.resolve("out.bin")}'; $after ;;
         |esac
         |""".stripMargin)
    new SubprocessSource(Seq("/bin/sh", script.toString), m.createObjectNode(), dir.resolve("work"))
  }

  private def lf(lines: Seq[String]): Array[Byte] = lines.mkString("", "\n", "\n").getBytes("UTF-8")

  private def readAll(src: SubprocessSource, state: StateStore) =
    src.read(spark, graft.catalog.ConfiguredCatalog.configure(src.discover(spark), _ => true), state)

  /** `id` of every row, in spill-file order (the JSON source's splits of
    * one file come back in offset order).
    */
  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq

  test("streams named _users, a[1] and x/y each read their own rows") {
    val names = Seq("_users", "a[1]", "x/y")
    val lines = (1 to 3).flatMap(i => names.zipWithIndex.map { case (n, k) => rec(n, s"""{"id":${10 * k + i}}""") })
    val dir = Files.createTempDirectory("spillnames")
    val dfs = readAll(rawSource(dir, names, idProps, lf(lines)), new StateStore())
    names.zipWithIndex.foreach { case (n, k) => assert(ids(dfs(n)) == (1 to 3).map(i => 10L * k + i), n) }
    assert(Files.list(dir.resolve("work").resolve("spill")).count() == 3)
  }

  test("a 3 MiB RECORD grows its block; record order holds across blocks") {
    val big = "x" * (3 << 20)
    val lines = (1 to 20000).map(i => rec("s", s"""{"id":$i,"v":"${if (i == 7000) big else s"r$i"}"}"""))
    val dfs = readAll(rawSource(Files.createTempDirectory("bigrecord"), Seq("s"), idProps, lf(lines)),
      new StateStore())
    assert(ids(dfs("s")) == (1L to 20000L))
    val v = dfs("s").select("v").collect().map(_.getString(0))
    assert(v(6999) == big && v(6998) == "r6999" && v(7000) == "r7001")
  }

  test("CRLF and CR line ends, blank lines and non-JSON noise split as readLine splits them") {
    val out = Seq(
      "starting connector...\r\n", "\r\n", rec("s", """{"id":1}""") + "\r\n",
      "   \r\n", rec("s", """{"id":2}""") + "\r", rec("s", """{"id":3}""") + "\n",
      "{not json}\r\n", stateLine("s", "3") + "\r\n", "\n", rec("s", """{"id":4}""")) // no final line end
    val state = new StateStore()
    val dfs = readAll(rawSource(Files.createTempDirectory("crlf"), Seq("s"), idProps,
      out.mkString.getBytes("UTF-8")), state)
    assert(ids(dfs("s")) == Seq(1L, 2L, 3L, 4L))
    assert(state.bookmark("s", "id").contains("3"))
  }

  test("STATE folds in stream order across blocks: the bookmark is the last STATE") {
    // 40 STATEs, each after 1000 RECORDs, with falling cursors: any other
    // order of application leaves a different last STATE
    val lines = (1 to 40).flatMap(k =>
      (1 to 1000).map(i => rec("s", s"""{"id":${1000 * (k - 1) + i},"v":"${"p" * 60}"}""")) :+
        stateLine("s", (41 - k).toString))
    val state = new StateStore()
    val dfs = readAll(rawSource(Files.createTempDirectory("statefold"), Seq("s"), idProps, lf(lines)), state)
    assert(state.bookmark("s", "id").contains("1"))
    assert(dfs("s").count() == 40000)
  }

  test("a TRACE ERROR in a late block raises, kills the child and folds no later STATE") {
    val dir = Files.createTempDirectory("lateerror")
    val lines = (1 to 30000).map(i => rec("s", s"""{"id":$i,"v":"${"p" * 60}"}""")) ++ Seq(
      stateLine("s", "before"),
      """{"type":"TRACE","trace":{"type":"ERROR","error":{"message":"quota exhausted"}}}""",
      stateLine("s", "after"))
    val marker = dir.resolve("ran-on")
    // the connector's own child: killed with it, it cannot hold stdout open
    val sleepPid = dir.resolve("sleep.pid")
    val src = rawSource(dir, Seq("s"), idProps, lf(lines),
      before = s"sleep 30 & echo $$! > '$sleepPid'", after = s"wait; touch '$marker'")
    val cat = src.discover(spark)
    val state = new StateStore()
    val e = MockConnectorE2eSpec.bounded(dir.resolve("pid")) {
      intercept[RuntimeException](src.read(spark, graft.catalog.ConfiguredCatalog.configure(cat, _ => true), state))
    }
    assert(e.getMessage.contains("quota exhausted"), e.getMessage)
    assert(state.bookmark("s", "id").contains("before"))
    // killed, both end within seconds; left alone the script waits 30 s
    MockConnectorE2eSpec.assertExits(dir.resolve("pid"))
    MockConnectorE2eSpec.assertExits(sleepPid)
    assert(!Files.exists(marker))
  }

  test("RECORD data that is null, a scalar, [] or an array of objects gives one all-null row each") {
    val shapes = Seq("null", "42", "\"text\"", "true", "[]", """[{"id":7},{"id":8}]""")
    val lines = rec("s", """{"id":1,"v":"a"}""") +: shapes.map(d => rec("s", d)) :+ rec("s", """{"id":2}""")
    val df = readAll(rawSource(Files.createTempDirectory("datashapes"), Seq("s"), idProps, lf(lines)),
      new StateStore())("s")
    val rows = df.collect()
    assert(rows.length == shapes.size + 2)
    assert(rows.head.getLong(0) == 1L && rows.last.getLong(0) == 2L)
    rows.slice(1, shapes.size + 1).foreach(r => assert(r.isNullAt(0) && r.isNullAt(1), r))
    // passthrough renders each of them as the empty object the typed path renders
    assert(recordsOf(df) == ("""{"id":1,"v":"a"}""" +: shapes.map(_ => "{}") :+ """{"id":2}""").map(envelope))
  }

  // ---- passthrough: an untransformed stream's RECORDs are the spilled bytes ----

  /** A RECORD line of stream `s` with `data` exactly as written. */
  private def rawRec(data: String): String = s"""{"type":"RECORD","record":{"stream":"s","data":$data}}"""

  /** The RECORD line the sink writes for stream `s` with `record` text. */
  private def envelope(record: String): String =
    SingerSink.RecordPrefix + ""","stream":"s","record":""" + record +
      s""","time_extracted":"${SingerSink.TimeExtracted}"}"""

  /** The RECORD lines `emit` writes for stream `s` of `df`. */
  private def recordsOf(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val lines = ArrayBuffer.empty[String]
    assert(SingerSink.emit("s", df, Seq.empty, new StateStore(), lines += _))
    lines.filter(_.startsWith(SingerSink.RecordPrefix)).toSeq
  }

  /** Values that do not fit their declared type, an explicit null and an
    * undeclared field: each loses its field on the typed path.
    */
  private val misfits = Seq(
    """{"id":1,"i":1.5}""", """{"id":2,"i":"42"}""", """{"id":3,"i":12345678901234567890}""",
    """{"id":4,"b":"yes"}""", """{"id":5,"b":1}""", """{"id":6,"n":"2.5"}""", """{"id":7,"n":1e400}""",
    """{"id":8,"i":null}""", """{"id":9,"undeclared":{"x":[1,null]}}""")
  private val misfitProps =
    """{"id":{"type":["null","integer"]},"i":{"type":["null","integer"]},"b":{"type":["null","boolean"]},""" +
      """"n":{"type":["null","number"]},"o":{"type":["null","object"],"properties":{"k":{"type":["null","string"]}}}}"""

  private def misfitSource(lines: Seq[String]): SubprocessSource =
    rawSource(Files.createTempDirectory("passthrough"), Seq("s"), misfitProps, lf(lines.map(rawRec)))

  test("passthrough: each RECORD's record is the connector's data, byte for byte") {
    val df = new SyncEngine(misfitSource(misfits)).sync(spark, _ => true)("s")
    assert(recordsOf(df) == misfits.map(envelope))
  }

  test("passthrough and typed renders of clean lines are equal line for line") {
    // every field present, in schema order, each value as to_json renders it
    val clean = (1 to 40).map(i => s"""{"id":${i * 7},"i":$i,"b":${i % 2 == 0},"n":$i.25,"o":{"k":"k$i"}}""")
    val df = new SyncEngine(misfitSource(clean)).sync(spark, _ => true)("s")
    val passthrough = recordsOf(df)
    assert(passthrough == clean.map(envelope))
    assert(recordsOf(df.select("*")) == passthrough)
  }

  test("a stream map, flattening, orderBy and coalesce(1) each take the typed path") {
    val data = Seq("""{"id":1,"i":1.5,"o":{"k":"v"}}""", """{"id":2,"i":null,"o":{"k":"w"}}""")
    def synced(maps: Map[String, StreamMaps.StreamMap] = Map.empty, flattening: Option[Int] = None) =
      new SyncEngine(misfitSource(data), maps, flattening).sync(spark, _ => true)("s")
    val typed = Seq("""{"id":1,"o":{"k":"v"}}""", """{"id":2,"o":{"k":"w"}}""").map(envelope)
    val raw = synced()
    assert(recordsOf(raw) == data.map(envelope))
    assert(recordsOf(synced(Map("s" -> StreamMaps.StreamMap(filter = Some("id > 0"))))) == typed)
    assert(recordsOf(synced(flattening = Some(1))) ==
      Seq("""{"id":1,"o__k":"v"}""", """{"id":2,"o__k":"w"}""").map(envelope))
    assert(recordsOf(raw.orderBy("id")) == typed)
    assert(recordsOf(raw.coalesce(1)) == typed)
  }

  test("a mapped stream holding 1e400 makes emit throw, naming the stream and the column") {
    val df = new SyncEngine(misfitSource(Seq("""{"id":7,"n":1e400}""")),
      Map("s" -> StreamMaps.StreamMap(filter = Some("id > 0")))).sync(spark, _ => true)("s")
    val e = intercept[RuntimeException](recordsOf(df))
    assert(e.getMessage.contains("stream s: column n holds a non-finite number"), e.getMessage)
  }

  test("JSON-source rows equal textFile + from_json rows of the raw data text") {
    import MockConnectorE2eSpec.{rowProps => props, rowTable => table}
    val dir = Files.createTempDirectory("rowcheck")
    val src = rawSource(dir, Seq("s"), props, lf(table))
    val catalog = src.discover(spark)
    val mine = src.read(spark, graft.catalog.ConfiguredCatalog.configure(catalog, _ => true),
      new StateStore())("s").collect().toSeq

    // The reference: each RECORD's raw `data` text, read as text lines
    // and typed with `from_json`.
    val texts = table.flatMap(l => graft.protocol.AirbyteMessage.parse(l)).collect {
      case graft.protocol.AirbyteMessage.Record(Some("s"), Some(data)) => data
    }
    val refFile = dir.resolve("reference.jsonl")
    Files.writeString(refFile, texts.mkString("", "\n", "\n"))
    val schema = catalog.streams.head.sparkSchema
    val ref = spark.read.textFile(refFile.toString)
      .select(org.apache.spark.sql.functions.from_json(org.apache.spark.sql.functions.col("value"), schema).as("r"))
      .select("r.*").collect().toSeq
    assert(texts.size == 19)
    assert(mine == ref)
    // data null, an array, a number, a string and a boolean
    assert(mine.count(r => (0 until r.length).forall(r.isNullAt)) == 5)
  }
}

object MockConnectorE2eSpec extends TimeLimits {
  implicit private val signaler: Signaler = ThreadSignaler

  private def r(body: String) = s"""{"type":"RECORD","record":{$body}}"""
  /** Protocol lines for stream "s": RECORD shapes from AirbyteMessageSpec's
    * table, non-JSON noise, a truncated object, LOG and an unknown type;
    * `rowProps` is the JSON Schema `properties` of their `data`.
    */
  val rowTable: Seq[String] = Seq(
    r(""""stream":"s","data":{"a":1,"s":"x"},"emitted_at":1"""),
    """{"record":{"data":{"a":2,"s":"y"},"stream":"s","emitted_at":5},"type":"RECORD"}""",
    r(""""stream":"s","data":{"o":{"x":3,"y":[1,2,3]},"arr":[{"k":"v"},{"k":"w"}]}"""),
    r(""""stream":"s","data":{"s":"a}b{c\"d\\","q":"[\"]{"}"""),
    r("\"stream\":\"s\",\"data\":{\"s\":\"caf\\u00e9 \\ud83d\\ude00\",\"u\":\"naïve 日本 😀\"}"),
    r(""""stream":"s","data":null"""),
    r(""""stream":"s","data": [ {"a":1} , 2 ] """),
    r(""""stream":"s","data":42"""),
    r("\"stream\":\"s\",\"data\":\"text \\\"q\\\"\""),
    r(""""stream":"s","data":true"""),
    r(""""data":{"a":1}"""),
    r(""""stream":"s""""),
    """{"type":"RECORD","record":5}""",
    r(""""stream":"a","data":{"a":1,"a":2},"stream":"s","data":{"a":3,"s":"z"}"""),
    r(""""stream":"s","data":{"a":3,"a":4}"""),
    """{"type":"RECORD","record":{"stream":"a","data":{"a":1}},"record":{"stream":"s","data":{"a":2}}}""",
    """{"type":"STATE","type":"RECORD","record":{"stream":"s","data":{"a":7}}}""",
    " \t " + r(""""stream":"s","data":{"a":8}""") + "  ",
    r(""""stream":"s","data":{"a":9}""") + " trailing",
    """{ "type" : "RECORD" , "record" : { "stream" : "s" , "data" : {"a":10} } }""",
    r(""""stream":"s","data":{"a":"not a number","o":{"x":"1"},"arr":{"k":"v"}}"""),
    r(""""stream":"s","data":{"d":1.0000000000000001,"a":1e3}"""),
    """{"type":"RECORD","record":{"stream":"s","data":{"a":1""",
    "starting connector...", """[{"type":"RECORD"}]""", """{type: RECORD}""", "   ",
    """{"type":"FOO","record":{"stream":"s","data":{}}}""",
    """{"type":"LOG","log":{"level":"INFO","message":"read {1} \"rows\""}}""")
  val rowProps: String =
    """{"a":{"type":["null","integer"]},"s":{"type":["null","string"]},"q":{"type":["null","string"]},
      |"u":{"type":["null","string"]},"d":{"type":["null","number"]},
      |"o":{"type":["null","object"],"properties":{"x":{"type":["null","integer"]},
      |"y":{"type":["null","array"],"items":{"type":["null","integer"]}}}},
      |"arr":{"type":["null","array"],"items":{"type":["null","object"],"properties":{"k":{"type":["null","string"]}}}}}"""
      .stripMargin.replace("\n", "")

  /** Fails unless the process whose pid `pidFile` holds ends within 10 s. */
  def assertExits(pidFile: Path): Unit =
    java.lang.ProcessHandle.of(Files.readString(pidFile).trim.toLong)
      .ifPresent(h => { h.onExit().get(10, java.util.concurrent.TimeUnit.SECONDS); () })

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
