package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import graft.catalog.{AirbyteCatalog, ConfiguredCatalog}
import graft.protocol.{AirbyteMessage, AirbyteMessageType}
import graft.state.StateStore

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Using

/** Subprocess-backed source: an external connector program speaking the
  * Airbyte protocol (JSONL messages on stdout), as the reference wraps
  * (reference `tap_airbyte/tap.py:584-642` runs `connector read --config
  * --catalog [--state]` under `Popen`). Every run goes through one
  * [[ConnectorProcess]], which owns spawn, the block-parallel stdout parse,
  * LOG routing, the exit check and the kill.
  *
  * Spark-first demultiplexing: instead of per-stream in-memory queues +
  * consumer threads (reference `tap.py:793-888`, whose unbounded queues are
  * its known scalability limit), the driver streams the child's stdout ONCE
  * and applies its messages in the order the connector wrote them: a
  * RECORD's `data` bytes are appended to its stream's spill file as the
  * connector sent them (never parsed into a tree or re-serialized; a `data`
  * that is not a JSON object is spilled as `{}`), STATE folds into a
  * [[StateStore]], and a TRACE ERROR fails fast (reference
  * `tap.py:649-657`), killing the child before any later message is
  * applied; any failure kills the child (kill-on-early-exit, reference
  * `tap.py:626-642`). `spec`, `check` and `discover` run through the same
  * loop, reading to the end so a non-zero exit still fails them;
  * `discover` runs once per source, as the reference memoizes it
  * (`tap.py:705-707`).
  *
  * Spill files are named by the stream's index in the configured catalog
  * ([[SubprocessSource.spillFile]]), never by the connector's stream name.
  * Each becomes a typed DataFrame through Spark's JSON file source with the
  * discovered schema, which hands Jackson's byte parser each line's bytes,
  * so downstream transforms are columnar and distributed.
  *
  * Passthrough: the frame `read` returns carries its spill file's path in
  * the [[SubprocessSource.SpillPath]] tag on its root logical plan. Any
  * transform (a stream map, flattening, a field drop, `orderBy`,
  * `coalesce`) builds a new root without the tag, so the tag is present
  * exactly when the frame is the stream as the connector sent it.
  * [[graft.sync.SingerSink.recordLines]] renders a tagged frame from the
  * spill text itself: each RECORD carries the connector's `data` bytes
  * unchanged, as the reference forwards them (`tap.py:819-884`), even
  * where a value does not fit its declared type.
  *
  * Scale note: a single connector process is inherently a single producer —
  * same as the reference. The distributed path for many connectors or
  * segments is the DSv2 `graft-airbyte` format (one task per segment on the
  * same [[ConnectorProcess]]); STATE folds only here, on the driver. The
  * demux itself holds a bounded number of blocks and never materializes the
  * dataset in memory.
  */
final class SubprocessSource(
    command: Seq[String],
    config: JsonNode,
    workDir: Path) extends AirbyteSource {
  import SubprocessSource._

  private val mapper = new ObjectMapper()

  override def spec: JsonNode =
    runForMessage(Seq("spec"), AirbyteMessageType.SPEC)
      .flatMap(_.spec).getOrElse(mapper.createObjectNode())

  /** `check --config`: true iff CONNECTION_STATUS.status == SUCCEEDED
    * (reference `tap.py:555-566`).
    */
  override def check(spark: SparkSession): Boolean =
    runForMessage(Seq("check", "--config", writeConfig().toString), AirbyteMessageType.CONNECTION_STATUS)
      .flatMap(_.connectionStatus)
      .exists(cs => Option(cs.get("status")).exists(_.asText == "SUCCEEDED"))

  override def discover(spark: SparkSession): AirbyteCatalog = discovered

  private lazy val discovered: AirbyteCatalog =
    runForMessage(Seq("discover", "--config", writeConfig().toString), AirbyteMessageType.CATALOG)
      .flatMap(_.catalog)
      .map(AirbyteCatalog.fromJson)
      .getOrElse(AirbyteCatalog(Seq.empty))

  override def read(
      spark: SparkSession,
      configured: Seq[ConfiguredCatalog.Entry],
      state: StateStore): Map[String, DataFrame] = {
    val catalogPath = workDir.resolve("catalog.json")
    Files.writeString(catalogPath, ConfiguredCatalog.toJson(configured))
    val args = mutable.Buffer("read", "--config", writeConfig().toString,
      "--catalog", catalogPath.toString)
    if (!state.isEmpty) {
      val statePath = workDir.resolve("state.json")
      state.save(statePath)
      args ++= Seq("--state", statePath.toString)
    }

    // consumer-side selection (tap.py:786-788): unselected streams have no index
    val index = configured.map(_.stream.name).zipWithIndex.toMap
    Files.createDirectories(workDir.resolve("spill"))
    val spills = new Array[OutputStream](configured.size)
    def spillFor(i: Int): OutputStream = {
      if (spills(i) == null)
        spills(i) = new BufferedOutputStream(Files.newOutputStream(spillFile(workDir, i)), 1 << 16)
      spills(i)
    }

    try {
      Using.resource(new ConnectorProcess(command ++ args))(_.messages.foreach {
        case r: AirbyteMessage.Record =>
          for (s <- r.stream; i <- index.get(s) if r.hasData) {
            val out = spillFor(i)
            // The JSON source would read a top-level array as one row per
            // element (none for `[]`): `{}` keeps one all-null row, and
            // passthrough renders it as the typed path renders that row.
            if (r.dataIsObject) r.writeData(out) else out.write(EmptyObject)
            out.write('\n')
          }
        case msg: AirbyteMessage.Tree if msg.msgType == AirbyteMessageType.STATE =>
          msg.state.foreach(state.merge)
        case msg: AirbyteMessage.Tree =>
          // TRACE ERROR → fail fast with the connector's message (tap.py:649-657);
          // CONTROL is a no-op (tap.py:885-886) and any other type is skipped
          msg.traceError.foreach(e => throw new RuntimeException(s"connector error: $e"))
      })
    } finally spills.foreach(s => if (s != null) s.close())

    configured.map { entry =>
      val i = index(entry.stream.name)
      val df: DataFrame =
        if (spills(i) == null) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], entry.stream.sparkSchema)
        // Typed parse with the DISCOVERED schema (not inference): mirrors
        // the reference trusting connector discovery (tap.py:909-913).
        else {
          val spill = spillFile(workDir, i).toString
          val typed = spark.read.schema(entry.stream.sparkSchema).json(spill)
          typed.queryExecution.logical.setTagValue(SpillPath, spill)
          typed
        }
      entry.stream.name -> df
    }.toMap
  }

  // -------------------------------------------------------------------

  private def writeConfig(): Path = {
    val p = workDir.resolve("config.json")
    if (!Files.exists(p)) {
      Files.createDirectories(workDir)
      Files.writeString(p, mapper.writeValueAsString(config))
    }
    p
  }

  private def runForMessage(
      args: Seq[String],
      want: AirbyteMessageType.Value): Option[AirbyteMessage.Tree] = {
    var found: Option[AirbyteMessage.Tree] = None
    Using.resource(new ConnectorProcess(command ++ args))(_.messages.foreach {
      case msg: AirbyteMessage.Tree if msg.msgType == want && found.isEmpty => found = Some(msg)
      case _ =>
    })
    found
  }
}

object SubprocessSource {

  /** The spill file of the `i`-th configured stream under a source's work
    * dir. Named by index, not by the connector's stream name: Spark's file
    * listing hides a name starting with `_` or `.`, reads a name with glob
    * characters as a pattern, and a `/` or `..` would leave the spill dir.
    */
  def spillFile(workDir: Path, i: Int): Path = workDir.resolve("spill").resolve(s"s$i.jsonl")

  /** On the root logical plan of a frame [[SubprocessSource.read]]
    * returned: the path of the spill file it reads, one `data` object per
    * line. A transformed frame has a new root, which does not carry it.
    */
  val SpillPath: TreeNodeTag[String] = TreeNodeTag[String]("graft.spillPath")

  private val EmptyObject = "{}".getBytes(StandardCharsets.US_ASCII)
}
