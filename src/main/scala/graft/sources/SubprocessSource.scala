package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import graft.catalog.{AirbyteCatalog, ConfiguredCatalog}
import graft.protocol.{AirbyteMessage, AirbyteMessageType}
import graft.state.StateStore

import java.io.{BufferedReader, BufferedWriter, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Subprocess-backed source: an external connector program speaking the
  * Airbyte protocol (JSONL messages on stdout), as the reference wraps
  * (reference `tap_airbyte/tap.py:584-642` runs `connector read --config
  * --catalog [--state]` under `Popen` with kill-on-early-exit and
  * EOF/returncode checks).
  *
  * Spark-first demultiplexing: instead of per-stream in-memory queues +
  * consumer threads (reference `tap.py:793-888`, whose unbounded queues are
  * its known scalability limit), the driver streams the child's stdout ONCE,
  * routing RECORD lines to one spill file per stream (bounded memory: we
  * hold one line at a time), folding STATE into a [[StateStore]], and
  * fail-fasting on TRACE ERROR (reference `tap.py:649-657`). Each line gets
  * one streaming parse ([[AirbyteMessage.parse]]); a RECORD's `data` is
  * written to the spill file as the raw text the connector sent, never
  * parsed into a tree or re-serialized. stderr drains on a daemon thread
  * into an 8 KiB tail, so a chatty connector cannot fill its stderr pipe
  * and stall stdout; the tail is joined before the exit-code check and
  * carried in its error. Each spill file then becomes a typed DataFrame
  * via `from_json` with the discovered schema, so downstream transforms
  * are columnar and distributed.
  *
  * Scale note: a single connector process is inherently a single producer —
  * same as the reference. The scale-out path for many connectors/segments is
  * one spill dir per (connector, segment) read in parallel as a multi-file
  * `spark.read`; the per-partition analog is `RDD.pipe`. The demux itself is
  * I/O-bound line routing and never materializes the dataset in memory.
  */
final class SubprocessSource(
    command: Seq[String],
    config: JsonNode,
    workDir: Path) extends AirbyteSource {

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

  override def discover(spark: SparkSession): AirbyteCatalog =
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

    val selected = configured.map(_.stream.name).toSet
    val spillDir = Files.createDirectories(workDir.resolve("spill"))
    val writers = mutable.Map.empty[String, BufferedWriter]
    def writerFor(stream: String): BufferedWriter =
      writers.getOrElseUpdate(stream,
        Files.newBufferedWriter(spillDir.resolve(s"$stream.jsonl"), StandardCharsets.UTF_8))

    try {
      runStreaming(args.toSeq) {
        case AirbyteMessage.Record(Some(stream), Some(data))
            if selected.contains(stream) => // consumer-side skip, tap.py:786-788
          val w = writerFor(stream)
          w.write(data); w.newLine()
        case _: AirbyteMessage.Record => // unselected, or no stream or data to route
        case msg: AirbyteMessage.Tree =>
          msg.msgType match {
            case AirbyteMessageType.STATE =>
              msg.state.foreach(state.merge)
            case AirbyteMessageType.LOG => // route to log4j; INFO-level
            case AirbyteMessageType.TRACE =>
              // TRACE ERROR → fail fast with the connector's message (tap.py:649-657)
              msg.trace.filter(t => Option(t.get("type")).exists(_.asText == "ERROR")).foreach { t =>
                throw new RuntimeException(
                  s"connector error: ${Option(t.get("error")).map(_.toString).getOrElse(t.toString)}")
              }
            case AirbyteMessageType.CONTROL => // no-op, tap.py:885-886
            case _                          => // unknown → warn-and-continue
          }
      }
    } finally writers.values.foreach(_.close())

    configured.map { entry =>
      val name = entry.stream.name
      val path = spillDir.resolve(s"$name.jsonl")
      val df: DataFrame =
        if (!Files.exists(path)) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], entry.stream.sparkSchema)
        else {
          import spark.implicits._
          // Typed parse with the DISCOVERED schema (not inference): mirrors
          // the reference trusting connector discovery (tap.py:909-913).
          spark.read.textFile(path.toString)
            .select(from_json(col("value"), entry.stream.sparkSchema).as("r"))
            .select("r.*")
        }
      name -> df
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

  /** Run the connector with `args`, stream-parse stdout line-by-line.
    * stderr drains on its own thread, so a connector that writes more
    * than a pipe buffer there cannot block its stdout. Non-zero exit or
    * early EOF raises with the stderr tail (kill-on-early-exit semantics
    * of reference `tap.py:626-642`).
    */
  private def runStreaming(args: Seq[String])(handle: AirbyteMessage => Unit): Unit = {
    val proc = new ProcessBuilder((command ++ args): _*).start()
    val err = new StderrTail(proc.getErrorStream)
    val out = new BufferedReader(new InputStreamReader(proc.getInputStream, StandardCharsets.UTF_8))
    try {
      var line = out.readLine()
      while (line != null) {
        AirbyteMessage.parse(line).foreach(handle)
        line = out.readLine()
      }
      val code = proc.waitFor()
      val tail = err.join()
      if (code != 0) throw new RuntimeException(s"connector exited $code: $tail")
    } catch {
      case e: Throwable =>
        if (proc.isAlive) proc.destroyForcibly()
        throw e
    } finally out.close()
  }

  private def runForMessage(
      args: Seq[String],
      want: AirbyteMessageType.Value): Option[AirbyteMessage.Tree] = {
    var found: Option[AirbyteMessage.Tree] = None
    runStreaming(args) {
      case msg: AirbyteMessage.Tree if msg.msgType == want && found.isEmpty => found = Some(msg)
      case _ =>
    }
    found
  }
}

/** A child process's stderr, drained on a daemon thread so the child never
  * blocks on a full pipe; keeps the last 8 KiB for error messages.
  */
private[sources] final class StderrTail(in: InputStream) {
  private val limit = 8192
  private val ring = new Array[Byte](limit)
  private var total = 0L
  private val drain = new Thread(() => {
    val buf = new Array[Byte](4096)
    try {
      var n = in.read(buf)
      while (n >= 0) {
        var i = 0
        while (i < n) { ring(((total + i) % limit).toInt) = buf(i); i += 1 }
        total += n
        n = in.read(buf)
      }
    } catch { case _: java.io.IOException => } // stream closed under us: keep what we have
    finally in.close()
  }, "connector-stderr")
  drain.setDaemon(true)
  drain.start()

  /** Wait for stderr to reach EOF; its last 8 KiB as UTF-8 text. */
  def join(): String = {
    drain.join()
    val start = if (total > limit) (total % limit).toInt else 0
    val bytes = ring.drop(start) ++ ring.take(start)
    new String(bytes, 0, math.min(total, limit.toLong).toInt, StandardCharsets.UTF_8)
  }
}
