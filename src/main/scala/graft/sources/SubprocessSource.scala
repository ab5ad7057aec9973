package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{AirbyteCatalog, ConfiguredCatalog}
import graft.protocol.{AirbyteMessage, AirbyteMessageType}
import graft.state.StateStore

import java.io.{BufferedOutputStream, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Arrays
import java.util.concurrent.{ArrayBlockingQueue, CompletableFuture, ExecutionException, ExecutorService,
  Executors, Future, FutureTask}
import scala.collection.mutable

/** Subprocess-backed source: an external connector program speaking the
  * Airbyte protocol (JSONL messages on stdout), as the reference wraps
  * (reference `tap_airbyte/tap.py:584-642` runs `connector read --config
  * --catalog [--state]` under `Popen` with kill-on-early-exit and
  * EOF/returncode checks).
  *
  * Spark-first demultiplexing: instead of per-stream in-memory queues +
  * consumer threads (reference `tap.py:793-888`, whose unbounded queues are
  * its known scalability limit), the driver streams the child's stdout ONCE
  * as bytes. A reader thread cuts it into blocks of up to 1 MiB at line
  * ends (a line longer than that grows its block up to the line's end; a
  * block is cut early when the pipe has nothing more to give, so a slow
  * connector's messages are not held back) and queues each for a fixed
  * pool of `availableProcessors` daemon threads, which split it into lines
  * exactly where `BufferedReader.readLine` would (`\n`, `\r` or `\r\n`) and
  * parse each with the byte core of [[AirbyteMessage.parse]]. At most
  * 2 × threads blocks are in flight. The calling thread applies the parsed
  * blocks strictly in block order, so messages take effect in the order
  * the connector wrote them, and never waits on the pipe itself: a RECORD's
  * `data` bytes are appended to its stream's spill file as the connector
  * sent them (never parsed into a tree or re-serialized; a `data` that is
  * not a JSON object is spilled as `null`), STATE folds into a
  * [[StateStore]], and a TRACE ERROR fails fast (reference
  * `tap.py:649-657`), killing the child before any later message is
  * applied. An exception in a parsing thread reaches the caller as itself,
  * and the child is destroyed. `spec`, `check` and `discover`
  * run through the same loop. stderr drains on a daemon thread into an
  * 8 KiB tail, so a chatty connector cannot fill its stderr pipe and stall
  * stdout; the tail is joined before the exit-code check and carried in
  * its error.
  *
  * Spill files are named by the stream's index in the configured catalog
  * ([[SubprocessSource.spillFile]]), never by the connector's stream name.
  * Each becomes a typed DataFrame through Spark's JSON file source with the
  * discovered schema, which hands Jackson's byte parser each line's bytes,
  * so downstream transforms are columnar and distributed.
  *
  * Scale note: a single connector process is inherently a single producer —
  * same as the reference. The scale-out path for many connectors/segments is
  * one spill dir per (connector, segment) read in parallel as a multi-file
  * `spark.read`; the per-partition analog is `RDD.pipe`. The demux itself
  * holds a bounded number of blocks and never materializes the dataset in
  * memory.
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
      runStreaming(args.toSeq) {
        case r: AirbyteMessage.Record =>
          for (s <- r.stream; i <- index.get(s) if r.hasData) {
            val out = spillFor(i)
            // The JSON source would read a top-level array as one row per
            // element (none for `[]`): `null` keeps one all-null row.
            if (r.dataIsObject) r.writeData(out) else out.write(NullBytes)
            out.write('\n')
          }
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
    } finally spills.foreach(s => if (s != null) s.close())

    configured.map { entry =>
      val i = index(entry.stream.name)
      val df: DataFrame =
        if (spills(i) == null) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], entry.stream.sparkSchema)
        // Typed parse with the DISCOVERED schema (not inference): mirrors
        // the reference trusting connector discovery (tap.py:909-913).
        else spark.read.schema(entry.stream.sparkSchema).json(spillFile(workDir, i).toString)
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

  /** Run the connector with `args` and hand every message on its stdout to
    * `handle`, in order, on the calling thread (the block demux described
    * on the class). Non-zero exit raises with the stderr tail; any failure,
    * `handle`'s included, destroys the child first (kill-on-early-exit
    * semantics of reference `tap.py:626-642`).
    */
  private def runStreaming(args: Seq[String])(handle: AirbyteMessage => Unit): Unit = {
    val proc = new ProcessBuilder((command ++ args): _*).start()
    val err = new StderrTail(proc.getErrorStream)
    val out = proc.getInputStream
    try {
      demux(out, handle)
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

object SubprocessSource {

  /** The spill file of the `i`-th configured stream under a source's work
    * dir. Named by index, not by the connector's stream name: Spark's file
    * listing hides a name starting with `_` or `.`, reads a name with glob
    * characters as a pattern, and a `/` or `..` would leave the spill dir.
    */
  def spillFile(workDir: Path, i: Int): Path = workDir.resolve("spill").resolve(s"s$i.jsonl")

  private val NullBytes = "null".getBytes(StandardCharsets.US_ASCII)
  private val BlockSize = 1 << 20
  private val threads = Runtime.getRuntime.availableProcessors
  private val EndOfStream: Future[Array[AirbyteMessage]] = CompletableFuture.completedFuture(Array.empty)

  private lazy val pool: ExecutorService = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "connector-demux")
    t.setDaemon(true)
    t
  })

  /** Every message of `in`, parsed block-parallel and handed to `handle`
    * in stream order on the calling thread. A reader thread cuts the
    * blocks, so `handle` never waits behind a read from the pipe; when
    * `handle` or a parse throws, the blocks still queued are cancelled and
    * the reader stops at its next block.
    */
  private def demux(in: InputStream, handle: AirbyteMessage => Unit): Unit = {
    val parsed = new ArrayBlockingQueue[Future[Array[AirbyteMessage]]](2 * threads)
    val reader = new Thread(() =>
      try {
        readBlocks(in) { block =>
          val task = new FutureTask(() => parseLines(block))
          parsed.put(task)
          pool.execute(task)
        }
        parsed.put(EndOfStream)
      } catch {
        case _: InterruptedException => // the calling thread stopped taking blocks
        case e: Throwable =>
          try parsed.put(CompletableFuture.failedFuture(e))
          catch { case _: InterruptedException => }
      }, "connector-stdout")
    reader.setDaemon(true)
    reader.start()
    try {
      var next = parsed.take()
      while (next ne EndOfStream) {
        val msgs =
          try next.get()
          catch { case e: ExecutionException => throw e.getCause }
        msgs.foreach(handle)
        next = parsed.take()
      }
    } finally {
      reader.interrupt()
      parsed.forEach(f => { f.cancel(true); () })
    }
  }

  /** Cuts `in` into blocks that end at a line end: `BlockSize` bytes or
    * less, fewer when the pipe has nothing more to give (so a slow
    * connector's lines are not held back), and more when one line is
    * longer than that, which grows the block up to the line's end.
    */
  private def readBlocks(in: InputStream)(emit: Array[Byte] => Unit): Unit = {
    var buf = new Array[Byte](BlockSize)
    var n = 0       // bytes held in buf
    var lineEnd = 0 // just past the last line end in buf(0 until n), 0 when none
    var eof = false
    while (!eof) {
      if (n == buf.length) buf = Arrays.copyOf(buf, buf.length * 2)
      val r = in.read(buf, n, buf.length - n)
      if (r < 0) { eof = true; lineEnd = n }
      else {
        var i = n + r
        while (i > n && buf(i - 1) != '\n' && buf(i - 1) != '\r') i -= 1
        if (i > n) lineEnd = i
        n += r
      }
      if (lineEnd > 0 && (eof || n == buf.length || in.available() == 0)) {
        emit(Arrays.copyOf(buf, lineEnd))
        System.arraycopy(buf, lineEnd, buf, 0, n - lineEnd)
        n -= lineEnd
        lineEnd = 0
        if (buf.length > BlockSize && n < BlockSize) buf = Arrays.copyOf(buf, BlockSize)
      }
    }
  }

  /** The messages of a block's lines, split at `\n`, `\r` and `\r\n`. */
  private def parseLines(block: Array[Byte]): Array[AirbyteMessage] = {
    val msgs = Array.newBuilder[AirbyteMessage]
    var from = 0
    while (from < block.length) {
      var until = from
      while (until < block.length && block(until) != '\n' && block(until) != '\r') until += 1
      if (until > from) AirbyteMessage.parse(block, from, until).foreach(msgs += _)
      from = until + 1
    }
    msgs.result()
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
