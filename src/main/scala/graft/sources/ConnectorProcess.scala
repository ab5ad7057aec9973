package graft.sources

import graft.protocol.{AirbyteMessage, AirbyteMessageType}

import java.io.InputStream
import java.nio.charset.StandardCharsets
import java.util.Arrays
import java.util.concurrent.{ArrayBlockingQueue, CompletableFuture, ExecutionException, ExecutorService,
  Executors, Future, FutureTask}

/** One running connector: the only code that starts or stops a connector
  * process (reference `tap_airbyte/tap.py:584-658` runs the same lifecycle
  * under `Popen`: spawn, read stdout, route LOG/TRACE, check EOF and the
  * return code, kill on early exit).
  *
  * [[messages]] is every message on the child's stdout, in the order the
  * connector wrote them, pulled by the calling thread. A reader thread cuts
  * stdout into blocks of up to 1 MiB at line ends (a line longer than that
  * grows its block up to the line's end; a block is cut early when the pipe
  * has nothing more to give, so a slow connector's messages are not held
  * back) and queues each for a fixed pool of `availableProcessors` daemon
  * threads, which split it into lines exactly where
  * `BufferedReader.readLine` would (`\n`, `\r` or `\r\n`) and parse each
  * with the byte core of [[AirbyteMessage.parse]]. At most 2 × threads
  * blocks are in flight, so the caller never waits on the pipe itself
  * while parsed blocks are queued. An exception in a parsing thread reaches
  * the caller as itself. LOG messages go to the logger at their own level
  * and are not returned. At the end of stdout the iterator waits for the
  * exit; a non-zero exit code raises with the last 8 KiB of stderr, which
  * drains on a daemon thread so a chatty connector cannot fill its stderr
  * pipe and stall stdout.
  *
  * [[close]] kills the connector's descendants, then the connector, so a
  * child it forked cannot outlive it holding the stdout pipe; it then stops
  * the reader and cancels the parses still queued. Closing after the end
  * of stdout finds nothing left to kill.
  */
final class ConnectorProcess(command: Seq[String]) extends AutoCloseable {
  import ConnectorProcess._

  private val proc = new ProcessBuilder(command: _*).start()
  private val err = new StderrTail(proc.getErrorStream)
  private val parsed = new ArrayBlockingQueue[Future[Array[AirbyteMessage]]](2 * threads)
  private val reader = new Thread(() => {
    val in = proc.getInputStream
    try {
      readBlocks(in) { block =>
        val task = new FutureTask(() => parseLines(block))
        parsed.put(task)
        pool.execute(task)
      }
      parsed.put(EndOfStream)
    } catch {
      case _: InterruptedException => // the caller closed the connector
      case e: Throwable =>
        try parsed.put(CompletableFuture.failedFuture(e))
        catch { case _: InterruptedException => }
    } finally in.close()
  }, "connector-stdout")
  reader.setDaemon(true)
  reader.start()

  /** Every message but LOG, in stdout order; see the class. */
  val messages: Iterator[AirbyteMessage] =
    Iterator.continually(nextBlock()).takeWhile(_ != null).flatMap(_.iterator).filter {
      case m: AirbyteMessage.Tree if m.msgType == AirbyteMessageType.LOG => logMessage(m); false
      case _ => true
    }

  /** The next parsed block; at the end of stdout, null after the exit check. */
  private def nextBlock(): Array[AirbyteMessage] = {
    val next = parsed.take()
    if (next eq EndOfStream) {
      val code = proc.waitFor()
      val tail = err.join()
      if (code != 0) throw new RuntimeException(s"connector exited $code: $tail")
      null
    } else
      try next.get()
      catch { case e: ExecutionException => throw e.getCause }
  }

  override def close(): Unit = {
    if (proc.isAlive) {
      proc.toHandle.descendants().forEach(h => { h.destroyForcibly(); () })
      proc.destroyForcibly()
    }
    reader.interrupt()
    parsed.forEach(f => { f.cancel(true); () })
  }
}

object ConnectorProcess {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[ConnectorProcess])
  private val BlockSize = 1 << 20
  private val threads = Runtime.getRuntime.availableProcessors
  private val EndOfStream: Future[Array[AirbyteMessage]] = CompletableFuture.completedFuture(Array.empty)

  private lazy val pool: ExecutorService = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "connector-demux")
    t.setDaemon(true)
    t
  })

  /** A LOG message's `log.message` at its `log.level` (FATAL logs as ERROR). */
  private def logMessage(m: AirbyteMessage.Tree): Unit = {
    val entry = m.payload.path("log")
    val text = entry.path("message").asText
    entry.path("level").asText match {
      case "FATAL" | "ERROR" => log.error("{}", text)
      case "WARN"            => log.warn("{}", text)
      case "DEBUG"           => log.debug("{}", text)
      case "TRACE"           => log.trace("{}", text)
      case _                 => log.info("{}", text)
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
private final class StderrTail(in: InputStream) {
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
