package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.StructType
import graft.protocol.{AirbyteMessage, AirbyteMessageType}
import graft.state.StateStore

/** Distributed connector extraction: N connector invocations run as N Spark
  * tasks, each streaming its child's stdout through a lazy iterator — the
  * cluster-scale generalization of [[SubprocessSource]] (whose single pipe
  * is inherently one producer, exactly like the reference).
  *
  * Shape: `parallelize(commands)` → `flatMap(spawn + line-iterate)` → typed
  * demux in Spark. Each task holds ONE line in memory at a time; 1000
  * executors run 1000 connector segments concurrently (per-stream shards,
  * per-table connectors, date-range splits…). This is the `RDD.pipe` idea
  * with protocol awareness: RECORD lines become rows, STATE lines are
  * collected (they're tiny) and folded into the driver-side [[StateStore]]
  * in command order, TRACE ERRORs fail the task (Spark retries/propagates —
  * the distributed analog of kill-on-early-exit, reference tap.py:626-642).
  */
object PipedConnectorSource {

  /** One protocol message row. `seq` is the message's position within its
    * command's output — STATE merge order must be total, and Spark's sort
    * is not stable, so (cmd_index, seq) is the deterministic fold key.
    */
  final case class RawMessage(
      cmd_index: Int, seq: Long, msg_type: String, stream: String, payload: String)

  /** Run every command as its own task; parse the Airbyte JSONL protocol
    * into [[RawMessage]] rows. Lazy per-line — no buffering of the child's
    * output beyond the current line. Lines go through the same streaming
    * [[AirbyteMessage.parse]] as [[SubprocessSource]]: a RECORD's payload
    * is the raw `data` text, any other message its re-serialized tree, and
    * a line that does not parse to a known type an `UNPARSEABLE` row.
    * stderr drains on a thread into an 8 KiB tail carried by the exit
    * error.
    */
  def readMessages(spark: SparkSession, commands: Seq[Seq[String]]): Dataset[RawMessage] = {
    import spark.implicits._
    spark.sparkContext
      .parallelize(commands.zipWithIndex, math.max(commands.size, 1))
      .flatMap { case (cmd, idx) =>
        val proc = new ProcessBuilder(cmd: _*).start()
        val err = new StderrTail(proc.getErrorStream)
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(proc.getInputStream, java.nio.charset.StandardCharsets.UTF_8))
        val mapper = new ObjectMapper()
        new Iterator[RawMessage] {
          private var nextLine: String = advance()
          private var msgSeq = 0L
          private def advance(): String = {
            val l = reader.readLine()
            if (l == null) {
              val code = proc.waitFor()
              val tail = err.join()
              reader.close()
              if (code != 0) throw new RuntimeException(s"connector[$idx] exited $code: $tail")
            }
            l
          }
          override def hasNext: Boolean = nextLine != null
          override def next(): RawMessage = {
            val line = nextLine
            nextLine = advance()
            val s = msgSeq
            msgSeq += 1
            AirbyteMessage.parse(line) match {
              case Some(AirbyteMessage.Record(stream, data)) =>
                RawMessage(idx, s, "RECORD", stream.getOrElse(""), data.getOrElse("null"))
              case Some(m: AirbyteMessage.Tree)
                  if m.msgType == AirbyteMessageType.TRACE &&
                    m.payload.path("trace").path("type").asText == "ERROR" =>
                throw new RuntimeException(
                  s"connector[$idx] error: ${m.payload.path("trace").path("error").toString}")
              case Some(m: AirbyteMessage.Tree) =>
                RawMessage(idx, s, m.msgType.toString, "", mapper.writeValueAsString(m.payload))
              case None => RawMessage(idx, s, "UNPARSEABLE", "", line)
            }
          }
        }
      }
      .toDS()
  }

  /** Typed records of one stream from the distributed message set. */
  def records(messages: Dataset[RawMessage], stream: String, schema: StructType): DataFrame =
    messages
      .filter(col("msg_type") === "RECORD" && col("stream") === stream)
      .select(from_json(col("payload"), schema).as("r"))
      .select("r.*")

  /** Fold the (few, small) STATE messages into `state` in deterministic
    * (cmd_index, seq) order — a total order, so last-wins merge is
    * well-defined even for multiple STATEs from one command. STATE volume
    * is O(checkpoints), not O(rows) — collecting to the driver is the
    * correct topology, same as the reference emitting them on its single
    * stdout.
    */
  def foldStates(messages: Dataset[RawMessage], state: StateStore): StateStore = {
    val mapper = new ObjectMapper()
    messages.filter(col("msg_type") === "STATE")
      .orderBy(col("cmd_index"), col("seq"))
      .collect()
      .foreach { m =>
        val node = mapper.readTree(m.payload)
        Option(node.get("state")).foreach(state.merge)
      }
    state
  }
}
