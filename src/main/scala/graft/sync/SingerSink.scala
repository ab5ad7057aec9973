package graft.sync

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.FutureAction
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.JsonSchemaConverter

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Singer-protocol output: SCHEMA + RECORD (+ STATE) JSONL, matching the
  * reference's emitted shape (reference `tap_airbyte/tap.py:62-77`,
  * `tap.py:956-965`; fixture `tests/fixtures/KPHX.singer`).
  *
  * Scalar coercion policy re-expresses the reference's `default()`
  * serializer fallback (`tap.py:48-59`): datetime/date → ISO-8601 string,
  * Decimal → double, bytes → UTF-8 string, everything else stringified.
  * Implemented as Catalyst casts so serialization is distributed and
  * codegen'd: each RECORD line — envelope `concat` around `to_json` — is
  * built on the executors as UTF-8 bytes, and the driver only cuts the
  * returned byte blocks into lines.
  */
object SingerSink {
  private val mapper = new ObjectMapper()

  /** Coerce a DataFrame to Singer-serializable columns (tap.py:48-59 policy). */
  def coerce(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      val coerced = f.dataType match {
        case TimestampType | TimestampNTZType =>
          date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        case DateType       => date_format(c, "yyyy-MM-dd")
        case _: DecimalType => c.cast(DoubleType)
        case BinaryType     => c.cast(StringType) // bytes → UTF-8 string
        case _              => c
      }
      coerced.as(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** One SCHEMA line for a stream (driver-side, single line). */
  def schemaMessage(stream: String, df: DataFrame, keyProperties: Seq[String]): String =
    graft.protocol.SingerMessage.Schema(
      stream,
      JsonSchemaConverter.toJsonSchemaNode(coerce(df).schema),
      keyProperties).toJson

  /** How every line of [[recordLines]] starts, and no SCHEMA or STATE
    * line does: the test for "this emitted line is a RECORD".
    */
  final val RecordPrefix = "{\"type\":\"RECORD\""

  /** The `time_extracted` of every RECORD [[emit]] writes: a fixed value
    * (volatile in the reference, scrubbed by its own tests) so output stays
    * deterministic.
    */
  final val TimeExtracted = "1970-01-01T00:00:00.000000Z"

  /** RECORD lines as a Dataset[String], built on the executors; [[emit]]
    * drains it.
    */
  def recordLines(stream: String, df: DataFrame, timeExtracted: String): Dataset[String] = {
    import df.sparkSession.implicits._
    val c = coerce(df)
    // Jackson quotes the stream name, as it does in the SCHEMA line
    val quoted = mapper.writeValueAsString(stream)
    c.select(
      concat(
        lit(RecordPrefix + ",\"stream\":" + quoted + ","),
        lit(""""record":"""),
        to_json(struct(c.columns.map(n => col(s"`$n`")).toSeq: _*)),
        lit(s""","time_extracted":"$timeExtracted"}""")).as("line"))
      .as[String]
  }

  /** Thrown (or any IOException) by an `out` writer to signal the consumer
    * of the Singer stream went away — the EPIPE/SIGPIPE condition the
    * reference swallows to end a sync cleanly (reference `tap.py:62-80`).
    */
  final class DownstreamClosedException extends java.io.IOException("downstream closed")

  /** Full sync emission for one stream to a writer, in one ordered pass:
    * SCHEMA, RECORDs, final STATE. This is the CLI's stdout path.
    *
    * RECORDs arrive through an ordered drain: one job per partition,
    * submitted from the calling thread (so its job group and other local
    * properties attribute the jobs), with up to `defaultParallelism`
    * partitions computing at once and each delivered to `out` whole and
    * strictly in partition order — the order `collect()` gives. A job
    * returns its partition as one block of UTF-8 bytes, newline-ended
    * lines, which the driver cuts into lines for `out`; no RECORD line holds
    * a raw newline (the stream name is Jackson-quoted and `to_json` escapes
    * control characters). The driver therefore holds at most
    * `defaultParallelism` partition blocks at a time, each within
    * `spark.driver.maxResultSize`. When `out` throws or a job fails, every
    * job still outstanding is cancelled before `emit` returns or rethrows.
    *
    * Returns `false` when the downstream consumer closed mid-stream
    * (broken pipe): emission stops cleanly, no exception escapes, and the
    * caller still owns a consistent `state` to persist — the reference's
    * graceful-EPIPE semantics (`tap.py:62-80`, which special-cases
    * BrokenPipeError ONLY). Other IOExceptions (disk full, fetch
    * failures) propagate — swallowing them would commit bookmarks for
    * records that were never delivered — and so does a failed job, after
    * the partitions before it were delivered.
    */
  def emit(
      stream: String,
      df: DataFrame,
      keyProperties: Seq[String],
      state: graft.state.StateStore,
      out: String => Unit): Boolean =
    try {
      out(schemaMessage(stream, df, keyProperties))
      drainInOrder(recordLines(stream, df, TimeExtracted).queryExecution.toRdd, out)
      out(graft.protocol.SingerMessage.State(state.snapshot).toJson)
      true
    } catch {
      case _: DownstreamClosedException => false
      case e: java.io.IOException
          if Option(e.getMessage).exists(_.toLowerCase.contains("broken pipe")) => false
    }

  /** Every line of `lines` (one string column) to `out`, partition by
    * partition in order, with up to `defaultParallelism` single-partition
    * jobs in flight.
    */
  private def drainInOrder(lines: RDD[InternalRow], out: String => Unit): Unit = {
    val sc = lines.sparkContext
    val n = lines.getNumPartitions
    val window = math.max(1, sc.defaultParallelism)
    val blocks = new Array[Array[Byte]](n)
    val jobs = new Array[FutureAction[Unit]](n)
    var submitted = 0
    try {
      for (p <- 0 until n) {
        while (submitted < n && submitted < p + window) {
          val q = submitted
          jobs(q) = sc.submitJob(lines, utf8Block _, Seq(q),
            (_: Int, b: Array[Byte]) => blocks(q) = b, ())
          submitted += 1
        }
        Await.result(jobs(p), Duration.Inf)
        val block = blocks(p)
        blocks(p) = null
        var from = 0
        while (from < block.length) {
          var end = from
          while (block(end) != '\n') end += 1
          out(new String(block, from, end - from, UTF_8))
          from = end + 1
        }
      }
    } finally {
      val outstanding = jobs.filter(j => j != null && !j.isCompleted)
      outstanding.foreach(_.cancel())
      outstanding.foreach(Await.ready(_, Duration.Inf))
    }
  }

  /** A partition's lines as UTF-8 bytes, each ended by a newline. */
  private def utf8Block(rows: Iterator[InternalRow]): Array[Byte] = {
    val buf = new ByteArrayOutputStream(1 << 16)
    rows.foreach { r =>
      r.getUTF8String(0).writeTo(buf)
      buf.write('\n')
    }
    buf.toByteArray
  }
}
