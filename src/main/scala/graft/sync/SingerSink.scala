package graft.sync

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.FutureAction
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.JsonSchemaConverter
import graft.sources.SubprocessSource

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Singer-protocol output: SCHEMA + RECORD (+ STATE) JSONL, matching the
  * reference's emitted shape (reference `tap_airbyte/tap.py:62-77`,
  * `tap.py:956-965`; fixture `tests/fixtures/KPHX.singer`).
  *
  * RECORDs take one of two paths, and every line is built on the
  * executors as UTF-8 bytes, so the driver only cuts the returned byte
  * blocks into lines:
  *  - passthrough: a connector stream that reaches the sink untransformed
  *    (no stream map, no flattening, no field drop, no reorder; see
  *    [[graft.sources.SubprocessSource.SpillPath]]) renders each RECORD as
  *    the envelope `concat` around the spilled `data` bytes. Values are
  *    forwarded as the connector sent them, as in the reference
  *    (`tap.py:819-884`), even when they do not fit the declared type, and
  *    explicit nulls and undeclared fields are kept.
  *  - typed: every other frame renders through [[coerce]] and `to_json`.
  *    The scalar coercion policy re-expresses the reference's `default()`
  *    serializer fallback (`tap.py:48-59`): datetime/date → ISO-8601
  *    string, Decimal → double, bytes → UTF-8 string, everything else
  *    stringified, as Catalyst casts so serialization is distributed and
  *    codegen'd. A NaN or infinite top-level double or float fails the
  *    job: JSON has no number for it.
  */
object SingerSink {
  private val mapper = new ObjectMapper()

  /** Coerce `stream`'s frame to Singer-serializable columns (tap.py:48-59
    * policy). A NaN or infinite double or float column value raises an
    * error naming the stream and the column when the row is computed:
    * `to_json` would render it as a JSON string, which the stream's own
    * SCHEMA line forbids.
    */
  def coerce(stream: String, df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      val coerced = f.dataType match {
        case TimestampType | TimestampNTZType =>
          date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        case DateType       => date_format(c, "yyyy-MM-dd")
        case _: DecimalType => c.cast(DoubleType)
        case BinaryType     => c.cast(StringType) // bytes → UTF-8 string
        case DoubleType | FloatType =>
          when(isnan(c) || abs(c) === Double.PositiveInfinity, raise_error(lit(
            s"stream $stream: column ${f.name} holds a non-finite number, which JSON cannot carry")))
            .otherwise(c)
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
      JsonSchemaConverter.toJsonSchemaNode(coerce(stream, df).schema),
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
    * drains it. A frame tagged with its spill file
    * ([[graft.sources.SubprocessSource.SpillPath]]) renders from the spill
    * text, each `record` being the connector's `data` bytes unchanged (no
    * `from_json`, no [[coerce]], no `to_json`); any other frame renders
    * typed, through [[coerce]] and `to_json`.
    */
  def recordLines(stream: String, df: DataFrame, timeExtracted: String): Dataset[String] = {
    import df.sparkSession.implicits._
    val (rows, record) = df.queryExecution.logical.getTagValue(SubprocessSource.SpillPath) match {
      case Some(spill) => (df.sparkSession.read.text(spill), col("value"))
      case None =>
        val c = coerce(stream, df)
        (c, to_json(struct(c.columns.map(n => col(s"`$n`")).toSeq: _*)))
    }
    // Jackson quotes the stream name, as it does in the SCHEMA line
    val quoted = mapper.writeValueAsString(stream)
    rows.select(
      concat(
        lit(RecordPrefix + ",\"stream\":" + quoted + ",\"record\":"),
        record,
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
    * a raw newline (the stream name is Jackson-quoted, `to_json` escapes
    * control characters, and a spilled `data` comes from one protocol
    * line). The driver therefore holds at most
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
          // One RDD per job: a failed stage fails every active job whose
          // lineage holds that stage's RDD, so jobs sharing `lines` would
          // let a later partition's failure abort an earlier one.
          jobs(q) = sc.submitJob(lines.mapPartitions(rows => rows), utf8Block _, Seq(q),
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
