package graft.sync

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.FutureAction
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.JsonSchemaConverter

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
  * codegen'd — the RECORD JSON itself is built by `to_json` on executors;
  * only the envelope is per-row string concat (also codegen'd `concat`).
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

  /** RECORD lines as a Dataset[String] — distributed; write with
    * `ds.write.text` or collect for golden tests. `timeExtracted` is a
    * fixed value (volatile in the reference, scrubbed by its own tests) so
    * output stays deterministic.
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

  /** Full sync emission for one stream to a writer (golden-test mode:
    * single ordered pass — SCHEMA, RECORDs, final STATE). For production
    * sinks use `recordLines(...).write.text(path)` instead of collecting.
    *
    * RECORDs arrive through an ordered drain: one job per partition,
    * submitted from the calling thread (so its job group and other local
    * properties attribute the jobs), with up to `defaultParallelism`
    * partitions computing at once and each delivered to `out` whole and
    * strictly in partition order — the order `collect()` gives. The driver
    * therefore holds up to `defaultParallelism` partitions of lines at a
    * time, each job's result still bounded by `spark.driver.maxResultSize`.
    * When `out` throws or a job fails, every job still outstanding is
    * cancelled before `emit` returns or rethrows.
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
      out: String => Unit,
      timeExtracted: String = "1970-01-01T00:00:00.000000Z",
      orderBy: Seq[String] = Seq.empty): Boolean =
    try {
      out(schemaMessage(stream, df, keyProperties))
      val ordered = if (orderBy.nonEmpty) df.orderBy(orderBy.map(col): _*) else df
      drainInOrder(recordLines(stream, ordered, timeExtracted).rdd, out)
      out(graft.protocol.SingerMessage.State(state.snapshot).toJson)
      true
    } catch {
      case _: DownstreamClosedException => false
      case e: java.io.IOException
          if Option(e.getMessage).exists(_.toLowerCase.contains("broken pipe")) => false
    }

  /** Every line of `lines` to `out`, partition by partition in order, with
    * up to `defaultParallelism` single-partition jobs in flight.
    */
  private def drainInOrder(lines: RDD[String], out: String => Unit): Unit = {
    val sc = lines.sparkContext
    val n = lines.getNumPartitions
    val window = math.max(1, sc.defaultParallelism)
    val parts = new Array[Array[String]](n)
    val jobs = new Array[FutureAction[Unit]](n)
    var submitted = 0
    try {
      for (p <- 0 until n) {
        while (submitted < n && submitted < p + window) {
          val q = submitted
          jobs(q) = sc.submitJob(lines, (it: Iterator[String]) => it.toArray, Seq(q),
            (_: Int, a: Array[String]) => parts(q) = a, ())
          submitted += 1
        }
        Await.result(jobs(p), Duration.Inf)
        val part = parts(p)
        parts(p) = null
        part.foreach(out)
      }
    } finally {
      val outstanding = jobs.filter(j => j != null && !j.isCompleted)
      outstanding.foreach(_.cancel())
      outstanding.foreach(Await.ready(_, Duration.Inf))
    }
  }
}
