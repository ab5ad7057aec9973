package graft.sync

import graft.SparkSpec
import graft.state.StateStore
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import scala.collection.mutable.ArrayBuffer

class SingerSinkSpec extends SparkSpec {
  import spark.implicits._
  private val m = new ObjectMapper()

  test("coerce: timestamps ISO-8601, decimals to double, binary to string") {
    val df = Seq(1).toDF("i").select(
      lit("2024-01-01 12:34:56").cast("timestamp").as("ts"),
      lit(BigDecimal("1.50")).as("d"),
      lit("abc").cast("binary").as("b"))
    val out = SingerSink.coerce("s", df).head()
    assert(out.getString(0).startsWith("2024-01-01T12:34:56"))
    assert(out.getDouble(1) == 1.5)
    assert(out.getString(2) == "abc")
  }

  test("full emission: SCHEMA, ordered RECORDs, final STATE — golden protocol shape") {
    val df = Seq((2L, "b"), (1L, "a")).toDF("id", "name")
    val state = new StateStore()
    state.setBookmark("s1", "id", "2")
    val lines = ArrayBuffer.empty[String]
    SingerSink.emit("s1", df.orderBy("id"), Seq("id"), state, lines += _)

    assert(lines.size == 4) // 1 SCHEMA + 2 RECORD + 1 STATE
    val schema = m.readTree(lines.head)
    assert(schema.get("type").asText == "SCHEMA")
    assert(schema.get("stream").asText == "s1")
    assert(schema.get("key_properties").get(0).asText == "id")
    assert(schema.get("schema").get("properties").has("name"))

    val rec1 = m.readTree(lines(1))
    assert(rec1.get("type").asText == "RECORD")
    assert(rec1.get("record").get("id").asLong == 1L) // ordered emission
    assert(rec1.has("time_extracted"))

    val st = m.readTree(lines.last)
    assert(st.get("type").asText == "STATE")
    assert(st.get("value").has("airbyte_state"))
  }

  test("downstream close mid-emit ends the sync cleanly; state survives") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    val state = new StateStore()
    state.setBookmark("s1", "id", "3")
    val lines = ArrayBuffer.empty[String]
    // consumer dies after 2 lines (SCHEMA + 1 RECORD) — broken pipe
    val completed = SingerSink.emit("s1", df.orderBy("id"), Seq("id"), state, { l =>
      if (lines.size >= 2) throw new java.io.IOException("Broken pipe")
      lines += l
      ()
    })
    assert(!completed)   // signalled, not thrown
    assert(lines.size == 2)
    // state is still intact and saveable — the --state-out path works
    val p = java.nio.file.Files.createTempFile("state", ".json")
    state.save(p)
    assert(StateStore.load(p).bookmark("s1", "id").contains("3"))
  }

  test("record lines are valid JSONL with stable values") {
    val df = Seq((1L, 2.5, "x")).toDF("id", "v", "s")
    val line = SingerSink.recordLines("t", df, "1970-01-01T00:00:00Z").head()
    val n = m.readTree(line)
    assert(n.get("record").get("v").asDouble == 2.5)
    assert(n.get("time_extracted").asText == "1970-01-01T00:00:00Z")
  }

  test("a stream name with a quote and a backslash is escaped in every RECORD envelope") {
    val name = "a\"b\\c"
    val lines = ArrayBuffer.empty[String]
    assert(SingerSink.emit(name, Seq((1L, "x"), (2L, "y")).toDF("id", "v").orderBy("id"), Seq("id"),
      new StateStore(), lines += _))
    val records = lines.filter(_.startsWith(SingerSink.RecordPrefix)).map(m.readTree)
    assert(records.size == 2)
    assert(records.forall(_.get("stream").asText == name))
    assert(records.map(_.get("record").get("id").asLong) == Seq(1L, 2L))
  }

  private val ts = SingerSink.TimeExtracted

  /** The RECORD lines `emit` delivers for `df`, after checking it completed. */
  private def emittedRecords(df: DataFrame): Seq[String] = {
    val lines = ArrayBuffer.empty[String]
    assert(SingerSink.emit("s", df, Seq("id"), new StateStore(), lines += _))
    lines.slice(1, lines.size - 1).toSeq
  }

  test("ordered drain: RECORD lines arrive in collect() order over 8+ partitions") {
    val df = spark.range(0, 2000, 1, 9).select(col("id"), (col("id") * 7919 % 2003).as("k"))
    val plain = SingerSink.recordLines("s", df, ts)
    assert(plain.rdd.getNumPartitions == 9)
    assert(emittedRecords(df) == plain.collect().toSeq)

    // a sorted frame: a range shuffle into 8 partitions, none coalesced away
    val conf = Seq("spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val sorted = SingerSink.recordLines("s", df.orderBy("k"), ts)
      assert(sorted.rdd.getNumPartitions == 8)
      val lines = emittedRecords(df.orderBy("k"))
      assert(lines == sorted.collect().toSeq)
      val ks = lines.map(l => m.readTree(l).get("record").get("k").asLong)
      assert(ks.size == 2000 && ks == ks.sorted)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("downstream close cancels the partitions still computing; no job is left running") {
    // every partition after the first takes 10 s unless its task is killed
    val slow = udf { (id: Long) =>
      var i = 0
      while (id >= 10 && i < 100 && !TaskContext.get().isInterrupted()) { Thread.sleep(10); i += 1 }
      id
    }
    val df = spark.range(0, 80, 1, 8).select(slow(col("id")).as("id"))
    val lines = ArrayBuffer.empty[String]
    val completed = SingerSink.emit("s", df, Seq("id"), new StateStore(), { l =>
      if (lines.size == 3) throw new SingerSink.DownstreamClosedException()
      lines += l
      ()
    })
    assert(!completed)
    assert(lines.size == 3) // SCHEMA + 2 RECORDs of partition 0
    eventually(timeout(3.seconds), interval(20.millis)) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    }
  }

  test("a task failing in the last partition surfaces after the earlier partitions were delivered") {
    val boom = udf { (id: Long) =>
      if (id == 60) Thread.sleep(2000) // partition 6 is still computing ...
      if (id == 79) throw new IllegalStateException("boom in the last partition") // ... when 7 fails
      id
    }
    val df = spark.range(0, 80, 1, 8).select(boom(col("id")).as("id"))
    val lines = ArrayBuffer.empty[String]
    val e = intercept[org.apache.spark.SparkException] {
      SingerSink.emit("s", df, Seq("id"), new StateStore(), lines += _)
    }
    assert(e.getMessage.contains("boom in the last partition"), e.getMessage)
    assert(lines.size == 1 + 70) // SCHEMA + partitions 0-6, in order; no STATE
    assert(lines.tail.map(l => m.readTree(l).get("record").get("id").asLong) == (0L until 70L))
  }

  test("byte framing: RECORD lines equal collect() through multi-byte text, escapes, binary and empty partitions") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType), StructField("b", BinaryType)))
    val rows = Seq(
      Row(1L, "caf\u00e9 \u4e2d \ud83d\ude00", Array[Byte](0x0A, 0xFF.toByte)),
      Row(2L, "q\"b\\n\nl", null),
      Row(null, null, Array[Byte](0x61, 0x0A, 0x62)),
      Row(4L, "", Array.emptyByteArray))
    // 4 rows over 7 slices: some partitions are empty
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 7), schema)
    val expected = SingerSink.recordLines("s", df, ts).collect().toSeq
    assert(df.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ == 0) >= 3)
    val lines = emittedRecords(df)
    assert(lines == expected)
    val recs = lines.map(m.readTree(_).get("record"))
    def field(name: String) = recs.map(r => Option(r.get(name)).filterNot(_.isNull).map(_.asText))
    assert(field("s") == Seq(Some("caf\u00e9 \u4e2d \ud83d\ude00"), Some("q\"b\\n\nl"), None, Some("")))
    assert(field("id") == Seq(Some("1"), Some("2"), None, Some("4")))
    assert(field("b").map(_.map(_.take(1))) == Seq(Some("\n"), None, Some("a"), Some("")))
    assert(field("b")(2).contains("a\nb"))
  }

  test("a NaN or infinite double or float fails emit, naming the stream and the column") {
    val frames = Seq(
      "x" -> Seq((1L, 2.5), (2L, Double.NaN)).toDF("id", "x"),
      "y" -> Seq((1L, Float.NegativeInfinity)).toDF("id", "y"))
    frames.foreach { case (column, df) =>
      val e = intercept[RuntimeException] {
        SingerSink.emit("s", df, Seq("id"), new StateStore(), _ => ())
      }
      assert(e.getMessage.contains(s"stream s: column $column holds a non-finite number"), e.getMessage)
    }
  }

  test("a zero-row frame emits SCHEMA and STATE only") {
    val df = spark.range(0, 100, 1, 5).toDF().where(col("id") < 0)
    val lines = ArrayBuffer.empty[String]
    assert(SingerSink.emit("s", df, Seq("id"), new StateStore(), lines += _))
    assert(lines.map(m.readTree(_).get("type").asText) == Seq("SCHEMA", "STATE"))
  }
}
