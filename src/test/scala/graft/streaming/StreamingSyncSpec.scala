package graft.streaming

import graft.SparkSpec
import graft.state.StateStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

class StreamingSyncSpec extends SparkSpec {

  test("file stream sync: micro-batches land in parquet, bookmark advances, resume skips seen data") {
    import spark.implicits._
    val landing = Files.createTempDirectory("landing").toString
    val out = Files.createTempDirectory("out").toString
    val ckpt = Files.createTempDirectory("ckpt").toString

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))

    // batch 1 lands
    Seq("""{"id":1,"v":"a"}""", """{"id":2,"v":"b"}""").toDS()
      .coalesce(1).write.mode("append").text(landing)

    val state = new StateStore()
    val q1 = StreamingSync.syncToParquet(
      StreamingSync.readJsonlStream(spark, landing, schema),
      "s", out, ckpt, Some("id"), state)
    q1.awaitTermination(60000)
    assert(spark.read.parquet(out).count() == 2)
    assert(state.bookmark("s", "id").contains("2"))

    // batch 2 lands; restart from the SAME checkpoint -> only new file read
    Seq("""{"id":3,"v":"c"}""").toDS().coalesce(1).write.mode("append").text(landing)
    val q2 = StreamingSync.syncToParquet(
      StreamingSync.readJsonlStream(spark, landing, schema),
      "s", out, ckpt, Some("id"), state)
    q2.awaitTermination(60000)
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3) // no duplicates: checkpoint skipped batch 1 files
    assert(state.bookmark("s", "id").contains("3"))
  }

  test("numeric cursor bookmarks compare numerically, not lexicographically") {
    import spark.implicits._
    val landing = Files.createTempDirectory("landing9").toString
    val out = Files.createTempDirectory("out9").toString
    val ckpt = Files.createTempDirectory("ckpt9").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))

    val state = new StateStore()
    state.setBookmark("s", "id", "9") // lexicographically "9" > "10"

    Seq("""{"id":10,"v":"x"}""").toDS().coalesce(1).write.mode("append").text(landing)
    val q = StreamingSync.syncToParquet(
      StreamingSync.readJsonlStream(spark, landing, schema),
      "s", out, ckpt, Some("id"), state)
    q.awaitTermination(60000)
    assert(state.bookmark("s", "id").contains("10")) // advanced: 10 > 9 numerically

    // and a LOWER max must not regress it
    Seq("""{"id":4,"v":"y"}""").toDS().coalesce(1).write.mode("append").text(landing)
    val q2 = StreamingSync.syncToParquet(
      StreamingSync.readJsonlStream(spark, landing, schema),
      "s", out, ckpt, Some("id"), state)
    q2.awaitTermination(60000)
    assert(state.bookmark("s", "id").contains("10"))

    // a foreign bookmark that doesn't parse as the cursor type must not
    // crash the batch (try_cast): it counts as "advance"
    state.setBookmark("s", "id", "done")
    Seq("""{"id":11,"v":"z"}""").toDS().coalesce(1).write.mode("append").text(landing)
    val q3 = StreamingSync.syncToParquet(
      StreamingSync.readJsonlStream(spark, landing, schema),
      "s", out, ckpt, Some("id"), state)
    q3.awaitTermination(60000)
    assert(state.bookmark("s", "id").contains("11"))
  }

  test("streaming dedup within watermark drops replayed records (at-least-once -> effectively-once)") {
    import spark.implicits._
    // connectors replay records after restarts (at-least-once);
    // dropDuplicatesWithinWatermark is the bounded-state streaming dedup
    val input = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val deduped = StreamingSync.dedupByKeyWithinWatermark(
      input.toDF().toDF("id", "v", "ts"), "ts", "10 minutes", Seq("id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    input.addData((1L, "a", ts(0)), (2L, "b", ts(1)), (1L, "a-replay", ts(2)))
    q.processAllAvailable()
    input.addData((2L, "b-replay", ts(3)), (3L, "c", ts(4)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_sink").orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getString(1)).toSeq == Seq("a", "b", "c")) // first wins
  }

  test("stream-static broadcast join enriches a stream against a dimension table") {
    import spark.implicits._
    val landing = Files.createTempDirectory("dimlanding").toString
    val out = Files.createTempDirectory("dimout").toString
    val ckpt = Files.createTempDirectory("dimckpt").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("nation_key", LongType)))
    val dim = graft.Tables.nation(spark, sf)
      .select(col("n_nationkey").as("nation_key"), col("n_name"))

    Seq("""{"id":1,"nation_key":3}""", """{"id":2,"nation_key":7}""").toDS()
      .coalesce(1).write.mode("append").text(landing)
    val enriched = StreamingSync.readJsonlStream(spark, landing, schema)
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("nation_key"))
    val q = enriched.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    q.awaitTermination(60000)
    val rows = spark.read.parquet(out).orderBy("id").collect()
    assert(rows.length == 2 && rows.forall(!_.isNullAt(2))) // names attached
  }

  test("interval join matches a later-batch row against buffered state, within the time bound") {
    import spark.implicits._
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
    val joined = StreamingSync.intervalJoinStream(
      clicks.toDF().toDF("user_id", "click_id", "c_ts"), "c_ts",
      purchases.toDF().toDF("p_user_id", "purchase_id", "p_ts"), "p_ts",
      "user_id = p_user_id AND p_ts >= c_ts AND p_ts <= c_ts + interval 1 hour",
      delay = "2 hours")
      .select("user_id", "click_id", "purchase_id")
    val q = joined.writeStream.format("memory").queryName("ij_sink")
      .outputMode("append").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // batch 1: clicks only — nothing can join yet
    clicks.addData((1L, 100L, ts(0)), (2L, 200L, ts(5)))
    q.processAllAvailable()
    assert(spark.table("ij_sink").count() == 0)
    // batch 2: purchases arrive — user 1 within the hour joins the
    // BUFFERED click; user 2's purchase lands outside the bound
    purchases.addData((1L, 900L, ts(30)),
      (2L, 901L, java.sql.Timestamp.valueOf("2024-01-01 11:06:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ij_sink").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 100L, 900L)))
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    import spark.implicits._
    val input = MemoryStream[StreamingSync.SessionEvent](spark)
    val sessions = StreamingSync.sessionizeStream(input.toDS(), gapSeconds = 100L)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 7: two events close together, then a gap > 100s, then one more
      input.addData(StreamingSync.SessionEvent(7L, 1000L), StreamingSync.SessionEvent(7L, 1050L))
      q.processAllAvailable()
      input.addData(StreamingSync.SessionEvent(7L, 2000L)) // gap 950s -> closes first session
      q.processAllAvailable()
      val closed = spark.sql("SELECT * FROM sessions").as[StreamingSync.ClosedSession].collect()
      assert(closed.length == 1)
      assert(closed.head == StreamingSync.ClosedSession(7L, 1000L, 1050L, 2))
    } finally q.stop()
  }

  test("stateful attribution credits purchases to the carried last touch across batches") {
    import spark.implicits._
    import StreamingSync.{TouchEvent, AttributedPurchase}
    val input = MemoryStream[TouchEvent](spark)
    val q = StreamingSync.attributeStream(input.toDS())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      // batch 1: a click, then a purchase (in-batch attribution), then a
      // view that becomes the new last touch; out-of-order WITHIN the
      // batch is sorted by (ts_us, event_id) before state applies
      input.addData(
        TouchEvent(3L, 7L, 300L, "view"),
        TouchEvent(1L, 7L, 100L, "click"),
        TouchEvent(2L, 7L, 200L, "purchase"),
        TouchEvent(4L, 9L, 100L, "purchase")) // user 9: no prior touch
      q.processAllAvailable()
      // batch 2: a purchase only — its touch must come from batch-1 STATE
      input.addData(TouchEvent(5L, 7L, 900L, "purchase"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM attrib").as[AttributedPurchase]
        .collect().sortBy(_.purchase_id)
      assert(rows.toSeq == Seq(
        AttributedPurchase(2L, 7L, Some(1L), Some("click"), Some(100L)),
        AttributedPurchase(4L, 9L, None, None, None),
        AttributedPurchase(5L, 7L, Some(3L), Some("view"), Some(600L))))
    } finally q.stop()
  }

  test("windowed counts with watermark aggregate per event-time window") {
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)](spark)
    val df = input.toDS().toDF("ts", "event_type")
    val agg = StreamingSync.windowedCounts(df, watermarkDelay = "0 seconds", windowLen = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("wc").outputMode("append").start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData((ts(1), "click"), (ts(2), "click"), (ts(11), "view"))
      q.processAllAvailable()
      input.addData((ts(40), "click")) // advances watermark past both windows
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, n FROM wc ORDER BY event_type").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet == Set(("click", 2L), ("view", 1L)))
    } finally q.stop()
  }

  test("twaStream accumulates hold segments across micro-batches") {
    import spark.implicits._
    val input = MemoryStream[StreamingSync.ValueEvent](spark)
    val q = StreamingSync.twaStream(input.toDS()).writeStream
      .format("memory").queryName("twa_sink").outputMode("append").start()
    try {
      // v=10 held 1s: first event reports itself; second has area 10/span 1
      input.addData(
        StreamingSync.ValueEvent(1L, 1L, 0L, 10L),
        StreamingSync.ValueEvent(2L, 1L, 1L, 0L))
      q.processAllAvailable()
      // batch 2 continues the hold: 0 held 3s → area 10, span 4 → 2.5
      input.addData(StreamingSync.ValueEvent(3L, 1L, 4L, 100L))
      q.processAllAvailable()
      val rows = spark.table("twa_sink").orderBy("event_id").collect()
      assert(rows.map(r => (r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq ===
        Seq((0L, 0L, 10.0), (10L, 1L, 10.0), (10L, 4L, 2.5)))
    } finally q.stop()
  }

  test("cusumStream carries baseline/sum/min state across micro-batches") {
    import spark.implicits._
    val input = MemoryStream[StreamingSync.ValueEvent](spark)
    val q = StreamingSync.cusumStream(input.toDS(), slack = 2L, threshold = 10L)
      .writeStream.format("memory").queryName("cusum_sink")
      .outputMode("append").start()
    try {
      // tgt=10: d=-2,-12 → S=-2,-14; c⁺=0,0
      input.addData(
        StreamingSync.ValueEvent(1L, 1L, 1000L, 10L),
        StreamingSync.ValueEvent(2L, 1L, 2000L, 0L))
      q.processAllAvailable()
      // batch 2 continues: d=8,8 → S=-6,2; floor=-14 → c⁺=8,16 (alarm)
      input.addData(
        StreamingSync.ValueEvent(3L, 1L, 3000L, 20L),
        StreamingSync.ValueEvent(4L, 1L, 4000L, 20L))
      q.processAllAvailable()
      val rows = spark.table("cusum_sink").orderBy("event_id").collect()
      assert(rows.map(r => (r.getLong(2), r.getBoolean(3))).toSeq ===
        Seq((0L, false), (0L, false), (8L, false), (16L, true)))
    } finally q.stop()
  }

  test("ewmaStream carries the smoothed value across micro-batches") {
    import spark.implicits._
    val input = MemoryStream[StreamingSync.ValueEvent](spark)
    val q = StreamingSync.ewmaStream(input.toDS()).writeStream
      .format("memory").queryName("ewma_sink").outputMode("append").start()
    try {
      // batch 1: user 1 sees 8 then 4 → s=8, then (8+4)/2=6
      input.addData(
        StreamingSync.ValueEvent(2L, 1L, 2000L, 4L),  // out of order in batch:
        StreamingSync.ValueEvent(1L, 1L, 1000L, 8L))  // function sorts by ts_us
      q.processAllAvailable()
      // batch 2: continues from state 6, not from scratch → (6+2)/2=4
      input.addData(StreamingSync.ValueEvent(3L, 1L, 3000L, 2L))
      q.processAllAvailable()
      val rows = spark.table("ewma_sink").orderBy("event_id").collect()
      assert(rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq ===
        Seq((1L, 8.0), (2L, 6.0), (3L, 4.0)))
    } finally q.stop()
  }

  test("holtStream carries level AND trend across micro-batches") {
    import spark.implicits._
    val input = MemoryStream[StreamingSync.ValueEvent](spark)
    val q = StreamingSync.holtStream(input.toDS()).writeStream
      .format("memory").queryName("holt_sink").outputMode("append").start()
    try {
      // batch 1: 10, 20 → (l,b) = (10,0) then l=(20+10+0)/2=15, b=(0+5)/2=2
      input.addData(
        StreamingSync.ValueEvent(2L, 1L, 2000L, 20L), // out of order in batch:
        StreamingSync.ValueEvent(1L, 1L, 1000L, 10L)) // function sorts by ts_us
      q.processAllAvailable()
      // batch 2: 30 continues from (15,2) → l=(30+15+2)/2=23, b=(2+8)/2=5
      input.addData(StreamingSync.ValueEvent(3L, 1L, 3000L, 30L))
      q.processAllAvailable()
      val rows = spark.table("holt_sink").orderBy("event_id").collect()
      assert(rows.map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSeq ===
        Seq((10L, 0L, 10L), (15L, 2L, 17L), (23L, 5L, 28L)))
    } finally q.stop()
  }

  test("anomalyStream flags a spike against PRIOR moments across batches") {
    import spark.implicits._
    val input = MemoryStream[StreamingSync.ValueEvent](spark)
    val q = StreamingSync.anomalyStream(input.toDS()).writeStream
      .format("memory").queryName("anomaly_sink").outputMode("append").start()
    try {
      // batch 1: steady 10, 10, 10 — first two unguarded (n<2), third has
      // prior n=2, Sx=20, Sxx=200: lhs=(2·10−20)²=0, rhs=9·(400−400)=0
      input.addData(
        StreamingSync.ValueEvent(1L, 1L, 1000L, 10L),
        StreamingSync.ValueEvent(2L, 1L, 2000L, 10L),
        StreamingSync.ValueEvent(3L, 1L, 3000L, 10L))
      q.processAllAvailable()
      // batch 2: spike 100 against prior (3, 30, 300):
      // lhs=(3·100−30)²=72900, rhs=9·(3·300−900)=0 → anomaly
      input.addData(StreamingSync.ValueEvent(4L, 1L, 4000L, 100L))
      q.processAllAvailable()
      val rows = spark.table("anomaly_sink").orderBy("event_id").collect()
      assert(rows.map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getBoolean(5))).toSeq === Seq(
        (0L, 0L, 0L, false), (1L, 0L, 0L, false), (2L, 0L, 0L, false),
        (3L, 72900L, 0L, true)))
    } finally q.stop()
  }

  test("kmvDistinctStream: sketch state saturates and trims across batches") {
    import spark.implicits._
    val input = MemoryStream[StreamingSync.ValueEvent](spark)
    // k=3, v carries the hash directly
    val q = StreamingSync.kmvDistinctStream(input.toDS(), k = 3).writeStream
      .format("memory").queryName("kmv_sink").outputMode("append").start()
    try {
      // batch 1: hashes 50, 30, 50(dup) → n=1,2,2 (exact below k)
      input.addData(
        StreamingSync.ValueEvent(1L, 1L, 1000L, 50L),
        StreamingSync.ValueEvent(2L, 1L, 2000L, 30L),
        StreamingSync.ValueEvent(3L, 1L, 3000L, 50L))
      q.processAllAvailable()
      // batch 2: 10 saturates → s=[10,30,50], est=(2·2^32) div 50;
      // then 20 trims 50 → s=[10,20,30], est=(2·2^32) div 30;
      // then 99 (beyond max) leaves state → same est
      input.addData(
        StreamingSync.ValueEvent(4L, 1L, 4000L, 10L),
        StreamingSync.ValueEvent(5L, 1L, 5000L, 20L),
        StreamingSync.ValueEvent(6L, 1L, 6000L, 99L))
      q.processAllAvailable()
      val rows = spark.table("kmv_sink").orderBy("event_id").collect()
      val est50 = 2L * 4294967296L / 50L
      val est30 = 2L * 4294967296L / 30L
      assert(rows.map(r => (r.getLong(2), r.getLong(3))).toSeq === Seq(
        (1L, 1L), (2L, 2L), (2L, 2L),
        (3L, est50), (3L, est30), (3L, est30)))
    } finally q.stop()
  }

  test("anomalyStream tolerates in-distribution values after variance exists") {
    import spark.implicits._
    val input = MemoryStream[StreamingSync.ValueEvent](spark)
    val q = StreamingSync.anomalyStream(input.toDS()).writeStream
      .format("memory").queryName("anomaly_sink2").outputMode("append").start()
    try {
      // varied history 10, 20, 30 then an in-band 25:
      // prior (3, 60, 1400): lhs=(75−60)²=225, rhs=9·(4200−3600)=5400 → ok
      input.addData(
        StreamingSync.ValueEvent(1L, 1L, 1000L, 10L),
        StreamingSync.ValueEvent(2L, 1L, 2000L, 20L),
        StreamingSync.ValueEvent(3L, 1L, 3000L, 30L),
        StreamingSync.ValueEvent(4L, 1L, 4000L, 25L))
      q.processAllAvailable()
      val r = spark.table("anomaly_sink2").orderBy("event_id").collect().last
      assert((r.getLong(3), r.getLong(4), r.getBoolean(5)) ===
        ((225L, 5400L, false)))
    } finally q.stop()
  }
}
