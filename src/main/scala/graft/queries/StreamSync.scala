package graft.queries

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Tables
import graft.catalog.ConfiguredCatalog
import graft.sources.SubprocessSource
import graft.state.StateStore
import graft.streaming.StreamingSync

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

/** The streaming sync path under the DuckDB oracle gate: a bounded
  * connector replay (an Airbyte-protocol child process emitting the nation
  * table as RECORD lines) runs through the engine's REAL topology —
  * SubprocessSource demux → per-stream spill JSONL → checkpointed
  * Structured Streaming sync (`StreamingSync.readJsonlStream` →
  * `syncToParquet`, AvailableNow trigger) → parquet sink — and the sink
  * table is what the driver hash-compares against DuckDB reading the same
  * nation parquet. Batch/stream equivalence, end to end (reference sync
  * loop `tap_airbyte/tap.py:781-902`, re-expressed as micro-batches).
  *
  * The fixture (script + replay JSONL + sink + checkpoint) is keyed by the
  * source parquet's (mtime, size) like Parity.fileSourceStream, with a
  * completion marker written only after the sink row count is verified —
  * a partial prior attempt can never masquerade as a finished sync.
  * Fixture generation collects the 25 nation rows driver-side by design
  * (bounded replay input, not an operator path).
  *
  * Every other `q_stream_*` fixture is one [[replay]]: its batches are
  * [[land]]ed as JSONL files in strictly increasing mtime order (one file
  * per micro-batch under maxFilesPerTrigger = 1), its stream transform
  * runs to a checkpointed parquet sink under AvailableNow, its guard runs
  * on the finished sink BEFORE the `_DONE` marker is written, and the
  * sink path is returned only once `_DONE` exists — a failed guard leaves
  * no marker, so the next call rebuilds instead of serving the sink.
  */
object StreamSync {

  /** Await an AvailableNow query, stopping and failing loudly on timeout —
    * a timed-out query left running would keep writing into the fixture
    * root and race the next attempt's cleanup.
    */
  private def awaitOrFail(
      q: org.apache.spark.sql.streaming.StreamingQuery, ms: Long, what: String): Unit =
    if (!q.awaitTermination(ms)) {
      q.stop()
      sys.error(s"$what did not finish within ${ms / 1000}s — sink left unmarked")
    }

  /** Land each frame of `batches` under `dir` as the JSONL of all its
    * columns (timestamps at full µs precision), one file per frame, and
    * return the glob that reads them. Each frame is staged as ONE text
    * part-file beside `dir` (never inside it, where the glob would pick
    * the staging up as an extra batch), moved in, and its staging
    * directory deleted. Micro-batch order
    * under maxFilesPerTrigger = 1 is the files' mtime order, so the files
    * get strictly increasing mtimes taken from the first file (never the
    * wall clock), which survives a slow stage step.
    */
  private[queries] def land(dir: Path, batches: Seq[DataFrame]): String = {
    Files.createDirectories(dir)
    val files = batches.zipWithIndex.map { case (df, i) =>
      val staged = dir.resolveSibling(s"staged_${dir.getFileName}_${i + 1}")
      df.select(to_json(struct(df.columns.map(col).toSeq: _*),
          Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")))
        .coalesce(1).write.text(staged.toString)
      val listing = Files.list(staged)
      val part =
        try listing.filter(_.toString.endsWith(".txt")).findFirst().orElseThrow()
        finally listing.close()
      val landed = Files.move(part, dir.resolve(s"batch${i + 1}.jsonl"))
      Fixtures.deleteRecursively(staged)
      landed
    }
    val t0 = Files.getLastModifiedTime(files.head).toMillis
    files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, FileTime.fromMillis(t0 + 2000L * i))
    }
    s"$dir/*.jsonl"
  }

  /** [[land]] `batches` under `dir` and read them back as a stream, one
    * file per micro-batch, under the first batch's schema.
    */
  private def replayed(s: SparkSession, dir: Path, batches: Seq[DataFrame]): DataFrame =
    StreamingSync.readJsonlStream(s, land(dir, batches), batches.head.schema,
      maxFilesPerTrigger = 1)

  /** The fixture harness: build `name`'s stream from the fixture root
    * (keyed by `$d/$table.parquet`), run it to a parquet sink with a
    * checkpoint under AvailableNow (failing after 180 s), run `guard` on
    * the sink, and only then write `_DONE`. Built once per root across
    * JVMs ([[Fixtures.ensure]]); returns the sink path.
    */
  private[queries] def replay(s: SparkSession, d: String, table: String, name: String)(
      build: Path => Dataset[_])(guard: DataFrame => Unit): String = {
    val root = Fixtures.root(d, table, name)
    val sink = root.resolve("sink").toString
    Fixtures.ensure(root) {
      val q = build(root).writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .format("parquet")
        .option("path", sink)
        .start()
      awaitOrFail(q, 180000, s"$name replay")
      guard(s.read.parquet(sink))
      Files.createFile(root.resolve("_DONE"))
      ()
    }
    sink
  }

  /** Require `got` and `want` to hold the same rows: every distinct row
    * of `got`'s columns must occur exactly twice in their union.
    */
  private[queries] def requireSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val diff = got.unionByName(want)
      .groupBy(got.columns.map(col).toSeq: _*).agg(count(lit(1)).as("k"))
      .filter(col("k") =!= 2).count()
    require(diff == 0L,
      s"$what: $diff ${got.columns.mkString("(", ", ", ")")} rows diverge")
  }

  /** A one-row watermark sentinel `offsetMs` past `maxTs`, in the
    * (event_id, event_type, ts) shape of the window replays; its
    * `__sentinel__` type keeps its own windows apart from the real ones.
    */
  private def eventSentinel(s: SparkSession, maxTs: java.sql.Timestamp, offsetMs: Long): DataFrame =
    s.range(1).select(lit(-1L).as("event_id"), lit("__sentinel__").as("event_type"),
      lit(new java.sql.Timestamp(maxTs.getTime + offsetMs)).as("ts"))

  private def sinkDir(s: SparkSession, d: String): String = {
    val root = Fixtures.root(d, "nation", "stream_sync")
    val marker = root.resolve("_DONE")
    val sink = root.resolve("sink")
    Fixtures.ensure(root) {
        Files.createDirectories(root)

        // 1. Bounded connector replay: one RECORD line per nation row, a
        // discover-able catalog, and a trailing STATE — the protocol shape
        // the reference consumes from a real connector container.
        val rows = Tables.nation(s, d).orderBy("n_nationkey")
          .select(to_json(struct(col("n_nationkey"), col("n_name"), col("n_regionkey"))).as("j"))
          .collect().map(_.getString(0))
        val records = rows.map(j =>
          s"""{"type":"RECORD","record":{"stream":"nation","data":$j}}""")
        Files.writeString(root.resolve("records.jsonl"), records.mkString("\n") + "\n")
        val catalog =
          """{"streams":[{"name":"nation","json_schema":{"type":"object","properties":{
            |"n_nationkey":{"type":["null","integer"]},
            |"n_name":{"type":["null","string"]},
            |"n_regionkey":{"type":["null","integer"]}}},
            |"supported_sync_modes":["full_refresh"]}]}""".stripMargin.replaceAll("\n", "")
        val script = root.resolve("conn.sh")
        Files.writeString(script, Seq(
          "#!/bin/sh",
          s"""if [ "$$1" = "discover" ]; then echo '{"type":"CATALOG","catalog":$catalog}'; exit 0; fi""",
          s"""cat "${root.resolve("records.jsonl")}"""",
          """echo '{"type":"STATE","state":{"type":"LEGACY","data":{"nation":{"done":true}}}}'"""
        ).mkString("\n") + "\n")

        // 2. Engine demux: connector stdout → spill JSONL (one file/stream).
        val src = new SubprocessSource(
          Seq("/bin/sh", script.toString), new ObjectMapper().createObjectNode(), root)
        val cat = src.discover(s)
        val meta = cat.streams.find(_.name == "nation").getOrElse(
          sys.error("stream_sync replay: connector catalog missing 'nation'"))
        src.read(s, ConfiguredCatalog.configure(cat, _ == "nation"), new StateStore())

        // 3. Checkpointed micro-batch sync of the spill landing dir.
        val q = StreamingSync.syncToParquet(
          StreamingSync.readJsonlStream(s, s"$root/spill/*.jsonl", meta.sparkSchema),
          "nation", sink.toString, root.resolve("ckpt").toString,
          Some("n_nationkey"), new StateStore())
        awaitOrFail(q, 120000, "stream_sync replay")

        val n = s.read.parquet(sink.toString).count()
        require(n == rows.length.toLong,
          s"stream_sync sink has $n rows, expected ${rows.length}")
        Files.createFile(marker)
        ()
    }
    sink.toString
  }

  /** Watermarked windowed aggregation, stream vs batch: the events table
    * replayed through a JSONL landing dir into
    * [[StreamingSync.windowedCounts]] (30-minute watermark, 10-minute
    * windows, append mode), sunk to parquet; the driver hash-compares the
    * sink against DuckDB computing the same 10-minute buckets in batch.
    *
    * Append mode only emits a window once the watermark passes it, and the
    * watermark a micro-batch uses is the one established by the PREVIOUS
    * batch — so a single-batch replay would emit nothing, and the last
    * `delay` of real windows needs the watermark pushed past them. The
    * replay therefore lands three files processed as three batches
    * (maxFilesPerTrigger=1, mtime order): all real events (one file — one
    * batch, so no intra-replay late drops: the watermark is still -inf
    * while every real event is aggregated), then two sentinel events 2h/4h
    * past the real max. Batch 2's watermark (real max − 30 m) flushes all
    * but the trailing real windows; batch 3's (real max + 1.5 h) flushes
    * the rest. Sentinel rows are filtered from the result; the completion
    * marker requires sum(n) over real windows == real event count, so a
    * silently dropped window can never pass as done.
    */
  private def windowSinkDir(s: SparkSession, d: String): String =
    replay(s, d, "events", "stream_window") { root =>
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      // Real events in ONE file (one micro-batch), then the two sentinels.
      StreamingSync.windowedCounts(
        replayed(s, root.resolve("landing"), Seq(ev,
          eventSentinel(s, maxTs, 2L * 3600 * 1000),
          eventSentinel(s, maxTs, 4L * 3600 * 1000))),
        "ts", watermarkDelay = "30 minutes", windowLen = "10 minutes")
    } { sunk =>
      val real = sunk.filter(col("event_type") =!= "__sentinel__")
      val emitted = real.agg(sum(col("n"))).head().getLong(0)
      val expected = Tables.events(s, d).count()
      require(emitted == expected,
        s"stream_window sink covers $emitted events, expected $expected — " +
          "a window was dropped or withheld")
    }

  /** Watermark LATE-DROP accounting under the oracle: the missing half of
    * q_stream_window's contract. That fixture proves on-time rows all
    * flush; this one proves genuinely late rows are DROPPED — the
    * behavior that bounds streaming state at 100 TB (without it, state
    * grows with the corpus and the job eventually dies).
    *
    * Replay (maxFilesPerTrigger = 1, mtime order):
    *   batch 1 — every on-time event (all events EXCEPT the planted
    *     stragglers). Watermark during the batch is still -inf, so
    *     nothing here is late; max real ts M establishes wm = M - 30 m.
    *   batch 2 — a single sentinel row AT ts = M: Spark filters late
    *     events with the watermark lagged ONE batch behind eviction
    *     (the SPARK-40925 late/eviction split), so stragglers landing
    *     in the very batch after the wm-advancing data are NOT dropped
    *     — this spacer batch lets M - 30 m become the late-filter
    *     watermark before the stragglers arrive (empirically verified:
    *     without it all 100 stragglers leak into the aggregate).
    *   batch 3 — the stragglers: events with event_id % 97 == 0 AND
    *     ts < M - 1 day, re-landed now. Every one is > 23.5 h older than
    *     the late-filter watermark — far beyond any boundary subtlety —
    *     so the aggregation must drop ALL of them.
    *   batches 4/5 — the q_stream_window sentinel pair (+2 h / +4 h)
    *     flushing every real window out of append-mode state.
    * The completion marker requires sum(n) == the on-time count exactly:
    * a single straggler sneaking in (or an on-time window withheld) fails
    * the build. The oracle recomputes the same windows over the same
    * NOT-straggler predicate in DuckDB.
    */
  private def lateSinkDir(s: SparkSession, d: String): String = {
    lazy val maxTs = Tables.events(s, d).agg(max(col("ts"))).head().getTimestamp(0)
    def straggler = col("event_id") % 97 === 0 &&
      col("ts") < lit(maxTs) - expr("INTERVAL 1 DAY")
    replay(s, d, "events", "stream_late") { root =>
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("ts"))
      StreamingSync.windowedCounts(
        replayed(s, root.resolve("landing"), Seq(
          ev.filter(!straggler),
          // wm-propagation spacer AT ts = M (advances nothing, but lets
          // M - 30 m become the LATE-FILTER watermark — see scaladoc)
          eventSentinel(s, maxTs, 0L),
          // the stragglers, now genuinely behind the late filter
          ev.filter(straggler),
          // flush every real window out of append-mode state
          eventSentinel(s, maxTs, 2L * 3600 * 1000),
          eventSentinel(s, maxTs, 4L * 3600 * 1000))),
        "ts", watermarkDelay = "30 minutes", windowLen = "10 minutes")
    } { sunk =>
      val emitted = sunk.filter(col("event_type") =!= "__sentinel__")
        .agg(sum(col("n"))).head().getLong(0)
      val expected = Tables.events(s, d).filter(!straggler).count()
      require(emitted == expected,
        s"stream_late sink covers $emitted events, expected $expected on-time — " +
          "a straggler leaked in or an on-time window was withheld")
    }
  }

  /** Streaming exact-dedup under the oracle: a bounded event subset lands
    * as one file, then the SAME file is replayed twice more (a connector
    * retry re-emitting every record — the reference's resume behavior),
    * each copy its own micro-batch. `dropDuplicatesWithinWatermark` on
    * event_id must pass every first occurrence and drop both full replays;
    * the sink is hash-compared against DuckDB reading the original subset.
    * The 45-day horizon exceeds the corpus's 30-day span, so no original
    * is ever watermark-late (the fixture controls duplicate lag the way a
    * production deploy sizes the horizon to the connector's max replay
    * window).
    */
  private def dedupSinkDir(s: SparkSession, d: String): String = {
    def subset = Tables.events(s, d).filter(col("event_id") < 2000)
    replay(s, d, "events", "stream_dedup") { root =>
      val ev = subset.select(col("event_id"), col("event_type"), col("value"), col("ts"))
      // the subset, then two full replays in their own micro-batches
      StreamingSync.dedupByKeyWithinWatermark(
        replayed(s, root.resolve("landing"), Seq(ev, ev, ev)),
        "ts", "45 days", Seq("event_id"))
    } { sunk =>
      val (n, nKeys) = (sunk.count(),
        sunk.select(col("event_id")).distinct().count())
      val expected = subset.count()
      require(n == expected && nKeys == expected,
        s"stream_dedup sink has $n rows / $nKeys keys, expected $expected — " +
          "a replayed duplicate leaked through or an original was dropped")
    }
  }

  /** Streaming SLIDING-window fixture: the overlapping twin of
    * windowSinkDir — 1-day windows every 12 h, so every real event must
    * be counted TWICE (once per covering window). Sentinels at +26 h and
    * +28 h push the watermark past every real window's end (latest real
    * end ≤ max ts + 24 h < wm = sentinel - 30 m) so append mode flushes
    * them all; the completion marker requires sum(n) == 2 × events. The
    * driver hash-compares against the same unnest-replication oracle the
    * batch q_sliding_window proves.
    */
  private def slidingSinkDir(s: SparkSession, d: String): String =
    replay(s, d, "events", "stream_sliding") { root =>
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("ts"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      StreamingSync.slidingCounts(
        replayed(s, root.resolve("landing"), Seq(ev,
          eventSentinel(s, maxTs, 26L * 3600 * 1000),
          eventSentinel(s, maxTs, 28L * 3600 * 1000))),
        "ts", watermarkDelay = "30 minutes",
        windowLen = "1 day", slide = "12 hours")
    } { sunk =>
      val emitted = sunk.filter(col("event_type") =!= "__sentinel__")
        .agg(sum(col("n"))).head().getLong(0)
      val expected = 2L * Tables.events(s, d).count()
      require(emitted == expected,
        s"stream_sliding sink covers $emitted window-events, expected $expected — " +
          "an overlapping window was dropped or withheld")
    }

  /** 2024-01-15T00:00:00Z, where the time-split replays cut their two
    * batches, in epoch micros and in epoch days.
    */
  private val cutUs = 1705276800000000L
  private val cutDay = 19737L

  /** `ev` in two batches: rows with `c` before `at`, then the rest. */
  private def splitAt(ev: DataFrame, c: String, at: Long): Seq[DataFrame] =
    Seq(ev.filter(col(c) < at), ev.filter(col(c) >= at))

  /** Streaming last-touch attribution fixture: events replay as TWO
    * micro-batches cut at a global timeline point (2024-01-15), so
    * purchases in batch 2 must be credited to touches whose state was
    * carried over from batch 1 — the cross-batch state persistence the
    * batch window gets for free. Completion marker requires sink rows ==
    * total purchases; the driver then hash-compares every attribution
    * against DuckDB's batch IGNORE-NULLS window over the same events.
    */
  private def attributionSinkDir(s: SparkSession, d: String): String =
    replay(s, d, "events", "stream_attribution") { root =>
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      import s.implicits._
      StreamingSync.attributeStream(
        replayed(s, root.resolve("landing"), splitAt(ev, "ts_us", cutUs))
          .as[StreamingSync.TouchEvent])
    } { sunk =>
      val got = sunk.count()
      val expected = Tables.events(s, d)
        .filter(col("event_type") === "purchase").count()
      require(got == expected,
        s"stream_attribution sink has $got purchases, expected $expected — " +
          "a purchase was dropped or duplicated across batches")
    }

  /** The default ValueEvent projection: users < 30, integer cents via
    * the proven round(x*100) rendering.
    */
  private def centsValueEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("user_id") < 30)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))

  /** Shared replay fixture for the numeric-state ValueEvent family
    * (EWMA / Holt / anomaly / CUSUM / TWA): events of users < 30 as
    * integer cents, landed as two mtime-ordered jsonl micro-batches cut
    * at 2024-01-15T00:00:00Z, replayed through `transform` under
    * AvailableNow into a parquet sink, with the row-conservation check.
    * One definition keeps the cut constant, the schema, and the
    * got == expected invariant from drifting apart across the family.
    */
  private def valueEventSinkDir(
      s: SparkSession, d: String, name: String,
      project: (SparkSession, String) => DataFrame = centsValueEvents,
      // sink-size invariant: most streams emit one row per event; a
      // selective emitter (conversions: one row per purchase) supplies
      // its own expectation so the dropped/duplicated guard still bites
      expectedSink: DataFrame => Long = _.count())(
      transform: Dataset[StreamingSync.ValueEvent] => Dataset[_]): String =
    replay(s, d, "events", s"stream_$name") { root =>
      val ev = project(s, d)
      import s.implicits._
      transform(replayed(s, root.resolve("landing"), splitAt(ev, "ts_us", cutUs))
        .as[StreamingSync.ValueEvent])
    } { sunk =>
      val got = sunk.count()
      val expected = expectedSink(project(s, d))
      require(got == expected,
        s"stream_$name sink has $got rows, expected $expected — " +
          "an event was dropped or duplicated across batches")
    }

  /** The documents with an id and a text, projected to `cols`. */
  private def docColumns(s: SparkSession, d: String, cols: String*): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(cols.map(col): _*)

  /** Three micro-batches interleaved by doc_id mod 3. */
  private def byDocIdMod3(docs: DataFrame): Seq[DataFrame] =
    (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))

  /** Streaming SimHash near-dup fixture: all documents land in THREE
    * micro-batches split by doc_id mod 3 — an interleaved split, so
    * most near-dup pairs straddle batch boundaries and genuinely
    * exercise the cross-batch bucket state. The sink guard proves the
    * distinct emitted pair set equals the BATCH
    * `Dedup.simhashNearDupPairs` result before the marker is written —
    * stream/batch equivalence is a fixture invariant, and the oracle
    * then replays the batch formulation (the q_dedup_simhash FNV/vote
    * CTE) against the same table.
    */
  private def simhashSinkDir(s: SparkSession, d: String): String = {
    def docs = docColumns(s, d, "doc_id", "text")
    replay(s, d, "documents", "stream_simhash") { root =>
      import s.implicits._
      val banded = graft.operators.Dedup
        .simhashBanded(replayed(s, root.resolve("landing"), byDocIdMod3(docs)),
          "doc_id", "text", maxHamming = 3)
        .select(col("band"), col("bh"), col("id"), col("fp"))
        .as[StreamingSync.BandedDoc]
      StreamingSync.simhashMatchStream(banded, maxHamming = 3)
    } { sunk =>
      val got = sunk.filter(col("hamming") >= 0)
        .select(col("id_a"), col("id_b")).distinct().count()
      val expected = graft.operators.Dedup
        .simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3).count()
      require(got == expected,
        s"stream_simhash sink has $got distinct pairs, batch finds $expected — " +
          "cross-batch bucket state missed or invented a pair")
      val armed = sunk.filter(col("hamming") < 0).count()
      require(armed == 0L,
        s"stream_simhash: $armed cap-armed markers at fixture scale — " +
          "a bucket overflowed maxBucket and batch equality no longer holds")
    }
  }

  /** Streaming frequent-tokens fixture: documents land in THREE
    * interleaved micro-batches (doc_id mod 3); the token stream folds
    * into per-lang Misra–Gries summaries (capacity 1024 ≥ the synthetic
    * vocabulary, so the summary is EXACT and batch-split independent)
    * and every batch emits the full summary stamped with its seq. The
    * guard proves the final (max-seq) snapshot per lang equals the
    * batch token counts exactly before _DONE; the oracle then replays
    * the batch top-8 per lang.
    */
  private def topkSinkDir(s: SparkSession, d: String): String = {
    def docs = docColumns(s, d, "doc_id", "lang", "text")
    replay(s, d, "documents", "stream_topk") { root =>
      import s.implicits._
      val toks = replayed(s, root.resolve("landing"), byDocIdMod3(docs))
        .select(col("lang"),
          explode(graft.expressions.functions.ascii_tokens(col("text"))).as("tok"))
        .as[StreamingSync.LangToken]
      StreamingSync.topKStream(toks, capacity = 1024)
    } { sunk =>
      // exact-mode guard: final snapshot per lang == batch counts
      val maxSeq = sunk.groupBy(col("lang")).agg(max(col("seq")).as("seq"))
      val finalCounts = sunk.join(maxSeq, Seq("lang", "seq"))
        .select(col("lang"), col("token"), col("cnt"))
      val batchCounts = docs
        .select(col("lang"),
          explode(graft.expressions.functions.ascii_tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("cnt"))
      requireSameRows(finalCounts, batchCounts,
        "stream_topk final snapshot vs the batch counts (cross-batch MG " +
          "state lost or invented mass in exact mode)")
    }
  }

  /** Streaming c-chart fixture: (event_type, epoch-day) events in two
    * time-split batches; cChartStream folds the per-day counts as
    * cross-batch state and emits a causal chart snapshot per batch.
    * Guard: the final snapshot's (typ, day, n) table equals the batch
    * per-day counts — additivity makes that exact by algebra.
    */
  private def cchartSinkDir(s: SparkSession, d: String): String = {
    def ev = Tables.events(s, d)
      .select(col("event_type").as("typ"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    replay(s, d, "events", "stream_cchart") { root =>
      import s.implicits._
      StreamingSync.cChartStream(
        replayed(s, root.resolve("landing"), splitAt(ev, "day", cutDay))
          .as[StreamingSync.TypeDayEvent])
    } { sunk =>
      // guard: final snapshot day counts == batch per-day counts
      val maxSeq = sunk.groupBy(col("typ")).agg(max(col("seq")).as("seq"))
      val got = sunk.join(maxSeq, Seq("typ", "seq"))
        .select(col("typ"), col("day_idx"), col("n")).distinct()
      val want = ev.groupBy(col("typ"), col("day").as("day_idx"))
        .agg(count(lit(1)).as("n"))
      requireSameRows(got, want,
        "stream_cchart final snapshot vs the batch day counts (cross-batch " +
          "day-count state lost or invented mass)")
    }
  }

  /** Streaming record-days fixture: per-type FINALIZED daily counts in
    * two time-split batches (per-key day-monotonic — the value-stream
    * contract); recordStream flags each day against strictly-prior
    * days on arrival. Guard: the emitted flag set equals the batch
    * exclusive-prior-window formulation.
    */
  private def recordsSinkDir(s: SparkSession, d: String): String = {
    def daily = Tables.events(s, d)
      .groupBy(col("event_type").as("typ"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
    replay(s, d, "events", "stream_records") { root =>
      import s.implicits._
      StreamingSync.recordStream(
        replayed(s, root.resolve("landing"), splitAt(daily, "day", cutDay))
          .as[StreamingSync.TypeDayCount])
    } { sunk =>
      // guard: emitted flags == the batch exclusive-prior-window build
      val got = sunk
        .select(col("typ"), col("day_idx"), col("n"),
          col("rec_high"), col("rec_low")).distinct()
      val wPrior = Window.partitionBy(col("typ")).orderBy(col("day_idx").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = daily.withColumnRenamed("day", "day_idx")
        .withColumn("__pmax", max(col("n")).over(wPrior))
        .withColumn("__pmin", min(col("n")).over(wPrior))
        .select(col("typ"), col("day_idx"), col("n"),
          (col("__pmax").isNull || col("n") > col("__pmax")).as("rec_high"),
          (col("__pmin").isNull || col("n") < col("__pmin")).as("rec_low"))
      requireSameRows(got, want,
        "stream_records flags vs the batch exclusive-prior-window " +
          "formulation (cross-batch max/min state lost)")
    }
  }

  /** Typed cent values with their epoch day: the quantile and drift
    * replays' input.
    */
  private def typedCents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type").as("typ"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"),
        expr("unix_micros(ts) div 86400000000").as("day"))

  /** `ev`'s (typ, v) in two batches cut at [[cutDay]]. */
  private def typedCentsByDay(ev: DataFrame): Seq[DataFrame] =
    splitAt(ev, "day", cutDay).map(_.select(col("typ"), col("v")))

  /** `ev` with its fixed 128×$5 grid bucket `__b` and clamp flag `__cl`. */
  private def centBuckets(ev: DataFrame): DataFrame =
    ev.withColumn("__b",
        when(col("v") < 0, 0L)
          .when(expr("v div 500") >= 128, 127L)
          .otherwise(expr("v div 500")))
      .withColumn("__cl",
        when(col("v") < 0 || expr("v div 500") >= 128, 1L).otherwise(0L))

  /** Streaming bucketed-quantile fixture: per-type value events in two
    * TIME-SPLIT batches; quantileStream folds the fixed 128×$5 cent
    * grid across them. Guard: the final snapshot's (n, clamped, p50,
    * p90, p99) equals the batch bucket-spine build — additive counts
    * make the snapshot batch-split independent by algebra.
    */
  private def quantileSinkDir(s: SparkSession, d: String): String =
    replay(s, d, "events", "stream_quantile") { root =>
      import s.implicits._
      StreamingSync.quantileStream(
        replayed(s, root.resolve("landing"), typedCentsByDay(typedCents(s, d)))
          .as[StreamingSync.TypeValue],
        lo = 0L, width = 500L, nBuckets = 128)
    } { sunk =>
      // guard: max-seq snapshot == the batch bucket-spine quantiles
      val maxSeq = sunk.groupBy(col("typ")).agg(max(col("seq")).as("seq"))
      val got = sunk.join(maxSeq, Seq("typ", "seq"))
        .select(col("typ"), col("n_obs"), col("n_clamped"),
          col("p50_lo"), col("p90_lo"), col("p99_lo")).distinct()
      val bkt = centBuckets(typedCents(s, d))
        .groupBy(col("typ"), col("__b"))
        .agg(count(lit(1)).as("__m"), sum(col("__cl")).as("__clm"))
      val wCum = Window.partitionBy(col("typ")).orderBy(col("__b").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(col("typ"))
      val want = bkt
        .withColumn("__cum", sum(col("__m")).over(wCum))
        .withColumn("__n", sum(col("__m")).over(wAll))
        .groupBy(col("typ"))
        .agg(max(col("__n")).as("n_obs"), sum(col("__clm")).as("n_clamped"),
          (min(when(col("__cum") >= expr("(__n * 500 + 999) div 1000"),
            col("__b"))) * 500).as("p50_lo"),
          (min(when(col("__cum") >= expr("(__n * 900 + 999) div 1000"),
            col("__b"))) * 500).as("p90_lo"),
          (min(when(col("__cum") >= expr("(__n * 990 + 999) div 1000"),
            col("__b"))) * 500).as("p99_lo"))
      requireSameRows(got, want,
        "stream_quantile snapshot vs the batch bucket-spine build " +
          "(histogram state lost or invented mass)")
    }

  /** Streaming drift fixture: the same typed cent values as the
    * quantile fixture in two TIME-SPLIT batches — the early window
    * becomes each key's frozen REFERENCE histogram (first batch by
    * contract), the late window the LIVE one. Guard: the final
    * snapshot's total-variation per-mille equals the batch build
    * computed from the raw table with the same early/late split.
    */
  private def driftSinkDir(s: SparkSession, d: String): String =
    replay(s, d, "events", "stream_drift") { root =>
      val ev = typedCents(s, d)
      // Contract enforcement (r16 ADVICE #2): every key MUST appear in
      // the pre-cut window. driftStream freezes whichever micro-batch
      // arrives FIRST per key as the reference, so a key first seen
      // after the cut would freeze its LIVE window as the reference
      // and silently diverge from the batch early/late oracle. Fail
      // the fixture build loudly here instead of relying on the
      // downstream TV-equality guard's harder-to-read failure.
      val lateOnlyKeys = ev.groupBy(col("typ"))
        .agg(min(col("day")).as("__d0"))
        .filter(col("__d0") >= cutDay).count()
      require(lateOnlyKeys == 0L,
        s"stream_drift: $lateOnlyKeys key(s) first appear after the cut " +
          "day — their reference window would be empty; move the cut")
      import s.implicits._
      StreamingSync.driftStream(
        replayed(s, root.resolve("landing"), typedCentsByDay(ev))
          .as[StreamingSync.TypeValue],
        lo = 0L, width = 500L, nBuckets = 128)
    } { sunk =>
      // guard: max-seq snapshot == the batch early/late TV build
      val maxSeq = sunk.groupBy(col("typ")).agg(max(col("seq")).as("seq"))
      val got = sunk.join(maxSeq, Seq("typ", "seq"))
        .select(col("typ"), col("n_ref"), col("n_live"), col("n_clamped"),
          col("tv_pm")).distinct()
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val cell = centBuckets(typedCents(s, d))
        .groupBy(col("typ"), col("__b"))
        .agg(sum(when(col("day") < cutDay, 1L).otherwise(0L)).as("r"),
          sum(when(col("day") >= cutDay, 1L).otherwise(0L)).as("l"),
          sum(col("__cl")).as("cl"))
      val tot = cell.groupBy(col("typ"))
        .agg(sum(col("r")).as("n_ref"), sum(col("l")).as("n_live"),
          sum(col("cl")).as("n_clamped"))
      val want = cell.join(tot, Seq("typ"))
        .withColumn("__t",
          abs(col("l").cast(dec) * col("n_ref")
            - col("r").cast(dec) * col("n_live")))
        .groupBy(col("typ"))
        .agg(max(col("n_ref")).as("n_ref"), max(col("n_live")).as("n_live"),
          max(col("n_clamped")).as("n_clamped"), sum(col("__t")).as("__num"))
        .withColumn("tv_pm",
          when(col("n_ref") === 0 || col("n_live") === 0, 0L)
            .otherwise(expr(
              """(1000 * __num)
                 div (CAST(2 AS DECIMAL(38,0)) * n_ref * n_live)""")))
        .select(col("typ"), col("n_ref"), col("n_live"), col("n_clamped"),
          col("tv_pm"))
      requireSameRows(got, want,
        "stream_drift snapshot vs the batch early/late TV build " +
          "(reference frozen wrong or live mass lost)")
    }

  /** Streaming SCD2 fixture: user-typed events in two TIME-SPLIT batches
    * (per-key time order across batches — the value-stream contract);
    * scd2Stream emits closed dimension rows on each type change. Guard:
    * the emitted set equals the batch q_scd2 closed-interval set.
    */
  private def scd2SinkDir(s: SparkSession, d: String): String = {
    def ev = Tables.events(s, d).filter(col("user_id") < 50)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
    replay(s, d, "events", "stream_scd2") { root =>
      import s.implicits._
      StreamingSync.scd2Stream(
        replayed(s, root.resolve("landing"), splitAt(ev, "ts_us", cutUs))
          .as[StreamingSync.TypedEvent])
    } { sunk =>
      // guard: stream closed set == batch closed set (exact rows)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val batchClosed = ev
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
        .withColumn("version", row_number().over(w).cast("long"))
        .filter(col("valid_to_us").isNotNull)
        .select(col("user_id"), col("version"), col("event_type"),
          col("ts_us").as("valid_from_us"), col("valid_to_us"))
      val got = sunk
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from_us"), col("valid_to_us"))
      requireSameRows(got, batchClosed, "stream_scd2 vs the batch closed-interval set")
    }
  }

  /** Streaming checksum fixture: documents in three interleaved batches,
    * per-source XOR state folded live; guard = final snapshot equals the
    * batch Integrity.corpusChecksum row leg (XOR commutativity makes
    * this exact by algebra, not by ordering discipline).
    */
  private def checksumSinkDir(s: SparkSession, d: String): String = {
    def docs = docColumns(s, d, "doc_id", "source", "text")
    replay(s, d, "documents", "stream_checksum") { root =>
      import s.implicits._
      StreamingSync.checksumStream(
        replayed(s, root.resolve("landing"), byDocIdMod3(docs))
          .select(col("source"),
            expr("cast(conv(substring(md5(concat(cast(doc_id as string), ':', text)), 1, 15), 16, 10) as bigint)")
              .as("h"))
          .as[StreamingSync.SrcHash])
    } { sunk =>
      val maxSeq = sunk.groupBy(col("source")).agg(max(col("seq")).as("seq"))
      val fin = sunk.join(maxSeq, Seq("source", "seq"))
        .select(col("source"), col("n_docs"), col("row_xor"))
      val batch = graft.operators.Integrity
        .corpusChecksum(docs, "source", "doc_id", "text")
        .select(col("source"), col("n_docs"), col("row_xor"))
      requireSameRows(fin, batch,
        "stream_checksum vs the batch checksum (XOR state lost or " +
          "double-folded a row)")
    }
  }

  /** Projection for the streaming interval merge: `v` carries each
    * event's deterministic interval END (start + (event_id % 36 + 1)
    * hours in epoch micros) — the same recipe as the batch
    * q_interval_merge, SQL-re-derivable.
    */
  private def intervalEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("user_id") < 40)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        (unix_micros(col("ts")) +
          (pmod(col("event_id"), lit(36L)) + 1L) * 3600000000L).as("v"))

  /** Emit-on-close sink expectation: the batch island count minus each
    * user's final (never-closed) island.
    */
  private def batchClosedIslands(df: DataFrame): Long = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val prevMax = max(col("v"))
      .over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val islands = df
      .withColumn("ni",
        when(prevMax.isNull || col("ts_us") > prevMax, 1L).otherwise(0L))
      .agg(sum(col("ni"))).collect()(0).getLong(0)
    islands - df.select(col("user_id")).distinct().count()
  }

  private def intervalMergeSinkDir(s: SparkSession, d: String): String =
    valueEventSinkDir(s, d, "intervalmerge", intervalEvents,
      expectedSink = batchClosedIslands)(ds => {
      import ds.sparkSession.implicits._
      StreamingSync.intervalMergeStream(ds.map(e =>
        StreamingSync.IntervalEvent(e.user_id, e.event_id, e.ts_us, e.v)))
    })

  private def ewmaSinkDir(s: SparkSession, d: String): String =
    valueEventSinkDir(s, d, "ewma")(StreamingSync.ewmaStream(_))

  /** Projection for the streaming KMV sketch: the ValueEvent key slot
    * carries the event type's portable md5 uniform and `v` carries the
    * counted attribute's (user_id's) — both SQL-re-derivable, so the
    * oracle replays the sketch evolution from the raw table.
    */
  private def kmvDistinctEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        graft.operators.Sampling.portableUniform(col("event_type"))
          .as("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        graft.operators.Sampling.portableUniform(col("user_id")).as("v"))

  private def kmvSinkDir(s: SparkSession, d: String): String =
    valueEventSinkDir(s, d, "kmvdist", kmvDistinctEvents)(
      StreamingSync.kmvDistinctStream(_))

  /** Projection for the streaming Bloom dedup gate: the key slot
    * carries the event type's portable md5 uniform (the
    * [[kmvDistinctEvents]] discipline) and `v` packs the deduped
    * attribute's (user_id's) three 8-bit md5 probe positions as
    * p₀·2¹⁶ + p₁·2⁸ + p₂ — every slice SQL-re-derivable, so the
    * oracle replays the filter's exact bit evolution (false positives
    * included) from the raw table.
    */
  private def bloomEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        graft.operators.Sampling.portableUniform(col("event_type"))
          .as("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        expr("""CAST(conv(substring(md5(cast(user_id AS string)), 1, 2),
                     16, 10) AS BIGINT) * 65536
                + CAST(conv(substring(md5(cast(user_id AS string)), 3, 2),
                       16, 10) AS BIGINT) * 256
                + CAST(conv(substring(md5(cast(user_id AS string)), 5, 2),
                       16, 10) AS BIGINT)""").as("v"))

  private def bloomSinkDir(s: SparkSession, d: String): String =
    valueEventSinkDir(s, d, "bloom", bloomEvents)(
      StreamingSync.bloomDedupStream(_))

  private def rateLimitSinkDir(s: SparkSession, d: String): String =
    valueEventSinkDir(s, d, "ratelimit")(
      StreamingSync.rateLimitStream(_, capMicro = 3000000L,
        refillDivUs = 10000L))

  /** Projection for the streaming conversion counter: clicks and
    * purchases of users < 30, `v` encoding the type (1 = click,
    * 2 = purchase) — both SQL-re-derivable.
    */
  private def conversionEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id") < 30 &&
        col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        when(col("event_type") === "click", 1L).otherwise(2L).as("v"))

  private def conversionsSinkDir(s: SparkSession, d: String): String =
    valueEventSinkDir(s, d, "conv", conversionEvents,
      expectedSink = _.filter(col("v") === 2L).count())(
      StreamingSync.conversionStream(_))

  private def holtSinkDir(s: SparkSession, d: String): String =
    valueEventSinkDir(s, d, "holt")(StreamingSync.holtStream(_))

  private def anomalySinkDir(s: SparkSession, d: String): String =
    valueEventSinkDir(s, d, "anomaly")(StreamingSync.anomalyStream(_))

  private def cusumSinkDir(s: SparkSession, d: String): String =
    valueEventSinkDir(s, d, "cusum")(
      StreamingSync.cusumStream(_, slack = 2000L, threshold = 30000L))

  private def twaSinkDir(s: SparkSession, d: String): String =
    valueEventSinkDir(s, d, "twa")(StreamingSync.twaStream(_))

  /** Streaming sessionization under the oracle: every event lands as epoch
    * seconds in batch 1 (one file — the per-user state sees the full
    * history before any close decision), then batch 2 delivers ONE
    * sentinel event per user, `gap + 1` past that user's last real event,
    * which closes every still-open real session through the
    * flatMapGroupsWithState path (state read back across micro-batches —
    * the stateful choreography, not a single-batch sort). The sentinel's
    * own session never closes, so it never reaches the sink; the sink is
    * exactly the gap-and-island sessions DuckDB computes in batch. The
    * completion marker requires sum(n_events) == real event count — a
    * session dropped, double-closed, or left open can never pass as done.
    */
  private def sessionizeSinkDir(s: SparkSession, d: String): String = {
    val gapSeconds = 1800L
    replay(s, d, "events", "stream_sessionize") { root =>
      // epoch SECONDS on both sides: the stream sessionizes over floored
      // seconds, and the oracle's gap/island SQL floors epoch(ts) the
      // same way (the q_sessionize discipline) — so tie orders within a
      // second can differ without changing any session boundary
      val ev = Tables.events(s, d).select(col("user_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("ts_s"))
      val sentinels = ev.groupBy(col("user_id"))
        .agg((max(col("ts_s")) + gapSeconds + 1L).as("ts_s"))
      import s.implicits._
      StreamingSync.sessionizeStream(
        replayed(s, root.resolve("landing"), Seq(ev, sentinels))
          .as[StreamingSync.SessionEvent],
        gapSeconds = gapSeconds)
    } { sunk =>
      val covered = sunk.agg(sum(col("n_events"))).head().getLong(0)
      val expected = Tables.events(s, d).count()
      require(covered == expected,
        s"stream_sessionize sink covers $covered events, expected $expected — " +
          "a session was dropped, double-closed, or left open")
    }
  }

  /** Stream-static enrichment under the oracle: events replay as TWO
    * micro-batches (so the static dim joins per batch, not once), each
    * batch broadcast-joined against the nation parquet read as a plain
    * batch table — the lookup-enrichment step of a sync pipeline. Inner
    * join loses nothing (user_id % 25 always hits the 25 nation keys),
    * so the completion marker requires sink count == event count and the
    * driver hash-compares the enriched rows against DuckDB's batch join.
    */
  private def enrichSinkDir(s: SparkSession, d: String): String =
    replay(s, d, "events", "stream_enrich") { root =>
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"))
      val dim = Tables.nation(s, d)
        .select(col("n_nationkey").cast("bigint").as("nat_key"), col("n_name"))
      StreamingSync.enrichWithStatic(
        replayed(s, root.resolve("landing"), Seq(
          ev.filter(col("event_id") % 2 === 0), ev.filter(col("event_id") % 2 =!= 0)))
          .withColumn("nat_key", pmod(col("user_id"), lit(25L))),
        dim, Seq("nat_key"))
        .select(col("event_id"), col("user_id"), col("n_name"))
    } { sunk =>
      val n = sunk.count()
      val expected = Tables.events(s, d).count()
      require(n == expected,
        s"stream_enrich sink has $n rows, expected $expected — " +
          "an event missed its dimension row or was duplicated")
    }

  /** The events of one type as the join replays land them. */
  private def eventsOfType(s: SparkSession, d: String, eventType: String): DataFrame =
    Tables.events(s, d).filter(col("event_type") === eventType)
      .select(col("event_id"), col("user_id"), col("ts"))

  /** The two sides of the click → purchase interval joins, named apart. */
  private def clickSide(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
  private def purchaseSide(df: DataFrame): DataFrame =
    df.select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
      col("ts").as("p_ts"))
  private val withinHour =
    "user_id = p_user_id AND p_ts >= c_ts AND p_ts <= c_ts + interval 1 hour"

  /** The batch click → purchase interval join's row count. */
  private def batchJoinCount(s: SparkSession, d: String, joinType: String): Long =
    clickSide(eventsOfType(s, d, "click"))
      .join(purchaseSide(eventsOfType(s, d, "purchase")), expr(withinHour), joinType)
      .count()

  /** A join side's far-future watermark sentinel; each side gets its own
    * negative user id so the two sentinels never join.
    */
  private def joinSentinel(s: SparkSession, userId: Long): DataFrame =
    s.range(1).select(lit(-1L).as("event_id"), lit(userId).as("user_id"),
      to_timestamp(lit("2024-06-01 00:00:00")).as("ts"))

  /** Stream-stream interval join under the oracle: clicks and purchases
    * land as two separate streams; purchases split across two micro-batches
    * (maxFilesPerTrigger = 1), so the second purchase batch must match
    * against clicks BUFFERED in join state from batch 1 — the cross-batch
    * stateful path, not a single-batch degenerate join. The 45-day
    * watermark horizon exceeds the corpus span so no row is late and no
    * state evicts mid-replay, making the result exactly the batch join the
    * driver's DuckDB oracle computes.
    */
  private def joinSinkDir(s: SparkSession, d: String): String =
    replay(s, d, "events", "stream_join") { root =>
      val purchases = eventsOfType(s, d, "purchase")
      StreamingSync.intervalJoinStream(
        clickSide(replayed(s, root.resolve("clicks"), Seq(eventsOfType(s, d, "click")))),
        "c_ts",
        // the purchases split by event_id parity into two micro-batches
        purchaseSide(replayed(s, root.resolve("purchases"), Seq(
          purchases.filter(col("event_id") % 2 === 0),
          purchases.filter(col("event_id") % 2 =!= 0)))),
        "p_ts", withinHour, delay = "45 days")
        .select(col("user_id"), col("click_id"), col("purchase_id"))
    } { sunk =>
      val n = sunk.count()
      val expected = batchJoinCount(s, d, "inner")
      require(n == expected,
        s"stream_join sink has $n pairs, batch join expects $expected — " +
          "buffered-state matching dropped or duplicated pairs")
    }

  /** Left-outer stream-stream interval join replay: clicks left-join
    * purchases within [c_ts, c_ts + 1h]; clicks with no purchase emit
    * with a null purchase_id — but only once the GLOBAL watermark (the
    * min of both sides') proves no match can still arrive. A bounded
    * replay therefore lands a far-future sentinel row as the LAST file on
    * EACH side (one laggard side would pin the min), pushing the
    * watermark past every real event so the buffered unmatched clicks
    * flush before the query ends; sentinels carry negative ids and are
    * filtered in the driven query. Verified in-fixture against the batch
    * left-outer join before the completion marker lands.
    */
  private def outerJoinSinkDir(s: SparkSession, d: String): String =
    replay(s, d, "events", "stream_ojoin") { root =>
      StreamingSync.intervalJoinStreamOuter(
        clickSide(replayed(s, root.resolve("clicks"),
          Seq(eventsOfType(s, d, "click"), joinSentinel(s, -1L)))),
        "c_ts",
        purchaseSide(replayed(s, root.resolve("purchases"),
          Seq(eventsOfType(s, d, "purchase"), joinSentinel(s, -2L)))),
        "p_ts", withinHour, delay = "40 days")
        .select(col("user_id"), col("click_id"), col("purchase_id"))
    } { sunk =>
      val n = sunk.count()
      // the sentinel click itself stays buffered: the watermark it pushes
      // (its ts − delay) never passes its OWN eviction time, so it is
      // never emitted — only the real rows flush
      val expected = batchJoinCount(s, d, "left_outer")
      require(n == expected,
        s"stream_outer_join sink has $n rows, batch left join expects $expected — " +
          "unmatched clicks not flushed (watermark pinned?) or pairs duplicated")
    }

  /** FULL-outer stream-stream interval join replay: the left-outer
    * fixture's shape with `full_outer`, so unmatched rows flush from BOTH
    * sides' state — never-purchased clicks emit with a null purchase_id
    * AND never-clicked purchases emit with null click columns, each only
    * once the min-of-watermarks proves its match impossible. The same
    * per-side far-future sentinels do the flushing; sentinel rows carry
    * negative user ids and are filtered in the driven query (a click_id
    * filter would also kill the legitimate unmatched-purchase rows, whose
    * click columns are null). Verified in-fixture against the batch full
    * join before the completion marker lands.
    */
  private def fullOuterJoinSinkDir(s: SparkSession, d: String): String =
    replay(s, d, "events", "stream_fojoin") { root =>
      StreamingSync.intervalJoinStreamOuter(
        clickSide(replayed(s, root.resolve("clicks"),
          Seq(eventsOfType(s, d, "click"), joinSentinel(s, -1L)))),
        "c_ts",
        purchaseSide(replayed(s, root.resolve("purchases"),
          Seq(eventsOfType(s, d, "purchase"), joinSentinel(s, -2L)))),
        "p_ts", withinHour, delay = "40 days", joinType = "full_outer")
        // unmatched purchases have a null left side — surface ONE
        // user_id column so the driven query needn't know which side
        // produced the row
        .select(coalesce(col("user_id"), col("p_user_id")).as("user_id"),
          col("click_id"), col("purchase_id"))
    } { sunk =>
      // each side's sentinel stays buffered in ITS OWN state (the
      // watermark it pushes never passes its own eviction time), so only
      // real rows flush — mirror the batch count over real events
      val n = sunk.filter(col("user_id") >= 0).count()
      val expected = batchJoinCount(s, d, "full_outer")
      require(n == expected,
        s"stream_full_outer_join sink has $n real rows, batch full join expects " +
          s"$expected — a side's unmatched rows did not flush or pairs duplicated")
    }

  /** The versioned-state sink shared by the upsert and matview replays
    * (their own sink shape, so not a [[replay]]): `batches` land as for a
    * replay, and each non-empty micro-batch is `fold`ed via foreachBatch
    * into the current state (None before the first), written as a NEW
    * state version, and a `_CURRENT` pointer file is atomically repointed
    * at it (write-temp + ATOMIC_MOVE). The reader of the pointer always
    * sees a complete version; a killed batch leaves the previous version
    * current. `guard` runs on the final version before `_DONE`; returns
    * that version's path.
    */
  private def versionedReplay(s: SparkSession, d: String, name: String,
      batches: => Seq[DataFrame])(fold: (Option[DataFrame], DataFrame) => DataFrame)(
      guard: DataFrame => Unit): String = {
    val root = Fixtures.root(d, "events", name)
    val ptr = root.resolve("_CURRENT")
    Fixtures.ensure(root) {
      val q = replayed(s, root.resolve("landing"), batches).writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty) {
            val current =
              if (Files.exists(ptr)) Some(s.read.parquet(Files.readString(ptr))) else None
            val out = root.resolve("state").resolve(s"v$batchId").toString
            fold(current, batch).coalesce(1).write.mode("overwrite").parquet(out)
            val tmp = root.resolve("_CURRENT.tmp")
            Files.writeString(tmp, out)
            Files.move(tmp, ptr,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            ()
          }
        }
        .start()
      awaitOrFail(q, 180000, s"$name replay")
      guard(s.read.parquet(Files.readString(ptr)))
      Files.createFile(root.resolve("_DONE"))
      ()
    }
    Files.readString(ptr)
  }

  /** Events as the versioned-state replays land them, cut by `ts` at `cuts`. */
  private def eventsCutAt(s: SparkSession, d: String, cuts: String*): Seq[DataFrame] = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val edges = cuts.map(c => lit(c).cast("timestamp"))
    val from = lit(true) +: edges.map(col("ts") >= _)
    val until = edges.map(col("ts") < _) :+ lit(true)
    from.zip(until).map { case (a, b) => ev.filter(a && b) }
  }

  /** Streaming UPSERT sink (update-mode semantics on an append-only
    * format): each micro-batch folds into a latest-per-key state table
    * via foreachBatch — batch-local latest (Upsert.latestByKey), merge
    * with the current state, write a NEW state version, atomically
    * repoint a _CURRENT pointer file (write-temp + ATOMIC_MOVE). The
    * reader of the pointer always sees a complete version; a killed
    * batch leaves the previous version current — the same crash story as
    * a table format's snapshot pointer, built on open primitives.
    *
    * The replay splits events at mid-month so most users appear in BOTH
    * micro-batches and the second genuinely overwrites the first's state
    * rows. Oracle: the batch latest-event-per-user over the raw table.
    */
  private def upsertSinkDir(s: SparkSession, d: String): String = {
    def latest(df: DataFrame) =
      graft.sync.Upsert.latestByKey(df, Seq("user_id"), "ts", Seq("event_id"))
    versionedReplay(s, d, "stream_upsert", eventsCutAt(s, d, "2024-01-16")) {
      (current, batch) => current.fold(latest(batch))(c => latest(c.unionByName(latest(batch))))
    } { state =>
      val n = state.count()
      val expected = Tables.events(s, d)
        .select(countDistinct(col("user_id"))).head().getLong(0)
      require(n == expected,
        s"stream_upsert state has $n rows, expected one per user ($expected) — " +
          "merge dropped or duplicated keys")
    }
  }

  /** Streaming incremental matview: three micro-batches fold through
    * `Matview.partial`/`refresh` inside foreachBatch — O(batch) work plus
    * a changed-keys merge per trigger, never a rescan — with the
    * streaming-upsert sink's versioned-state + atomic `_CURRENT` pointer
    * crash story. The DECIMAL state makes the fold exactly associative,
    * so the streamed refresh schedule must equal the one-shot batch
    * aggregate bit-for-bit (the oracle).
    */
  private def matviewSinkDir(s: SparkSession, d: String): String = {
    val m = graft.operators.Matview
    versionedReplay(s, d, "stream_matview", eventsCutAt(s, d, "2024-01-11", "2024-01-21")) {
      (current, batch) => current.fold(m.partial(batch, Seq("user_id"), "value"))(
        m.refresh(_, batch, Seq("user_id"), "value"))
    } { state =>
      val totalN = state.agg(sum(col("n")).cast("long")).head().getLong(0)
      val expected = Tables.events(s, d).count()
      require(totalN == expected,
        s"stream_matview state counts $totalN rows, expected $expected — " +
          "a refresh dropped or double-counted a batch")
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_matview" -> ((s, d) => {
      graft.operators.Matview.read(
        s.read.parquet(matviewSinkDir(s, d)), Seq("user_id"))
        .orderBy("user_id")
    }),

    "q_stream_sync" -> ((s, d) => {
      s.read.parquet(sinkDir(s, d))
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    "q_stream_window" -> ((s, d) => {
      s.read.parquet(windowSinkDir(s, d))
        .filter(col("event_type") =!= "__sentinel__")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("event_type"), col("n"))
        .orderBy("ws", "event_type")
    }),

    "q_stream_late" -> ((s, d) => {
      s.read.parquet(lateSinkDir(s, d))
        .filter(col("event_type") =!= "__sentinel__")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("event_type"), col("n"))
        .orderBy("ws", "event_type")
    }),

    "q_stream_dedup" -> ((s, d) => {
      s.read.parquet(dedupSinkDir(s, d))
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),

    // Live interval-union: islands emitted exactly when an arriving
    // event starts past the open island's running max end (three longs
    // of state per user); the batch oracle replays the same recurrence
    // and drops each user's final never-closed island.
    "q_stream_islands" -> ((s, d) => {
      s.read.parquet(intervalMergeSinkDir(s, d))
        .select(col("user_id"), col("island"), col("island_start_us"),
          col("island_end_us"), col("n_events"))
        .orderBy("user_id", "island")
    }),

    // Streaming near-dup detection at ingest: every arriving document
    // matched against all prior same-bucket documents via cross-batch
    // FMGWS state; the distinct pair set equals the batch SimHash
    // formulation (fixture-guarded), which the oracle replays in full
    // (FNV-1a HUGEINT fold, bit votes, banded join, exact Hamming).
    "q_stream_simhash" -> ((s, d) => {
      s.read.parquet(simhashSinkDir(s, d))
        .filter(col("hamming") >= 0) // drop cap-armed markers (none at fixture scale)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .distinct()
        .orderBy("id_a", "id_b")
    }),

    // Live record tracker: per-type running max/min of finalized daily
    // counts across two time-split batches, each day flagged
    // record-high/low against strictly-prior days on arrival
    // (emit-once append, no snapshot); the oracle replays the batch
    // exclusive-prior-window formulation from the raw table.
    "q_stream_records" -> ((s, d) => {
      s.read.parquet(recordsSinkDir(s, d))
        .select(col("typ").as("event_type"), col("day_idx"), col("n"),
          col("rec_high"), col("rec_low"))
        .distinct() // at-least-once sink
        .orderBy("event_type", "day_idx")
    }),

    // Live bucketed quantiles: per-type fixed-grid histogram state
    // folded across two time-split batches, the max-seq snapshot's
    // p50/p90/p99 bucket floors fixture-guarded equal to the batch
    // bucket-spine build; the oracle replays that build from the raw
    // table. Clamped-value census rides along so grid misfit is
    // observable.
    "q_stream_quantile" -> ((s, d) => {
      val sunk = s.read.parquet(quantileSinkDir(s, d))
      val maxSeq = sunk.groupBy(col("typ")).agg(max(col("seq")).as("seq"))
      sunk.join(maxSeq, Seq("typ", "seq"))
        .select(col("typ").as("event_type"), col("n_obs"), col("n_clamped"),
          col("p50_lo"), col("p90_lo"), col("p99_lo"))
        .distinct() // at-least-once sink
        .orderBy("event_type")
    }),

    // Live distribution-drift monitor: each key's FIRST micro-batch
    // (the early time window) freezes as the reference histogram,
    // later batches accumulate live counts, and every snapshot carries
    // the exact total-variation per-mille between the two normalized
    // grids — the "has this feed shifted since go-live" gauge,
    // fixture-guarded equal to the batch early/late build; the oracle
    // replays that split from the raw table.
    "q_stream_drift" -> ((s, d) => {
      val sunk = s.read.parquet(driftSinkDir(s, d))
      val maxSeq = sunk.groupBy(col("typ")).agg(max(col("seq")).as("seq"))
      sunk.join(maxSeq, Seq("typ", "seq"))
        .select(col("typ").as("event_type"), col("n_ref"), col("n_live"),
          col("n_clamped"), col("tv_pm"))
        .distinct() // at-least-once sink
        .orderBy("event_type")
    }),

    // Live SCD2 maintenance: closed dimension rows emitted on type
    // change across time-split batches, fixture-guarded equal to the
    // batch closed-interval set; the oracle replays the batch build
    // (q_scd2's CTE restricted to closed rows).
    "q_stream_scd2" -> ((s, d) => {
      s.read.parquet(scd2SinkDir(s, d))
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from_us"), col("valid_to_us"))
        .orderBy("user_id", "version")
    }),

    // Live corpus checksum: per-source XOR state across three batches,
    // final snapshot fixture-guarded equal to the batch
    // Integrity.corpusChecksum row leg; the oracle replays the batch
    // fold from the raw table.
    "q_stream_checksum" -> ((s, d) => {
      val sunk = s.read.parquet(checksumSinkDir(s, d))
      val maxSeq = sunk.groupBy(col("source")).agg(max(col("seq")).as("seq"))
      // The sink contract is at-least-once: a replayed micro-batch
      // duplicates whole rows, so the snapshot read dedups after the
      // max-seq join (same discipline as q_stream_simhash).
      sunk.join(maxSeq, Seq("source", "seq"))
        .select(col("source"), col("n_docs"), col("row_xor"))
        .distinct()
        .orderBy("source")
    }),

    // Live self-starting c-chart: per-type day counts folded across two
    // time-split batches, the final snapshot the causal control chart
    // (each day judged against strictly-prior days only); the oracle
    // replays the prefix-window build from the raw table.
    "q_stream_cchart" -> ((s, d) => {
      val sunk = s.read.parquet(cchartSinkDir(s, d))
      val maxSeq = sunk.groupBy(col("typ")).agg(max(col("seq")).as("seq"))
      sunk.join(maxSeq, Seq("typ", "seq"))
        .select(col("typ").as("event_type"), col("day_idx"), col("n"),
          col("tot_prior"), col("nd_prior"), col("alarm"))
        .distinct() // at-least-once sink
        .orderBy("event_type", "day_idx")
    }),

    // Streaming frequent tokens: per-lang Misra–Gries summaries folded
    // across three interleaved batches (exact mode — capacity ≥ vocab;
    // fixture-guarded equal to the batch counts), the query taking each
    // lang's final snapshot and ranking its top-8. The oracle replays
    // the batch formulation; windows run over ≤capacity rows per lang.
    "q_stream_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sunk = s.read.parquet(topkSinkDir(s, d))
      val maxSeq = sunk.groupBy(col("lang")).agg(max(col("seq")).as("seq"))
      // At-least-once sink: dedup replayed rows BEFORE the rank window,
      // else a replayed batch doubles every (key, seq) row and shifts
      // the top-8 ranks (same discipline as q_stream_simhash).
      sunk.join(maxSeq, Seq("lang", "seq"))
        .distinct()
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("cnt").desc, col("token").asc)).cast("long"))
        .filter(col("rk") <= 8)
        .select(col("lang"), col("rk"), col("token"), col("cnt"))
        .orderBy("lang", "rk")
    }),

    "q_stream_join" -> ((s, d) => {
      s.read.parquet(joinSinkDir(s, d))
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    }),

    "q_stream_upsert" -> ((s, d) => {
      s.read.parquet(upsertSinkDir(s, d))
        .select(col("user_id"), col("event_id").as("latest_event_id"),
          col("value").as("latest_value"))
        .orderBy("user_id")
    }),

    "q_stream_outer_join" -> ((s, d) => {
      s.read.parquet(outerJoinSinkDir(s, d))
        .filter(col("click_id") >= 0) // drop the watermark sentinel
        .select(col("user_id"), col("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    }),

    "q_stream_full_outer" -> ((s, d) => {
      s.read.parquet(fullOuterJoinSinkDir(s, d))
        .filter(col("user_id") >= 0) // drop the two watermark sentinels
        .select(col("user_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    }),

    "q_stream_sessionize" -> ((s, d) => {
      s.read.parquet(sessionizeSinkDir(s, d))
        .select(col("user_id"), col("start_s"), col("end_s"), col("n_events"))
        .orderBy("user_id", "start_s")
    }),

    "q_stream_sliding" -> ((s, d) => {
      s.read.parquet(slidingSinkDir(s, d))
        .filter(col("event_type") =!= "__sentinel__")
        .select(col("start_us"), col("end_us"), col("event_type"), col("n"))
        .orderBy("start_us", "event_type")
    }),

    "q_stream_twa" -> ((s, d) => {
      s.read.parquet(twaSinkDir(s, d))
        .select(col("event_id"), col("user_id"), col("area"),
          col("span_t"), col("twa"))
        .orderBy("event_id")
    }),

    "q_stream_cusum" -> ((s, d) => {
      s.read.parquet(cusumSinkDir(s, d))
        .select(col("event_id"), col("user_id"), col("c_plus"), col("alarm"))
        .orderBy("event_id")
    }),

    "q_stream_ewma" -> ((s, d) => {
      s.read.parquet(ewmaSinkDir(s, d))
        .select(col("event_id"), col("user_id"), col("ewma"))
        .orderBy("event_id")
    }),

    "q_stream_holt" -> ((s, d) => {
      s.read.parquet(holtSinkDir(s, d))
        .select(col("event_id"), col("user_id"), col("level"),
          col("trend"), col("forecast_next"))
        .orderBy("event_id")
    }),

    "q_stream_anomaly" -> ((s, d) => {
      s.read.parquet(anomalySinkDir(s, d))
        .select(col("event_id"), col("user_id"), col("n_prior"),
          col("lhs"), col("rhs"), col("anomaly"))
        .orderBy("event_id")
    }),

    "q_stream_distinct" -> ((s, d) => {
      s.read.parquet(kmvSinkDir(s, d))
        .select(col("event_id"), col("user_id").as("key_hash"),
          col("n_sketch"), col("est"))
        .orderBy("event_id")
    }),

    // Streaming Bloom dedup gate (StreamingSync.bloomDedupStream): per
    // event type, a fixed 256-bit filter accumulates user probes; each
    // event emits seen-before (tested pre-insert), the filter popcount,
    // and the insert census. The oracle replays the EXACT bit evolution
    // — false positives included — from the raw table via first-
    // occurrence ranks, so the hash certifies the filter's behavior,
    // not an approximation of it.
    "q_stream_bloom" -> ((s, d) => {
      s.read.parquet(bloomSinkDir(s, d))
        .select(col("event_id"), col("user_id").as("key_hash"),
          col("seen_before"), col("n_bits_set"), col("n_inserted"))
        .orderBy("event_id")
    }),

    // Streaming token-bucket rate limiter (StreamingSync
    // .rateLimitStream): per user, a 3-token bucket refilling one token
    // per 10⁴ s of event-time gap; every event emits its admit/deny
    // decision and the post-decision balance on the ×10⁶ micro-token
    // grid. The oracle replays every decision from the raw table via a
    // per-user recursive CTE — the admission-control primitive next to
    // q_stream_bloom's dedup gate.
    "q_stream_ratelimit" -> ((s, d) => {
      s.read.parquet(rateLimitSinkDir(s, d))
        .select(col("event_id"), col("user_id"), col("allowed"),
          col("tok_after"))
        .orderBy("event_id")
    }),

    "q_stream_conversions" -> ((s, d) => {
      s.read.parquet(conversionsSinkDir(s, d))
        .select(col("event_id"), col("user_id"), col("n_clicks_since"))
        .orderBy("event_id")
    }),

    "q_stream_attribution" -> ((s, d) => {
      s.read.parquet(attributionSinkDir(s, d))
        .select(col("purchase_id"), col("user_id"), col("touch_id"),
          col("touch_type"), col("gap_us"))
        .orderBy("purchase_id")
    }),

    "q_stream_enrich" -> ((s, d) => {
      s.read.parquet(enrichSinkDir(s, d))
        .select(col("event_id"), col("user_id"), col("n_name"))
        .orderBy("event_id")
    }))

  def oracleSql: Map[String, String] = Map(
    // every admit/deny decision replayed sequentially per user; the
    // rn=1 anchor is the full-bucket cold start minus its own token
    "q_stream_ratelimit" ->
      """WITH RECURSIVE e AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us
           FROM events WHERE user_id < 30),
         num AS (
           SELECT event_id, user_id, ts_us,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS BIGINT) AS rn
           FROM e),
         rec AS (
           SELECT event_id, user_id, rn, ts_us,
             TRUE AS allowed, CAST(2000000 AS BIGINT) AS tok_after
           FROM num WHERE rn = 1
           UNION ALL
           SELECT d.event_id, d.user_id, d.rn, d.ts_us,
             least(3000000, r.tok_after + (d.ts_us - r.ts_us) // 10000)
               >= 1000000 AS allowed,
             CASE WHEN least(3000000,
                 r.tok_after + (d.ts_us - r.ts_us) // 10000) >= 1000000
               THEN least(3000000,
                 r.tok_after + (d.ts_us - r.ts_us) // 10000) - 1000000
               ELSE least(3000000,
                 r.tok_after + (d.ts_us - r.ts_us) // 10000) END
               AS tok_after
           FROM rec r JOIN num d
             ON d.user_id = r.user_id AND d.rn = r.rn + 1)
         SELECT event_id, user_id, allowed, tok_after
         FROM rec ORDER BY event_id""",

    // The batch SCD2 build restricted to closed rows.
    "q_stream_scd2" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
           FROM events WHERE user_id < 50),
         c AS (
           SELECT *,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS prev_type
           FROM e),
         ch AS (
           SELECT user_id, ts_us, event_id, event_type FROM c
           WHERE prev_type IS NULL OR prev_type <> event_type),
         v AS (
           SELECT user_id, event_type, ts_us AS valid_from_us,
             lead(ts_us) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS valid_to_us,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS BIGINT) AS version
           FROM ch)
         SELECT user_id, version, event_type, valid_from_us, valid_to_us
         FROM v WHERE valid_to_us IS NOT NULL
         ORDER BY user_id, version""",

    // The causal prefix chart replayed: each day judged against the
    // exclusive-preceding window, HUGEINT square, 2σ band, 7-day warmup.
    "q_stream_cchart" ->
      """WITH dl AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, day_idx, n,
             CAST(coalesce(sum(n) OVER (PARTITION BY event_type ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tot_prior,
             CAST(count(*) OVER (PARTITION BY event_type ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS nd_prior
           FROM dl)
         SELECT event_type, day_idx, n, tot_prior, nd_prior,
           nd_prior >= 7 AND n * nd_prior > tot_prior AND
             CAST(n * nd_prior - tot_prior AS HUGEINT) *
               CAST(n * nd_prior - tot_prior AS HUGEINT) >
             4 * CAST(tot_prior AS HUGEINT) * CAST(nd_prior AS HUGEINT) AS alarm
         FROM w ORDER BY event_type, day_idx""",

    // The batch exclusive-prior-window record flags replayed.
    "q_stream_records" ->
      """WITH dl AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, day_idx, n,
             max(n) OVER (PARTITION BY event_type ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
             min(n) OVER (PARTITION BY event_type ORDER BY day_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin
           FROM dl)
         SELECT event_type, day_idx, n,
           (pmax IS NULL OR n > pmax) AS rec_high,
           (pmin IS NULL OR n < pmin) AS rec_low
         FROM w ORDER BY event_type, day_idx""",

    // The batch bucket-spine quantile build replayed from the raw
    // table: fixed 128 x $5 cent grid, rank ceil(p*n/1000), bucket
    // floor emitted — the stream's additive-histogram contract.
    "q_stream_quantile" ->
      """WITH v AS (
           SELECT event_type AS typ, CAST(round(value * 100) AS BIGINT) AS v
           FROM events),
         b AS (
           SELECT typ,
             CASE WHEN v < 0 THEN 0
                  WHEN v // 500 >= 128 THEN 127
                  ELSE v // 500 END AS b,
             CASE WHEN v < 0 OR v // 500 >= 128 THEN 1 ELSE 0 END AS cl
           FROM v),
         pb AS (
           SELECT typ, b, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(cl) AS BIGINT) AS clm
           FROM b GROUP BY 1, 2),
         cu AS (
           SELECT typ, b, m, clm,
             CAST(sum(m) OVER (PARTITION BY typ ORDER BY b) AS BIGINT) AS cum,
             CAST(sum(m) OVER (PARTITION BY typ) AS BIGINT) AS n
           FROM pb)
         SELECT typ AS event_type, CAST(max(n) AS BIGINT) AS n_obs,
           CAST(sum(clm) AS BIGINT) AS n_clamped,
           min(CASE WHEN cum >= (n * 500 + 999) // 1000 THEN b END) * 500
             AS p50_lo,
           min(CASE WHEN cum >= (n * 900 + 999) // 1000 THEN b END) * 500
             AS p90_lo,
           min(CASE WHEN cum >= (n * 990 + 999) // 1000 THEN b END) * 500
             AS p99_lo
         FROM cu GROUP BY 1 ORDER BY event_type""",

    // The batch early/late split replayed from the raw table: early
    // window = the frozen reference grid, late = live; exact TV.
    "q_stream_drift" ->
      """WITH v AS (
           SELECT event_type AS typ, CAST(round(value * 100) AS BIGINT) AS v,
             epoch_us(ts) // 86400000000 < 19737 AS early
           FROM events),
         b AS (
           SELECT typ, early,
             CASE WHEN v < 0 THEN 0
                  WHEN v // 500 >= 128 THEN 127
                  ELSE v // 500 END AS bk,
             CASE WHEN v < 0 OR v // 500 >= 128 THEN 1 ELSE 0 END AS cl
           FROM v),
         cell AS (
           SELECT typ, bk,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS r,
             CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS l,
             CAST(sum(cl) AS BIGINT) AS clm
           FROM b GROUP BY 1, 2),
         tot AS (
           SELECT typ, CAST(sum(r) AS BIGINT) AS n_ref,
             CAST(sum(l) AS BIGINT) AS n_live,
             CAST(sum(clm) AS BIGINT) AS n_clamped
           FROM cell GROUP BY 1),
         tv AS (
           SELECT cell.typ,
             sum(abs(CAST(l AS HUGEINT) * n_ref - CAST(r AS HUGEINT) * n_live))
               AS num
           FROM cell JOIN tot ON cell.typ = tot.typ GROUP BY 1)
         SELECT tot.typ AS event_type, n_ref, n_live, n_clamped,
           CAST(CASE WHEN n_ref = 0 OR n_live = 0 THEN 0
                ELSE (1000 * num)
                  // (2 * CAST(n_ref AS HUGEINT) * n_live) END AS BIGINT)
             AS tv_pm
         FROM tot JOIN tv ON tot.typ = tv.typ ORDER BY event_type""",

    // The batch XOR fold replayed from the raw table.
    "q_stream_checksum" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))::BIGINT)
             AS row_xor
         FROM documents GROUP BY source ORDER BY source""",

    // The batch replay of the exact-mode MG snapshot: per-lang token
    // counts, top-8 by (cnt desc, token asc).
    "q_stream_topk" ->
      """WITH t AS (
           SELECT lang, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                           x -> x <> '')) AS token
           FROM documents),
         c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2),
         r AS (
           SELECT lang, token, cnt,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY cnt DESC, token ASC) AS BIGINT) AS rk
           FROM c)
         SELECT lang, rk, token, cnt FROM r WHERE rk <= 8 ORDER BY lang, rk""",

    // The streamed three-batch refresh schedule must equal the one-shot
    // aggregate exactly — DECIMAL state makes the fold associative, so
    // any drift (dropped batch, double merge) flips the hash.
    "q_stream_matview" ->
      """SELECT user_id, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS avg
         FROM events GROUP BY user_id ORDER BY user_id""",

    // BIGINT casts: the sink's JSON-schema "integer" columns are int64
    // while the nation parquet is int32 — same discipline as q_dsv2_source.
    "q_stream_sync" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
                CAST(n_regionkey AS BIGINT) AS n_regionkey
         FROM nation
         ORDER BY n_nationkey""",

    "q_stream_window" ->
      """SELECT strftime(make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000),
                         '%Y-%m-%d %H:%M:%S') AS ws,
                event_type, count(*) AS n
         FROM events
         GROUP BY 1, 2
         ORDER BY ws, event_type""",

    // The same 10-minute windows over the NOT-straggler predicate: the
    // stream must have dropped exactly the planted late rows (event_id %
    // 97 == 0 landing a day+ behind the watermark) and nothing else.
    "q_stream_late" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
         keep AS (
           SELECT e.* FROM events e, m
           WHERE NOT (e.event_id % 97 = 0 AND e.ts < m.mx - INTERVAL 1 DAY))
         SELECT strftime(make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000),
                         '%Y-%m-%d %H:%M:%S') AS ws,
                event_type, count(*) AS n
         FROM keep
         GROUP BY 1, 2
         ORDER BY ws, event_type""",

    // The dedup sink must equal the original subset exactly — both full
    // replays dropped, every first occurrence delivered once.
    "q_stream_dedup" ->
      """SELECT event_id, event_type, value
         FROM events WHERE event_id < 2000
         ORDER BY event_id""",

    // The batch island recurrence minus each user's open island — what
    // emit-on-close must equal for any batch split.
    "q_stream_islands" ->
      """WITH ev AS (
           SELECT user_id, event_id,
             epoch_us(ts) AS start_us,
             epoch_us(ts) + (((event_id % 36) + 36) % 36 + 1) * 3600000000 AS end_us
           FROM events WHERE user_id < 40),
         f AS (
           SELECT user_id, event_id, start_us, end_us,
             CASE WHEN max(end_us) OVER (PARTITION BY user_id
                    ORDER BY start_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    OR start_us > max(end_us) OVER (PARTITION BY user_id
                    ORDER BY start_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
           FROM ev),
         i AS (
           SELECT user_id, start_us, end_us,
             CAST(sum(new_island) OVER (PARTITION BY user_id
               ORDER BY start_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
           FROM f),
         isl AS (
           SELECT user_id, island,
             min(start_us) AS island_start_us,
             max(end_us) AS island_end_us,
             count(*) AS n_events
           FROM i GROUP BY user_id, island),
         mx AS (SELECT user_id, max(island) AS mi FROM isl GROUP BY 1)
         SELECT user_id, island, island_start_us, island_end_us, n_events
         FROM isl JOIN mx USING (user_id)
         WHERE island < mi
         ORDER BY user_id, island""",

    // The batch SimHash pair formulation the streamed state must equal
    // (same CTE as q_dedup_simhash: FNV-1a token hashes, bit-majority
    // votes, exact Hamming ≤ 3 on the full document set).
    "q_stream_simhash" ->
      s"""WITH ${LlmOps.simhashFingerprintsCte}
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.uf, b.uf)) AS INTEGER) AS hamming
         FROM fps a JOIN fps b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.uf, b.uf)) <= 3
         ORDER BY id_a, id_b""",

    // The streamed interval join must equal the batch join exactly (no
    // late drops at a 45-day horizon; cross-batch pairs found in state).
    "q_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
         FROM events c
         JOIN events p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
         ORDER BY c.user_id, click_id, purchase_id""",

    // The streamed foreachBatch upsert state must equal the batch
    // latest-event-per-user exactly — cross-batch overwrites applied,
    // absent-in-batch-2 users retained, no key dropped or duplicated.
    "q_stream_upsert" ->
      """SELECT user_id, event_id AS latest_event_id, value AS latest_value
         FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id
           ORDER BY ts DESC, event_id DESC) = 1
         ORDER BY user_id""",

    // The streamed left-outer interval join must equal the batch left
    // join exactly: every matched pair AND every never-matched click
    // (purchase_id -1), no row held back in state.
    "q_stream_outer_join" ->
      """SELECT c.user_id, c.event_id AS click_id,
           coalesce(p.event_id, -1) AS purchase_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
         ORDER BY c.user_id, click_id, purchase_id""",

    // The streamed full-outer interval join must equal the batch full
    // join exactly: every matched pair, every never-purchased click
    // (purchase_id -1), AND every never-clicked purchase (click_id -1) —
    // both sides' buffered state must flush, not just the left's.
    "q_stream_full_outer" ->
      """SELECT coalesce(c.user_id, p.user_id) AS user_id,
           coalesce(c.event_id, -1) AS click_id,
           coalesce(p.event_id, -1) AS purchase_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
         ORDER BY user_id, click_id, purchase_id""",

    // The streamed broadcast enrichment must equal the batch lookup join
    // exactly — every event in both micro-batches finds its dim row.
    "q_stream_enrich" ->
      """SELECT e.event_id, e.user_id, n.n_name
         FROM events e
         JOIN nation n ON e.user_id % 25 = n.n_nationkey
         ORDER BY e.event_id""",

    // The streamed sliding windows must equal the batch unnest
    // replication (q_sliding_window's oracle, count-only).
    "q_stream_sliding" ->
      """WITH e AS (
           SELECT epoch_us(ts) AS tu, event_type FROM events),
         c AS (
           SELECT event_type, tu,
             unnest([(tu // 43200000000) * 43200000000,
                     (tu // 43200000000) * 43200000000 - 43200000000]) AS ws
           FROM e)
         SELECT ws AS start_us, ws + 86400000000 AS end_us, event_type,
           count(*) AS n
         FROM c
         WHERE tu >= ws AND tu < ws + 86400000000
         GROUP BY 1, 2, 3
         ORDER BY start_us, event_type""",

    // The streamed running TWA must equal the batch window
    // formulation: per-row area = sum of COMPLETED hold segments
    // (lag(v)·Δu), span = distance from the key's first sample; four
    // longs of state crossing the micro-batch boundary, one double
    // division per row.
    "q_stream_twa" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_us(ts) AS u,
             CAST(round(value * 100) AS BIGINT) AS v
           FROM events WHERE user_id < 30),
         l AS (
           SELECT *,
             lag(v) OVER (PARTITION BY user_id ORDER BY u, event_id) AS pv,
             lag(u) OVER (PARTITION BY user_id ORDER BY u, event_id) AS pu
           FROM e),
         s AS (
           SELECT *,
             coalesce(sum(pv * (u - pu)) OVER (PARTITION BY user_id
               ORDER BY u, event_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW), 0) AS area,
             u - first_value(u) OVER (PARTITION BY user_id
               ORDER BY u, event_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS span
           FROM l)
         SELECT event_id, user_id, CAST(area AS BIGINT) AS area,
           CAST(span AS BIGINT) AS span_t,
           CASE WHEN span = 0 THEN CAST(v AS DOUBLE)
                ELSE CAST(area AS DOUBLE) / CAST(span AS DOUBLE) END AS twa
         FROM s ORDER BY event_id""",

    // The streamed CUSUM monitor must equal the batch window
    // formulation (q_cusum's running-sum − running-min identity) row
    // for row — three longs of per-key state crossing the micro-batch
    // boundary, pure integers, same (epoch_us, event_id) order.
    "q_stream_cusum" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_us(ts) AS u,
             CAST(round(value * 100) AS BIGINT) AS v
           FROM events WHERE user_id < 30),
         t AS (
           SELECT *, first_value(v) OVER (PARTITION BY user_id
             ORDER BY u, event_id ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS tgt FROM e),
         s AS (
           SELECT *, sum(v - tgt - 2000) OVER (PARTITION BY user_id
             ORDER BY u, event_id ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS s FROM t),
         c AS (
           SELECT *, s - least(0, min(s) OVER (PARTITION BY user_id
             ORDER BY u, event_id ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)) AS cp FROM s)
         SELECT event_id, user_id, CAST(cp AS BIGINT) AS c_plus,
           cp >= 30000 AS alarm
         FROM c ORDER BY event_id""",

    // The streamed numeric state must equal the batch recurrence: the
    // recursive CTE replays the per-user fold s ← s + (x − s)/2 over the
    // SAME (epoch_us, event_id) order the stream sorts by, and the fold
    // expression is the identical IEEE double sequence — any cross-batch
    // state drift (a reset, a double-fed batch) flips the hash.
    "q_stream_ewma" ->
      """WITH RECURSIVE o AS (
           SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn
           FROM events WHERE user_id < 30),
         r AS (
           SELECT user_id, event_id, rn, CAST(v AS DOUBLE) AS s
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.user_id, o.event_id, o.rn,
             r.s + (CAST(o.v AS DOUBLE) - r.s) / 2.0
           FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
         SELECT event_id, user_id, s AS ewma
         FROM r ORDER BY event_id""",

    // The streamed integer Holt recurrence must equal the batch fold
    // replayed step by step — the trend-aware sibling of q_stream_ewma,
    // with TWO integers of cross-batch state per key instead of one
    // double (truncated division, identical in the JVM and DuckDB).
    "q_stream_holt" ->
      """WITH RECURSIVE o AS (
           SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn
           FROM events WHERE user_id < 30),
         r AS (
           SELECT user_id, event_id, rn, v AS l, CAST(0 AS BIGINT) AS b
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.user_id, o.event_id, o.rn,
             (o.v + r.l + r.b) // 2 AS l,
             (r.b + ((o.v + r.l + r.b) // 2 - r.l)) // 2 AS b
           FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
         SELECT event_id, user_id, l AS level, b AS trend,
           l + b AS forecast_next
         FROM r ORDER BY event_id""",

    // The streamed KMV sketch must equal the batch prefix replay: per
    // event type in (ts, event_id) order, the ≤64 smallest distinct
    // md5 uniforms of the users seen so far, and the running estimate
    // (exact below saturation, (k−1)·2³² div h_k above).
    // The streamed cross-batch counter must equal the batch tuple-
    // interval counts over the raw table: for each purchase, clicks
    // strictly between the previous purchase and it in the SAME
    // (epoch_us, event_id) total order the stream processes (epoch_us —
    // the engine reads ns timestamps truncated to µs).
    "q_stream_conversions" ->
      """WITH e AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
           FROM events
           WHERE user_id < 30 AND event_type IN ('click', 'purchase')),
         pur AS (
           SELECT event_id, user_id, ts_us,
             lag(ts_us) OVER w AS prev_us,
             lag(event_id) OVER w AS prev_id
           FROM e WHERE event_type = 'purchase'
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
         SELECT pu.event_id, pu.user_id,
           CAST(count(c.event_id) AS BIGINT) AS n_clicks_since
         FROM pur pu LEFT JOIN e c
           ON c.user_id = pu.user_id AND c.event_type = 'click'
          AND (c.ts_us, c.event_id) < (pu.ts_us, pu.event_id)
          AND (c.ts_us, c.event_id) >
              (coalesce(pu.prev_us, -1), coalesce(pu.prev_id, -1))
         GROUP BY pu.event_id, pu.user_id
         ORDER BY pu.event_id""",

    "q_stream_distinct" ->
      """WITH RECURSIVE o AS (
           SELECT event_id,
             ('0x' || substr(md5(event_type), 1, 8))::BIGINT AS key_hash,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               AS h,
             row_number() OVER (PARTITION BY event_type
               ORDER BY epoch_us(ts), event_id) AS rn
           FROM events),
         rec AS (
           SELECT key_hash, rn, event_id, [h] AS s
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.key_hash, o.rn, o.event_id,
             CASE WHEN list_contains(r.s, o.h) THEN r.s
                  ELSE list_sort(list_append(r.s, o.h))[1:64] END AS s
           FROM rec r JOIN o ON o.key_hash = r.key_hash AND o.rn = r.rn + 1)
         SELECT event_id, key_hash,
           CAST(len(s) AS BIGINT) AS n_sketch,
           CAST(CASE WHEN len(s) < 64 THEN len(s)
                ELSE 270582939648 // greatest(s[64], 1) END AS BIGINT) AS est
         FROM rec ORDER BY event_id""",

    // The streamed Bloom gate must equal the batch bit-evolution
    // replay: a position is "set before event e" iff its FIRST
    // occurrence rank (over all probes of the key) precedes e's rank;
    // seen_before = all three probes set before; popcount = count of
    // first occurrences at-or-before. False positives replay exactly.
    "q_stream_bloom" ->
      """WITH o AS (
           SELECT event_id,
             ('0x' || substr(md5(event_type), 1, 8))::BIGINT AS key_hash,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
               AS p0,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 2))::BIGINT
               AS p1,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 5, 2))::BIGINT
               AS p2,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
           FROM events),
         pos AS (
           SELECT event_id, key_hash, rn, unnest([p0, p1, p2]) AS p
           FROM o),
         firsts AS (
           SELECT key_hash, p, min(rn) AS frn FROM pos GROUP BY 1, 2),
         sv AS (
           SELECT pos.event_id, bool_and(f.frn < pos.rn) AS seen_before
           FROM pos JOIN firsts f
             ON f.key_hash = pos.key_hash AND f.p = pos.p
           GROUP BY 1),
         nb AS (
           SELECT o.event_id, CAST(count(*) AS BIGINT) AS n_bits_set
           FROM o JOIN firsts f
             ON f.key_hash = o.key_hash AND f.frn <= o.rn
           GROUP BY 1)
         SELECT o.event_id, o.key_hash, sv.seen_before, nb.n_bits_set,
           o.rn AS n_inserted
         FROM o JOIN sv USING (event_id) JOIN nb USING (event_id)
         ORDER BY o.event_id""",

    // The streamed 3-sigma tripwire must equal the batch EXCLUSIVE
    // prefix-moment windows — same cross-multiplied integer verdict
    // (n·x − Σx)² > 9·(n·Σx² − Σx²), no float mean/stddev anywhere.
    "q_stream_anomaly" ->
      """WITH o AS (
           SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS v,
             row_number() OVER w AS rn,
             CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS sx,
             CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)
                               * CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS sxx
           FROM events WHERE user_id < 30
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         f AS (
           SELECT event_id, user_id, rn - 1 AS n_prior,
             CASE WHEN rn >= 3
                  THEN ((rn - 1) * v - sx) * ((rn - 1) * v - sx)
                  ELSE 0 END AS lhs,
             CASE WHEN rn >= 3
                  THEN 9 * ((rn - 1) * sxx - sx * sx)
                  ELSE 0 END AS rhs
           FROM o)
         SELECT event_id, user_id, CAST(n_prior AS BIGINT) AS n_prior,
           CAST(lhs AS BIGINT) AS lhs, CAST(rhs AS BIGINT) AS rhs,
           n_prior >= 2 AND lhs > rhs AS anomaly
         FROM f ORDER BY event_id""",

    // The streamed stateful attribution must equal the batch
    // IGNORE-NULLS window over the same events (q_attribution's shape on
    // exact integer microseconds) — cross-batch state carried per user
    // is invisible in the result iff it is correct.
    "q_stream_attribution" ->
      """WITH t AS (
           SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type IN ('click','view')
                             THEN event_id END IGNORE NULLS) OVER w AS touch_id,
             last_value(CASE WHEN event_type IN ('click','view')
                             THEN event_type END IGNORE NULLS) OVER w AS touch_type,
             epoch_us(ts) - last_value(CASE WHEN event_type IN ('click','view')
                             THEN epoch_us(ts) END IGNORE NULLS) OVER w AS gap_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT event_id AS purchase_id, user_id, touch_id, touch_type, gap_us
         FROM t WHERE event_type = 'purchase' ORDER BY purchase_id""",

    // The streamed flatMapGroupsWithState sessions must equal the batch
    // gap-and-island sessions exactly (q_sessionize's proven floored-epoch
    // discipline, aggregated to one row per session).
    // Both windows order by (ts_s, event_id): the engine sessionizes on
    // floored seconds only, so the gap flag must be computed in the SAME
    // order the running sum consumes it — a raw-ts order in g could place
    // the flag on a different row within a tied floored second.
    "q_stream_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
           FROM events),
         g AS (
           SELECT user_id, event_id, ts_s,
             ts_s - lag(ts_s, 1) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) AS gap_s
           FROM e),
         s AS (
           SELECT user_id, ts_s,
             sum(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT user_id, min(ts_s) AS start_s, max(ts_s) AS end_s,
           CAST(count(*) AS INTEGER) AS n_events
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, start_s""")
}
