package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.state.StateStore

/** Structured-Streaming re-expression of the reference's unbounded-pipe
  * sync loop (reference `tap_airbyte/tap.py:781-902`): the reference IS a
  * streaming pipeline — unbounded stdout, per-stream queues, consumer
  * threads, processing-order state checkpoints — without event-time
  * semantics. Here that becomes:
  *
  *   - source: `readStream` over a landing directory of JSONL/parquet (the
  *     spill layout SubprocessSource writes), schema from discovery;
  *   - demux: `partitionBy(stream)` on write, or per-stream filtered sinks;
  *   - state: Spark's `checkpointLocation` replaces hand-rolled STATE
  *     bookkeeping — exactly-once per micro-batch vs the reference's
  *     at-least-once emit-after-merge;
  *   - bookmark export: a `foreachBatch` hook folds each micro-batch's max
  *     cursor into a [[StateStore]], so batch re-runs can resume
  *     (`cursor > bookmark`) even outside streaming.
  *
  * Beyond parity, the keyed operators ([[sessionizeStream]] and the
  * rest, all on one [[foldByKey]] harness) carry explicit per-key state
  * across micro-batches, with optional processing-time TTL eviction —
  * the watermark/window machinery the reference lacks entirely
  * (SURVEY §2.2).
  */
object StreamingSync {

  /** Micro-batch JSONL stream over a landing directory. `maxFilesPerTrigger`
    * bounds batch size so executor memory is independent of backlog depth —
    * the fix for the reference's unbounded-queue scalability limit.
    */
  def readJsonlStream(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Run a stream to a parquet sink with checkpointing, committing the max
    * cursor per micro-batch into `state` (Singer STATE analog: emitted
    * after every batch, consistent with the sink because foreachBatch runs
    * post-write). The trigger is AvailableNow: the query drains the
    * landing directory and stops, like one reference sync run.
    */
  def syncToParquet(
      df: DataFrame,
      streamName: String,
      outDir: String,
      checkpointDir: String,
      cursorField: Option[String],
      state: StateStore): StreamingQuery =
    df.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.persist()
        try {
          batch.write.mode("append").parquet(outDir)
          cursorField.foreach { cursor =>
            // Monotone bookmark: never regress on out-of-order batches.
            // The comparison runs in the CURSOR COLUMN'S type (the stored
            // string bookmark is cast back) — a lexicographic string
            // compare would mis-order numeric cursors ("9" > "10") and
            // stall or regress the bookmark. try_cast + coalesce: a
            // stored bookmark that doesn't parse as the cursor's type
            // (foreign state file) counts as "advance", never as a crash
            // (ANSI cast would throw, a plain cast would null-NPE).
            val advances = state.bookmark(streamName, cursor)
              .map(old => coalesce(
                lit(old).try_cast(batch.schema(cursor).dataType) < col("mx"),
                lit(true)))
              .getOrElse(lit(true))
            val m = batch.agg(max(col(cursor)).as("mx"))
              .select(col("mx").cast("string").as("mxs"), advances.as("adv")).head()
            if (!m.isNullAt(0) && m.getBoolean(1))
              state.setBookmark(streamName, cursor, m.getString(0))
          }
        } finally { batch.unpersist(); () }
      }
      .start()

  /** The one `flatMapGroupsWithState` behind every keyed operator here.
    * `fold` gets a key, its micro-batch events and its carried state, and
    * returns the next state (`None` leaves the key without state) and the
    * rows to emit. The harness owns what the operators share: Append
    * output; with `ttlMs > 0`, ProcessingTimeTimeout eviction — a key
    * silent past `ttlMs` drops its state and emits nothing; and the state
    * write — `update` only when `fold` returns a state, the timeout
    * re-armed only after it (`setTimeoutDuration` throws on a key
    * without state).
    */
  private def foldByKey[K, E, S: Encoder, O: Encoder](
      keyed: KeyValueGroupedDataset[K, E], ttlMs: Long = 0L)(
      fold: (K, Iterator[E], Option[S]) => (Option[S], Iterator[O])): Dataset[O] = {
    val timeout =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.flatMapGroupsWithState[S, O](OutputMode.Append(), timeout) {
      (key: K, evs: Iterator[E], gs: GroupState[S]) =>
        if (gs.hasTimedOut) { gs.remove(); Iterator.empty }
        else {
          val (next, out) = fold(key, evs, gs.getOption)
          next.foreach { st =>
            gs.update(st)
            if (ttlMs > 0) gs.setTimeoutDuration(ttlMs)
          }
          out
        }
    }
  }

  /** [[foldByKey]] as an ordered per-event scan: a key's micro-batch
    * events are sorted by `order` (stable) and `step` threads the state
    * through them, returning the next state and the rows the event
    * emits. Sorting within the batch is what makes a scan replayable;
    * across batches every operator relies on per-key-monotonic arrival.
    */
  private def scanByKey[K, E, S: Encoder, O: Encoder, T: Ordering](
      keyed: KeyValueGroupedDataset[K, E], ttlMs: Long = 0L)(order: E => T)(
      step: (K, Option[S], E) => (Option[S], Iterable[O])): Dataset[O] =
    foldByKey(keyed, ttlMs) { (key, evs, init: Option[S]) =>
      var st = init
      val out = Vector.newBuilder[O]
      evs.toSeq.sortBy(order).foreach { e =>
        val (next, rows) = step(key, st, e)
        st = next
        out ++= rows
      }
      (st, out.result().iterator)
    }

  final case class SessionEvent(user_id: Long, ts_s: Long)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class ClosedSession(user_id: Long, start_s: Long, end_s: Long, n_events: Int)

  final case class TouchEvent(event_id: Long, user_id: Long, ts_us: Long, event_type: String)
  final case class TouchState(touch_id: Long, touch_type: String, ts_us: Long)
  final case class AttributedPurchase(
      purchase_id: Long,
      user_id: Long,
      touch_id: Option[Long],
      touch_type: Option[String],
      gap_us: Option[Long])

  /** Streaming last-touch attribution: each purchase is credited to the
    * user's most recent preceding click/view, with per-user state carrying
    * the latest touch ACROSS micro-batches — the stateful-stream analog of
    * the batch IGNORE-NULLS window (q_attribution), and the shape every
    * real-time conversion pipeline runs. State is O(users), one small
    * record each; events are ordered (ts_us, event_id) WITHIN a batch by
    * the function, so correctness requires only that batches arrive in
    * timeline order per user (the replay fixture cuts the timeline
    * globally), the same per-key-monotonic contract as the bookmark
    * cursor.
    *
    * `ttlMs > 0` arms ProcessingTimeTimeout state eviction (the
    * [[cChartStream]] key-churn-hygiene pattern) — and here the TTL is
    * not merely hygiene but the ATTRIBUTION WINDOW every production
    * last-touch pipeline declares: a user silent past `ttlMs` loses
    * their pending touch, so a later purchase attributes to nothing
    * (touch_id NULL), exactly the touch-expiry semantics of a 30-day
    * window. Live keys' credits come from their own state only, so
    * eviction cannot change them (spec-pinned).
    */
  def attributeStream(
      events: Dataset[TouchEvent],
      ttlMs: Long = 0L): Dataset[AttributedPurchase] = {
    import events.sparkSession.implicits._
    scanByKey(events.groupByKey(_.user_id), ttlMs)(e => (e.ts_us, e.event_id)) {
      (user, st: Option[TouchState], e) =>
        e.event_type match {
          case "click" | "view" =>
            (Some(TouchState(e.event_id, e.event_type, e.ts_us)), Nil)
          case "purchase" =>
            (st, Seq(AttributedPurchase(e.event_id, user,
              st.map(_.touch_id), st.map(_.touch_type),
              st.map(t => e.ts_us - t.ts_us))))
          case _ => (st, Nil) // signup/error: neither touch nor conversion
        }
    }
  }

  final case class ValueEvent(event_id: Long, user_id: Long, ts_us: Long, v: Long)
  final case class EwmaState(s: Double)
  final case class EwmaRow(event_id: Long, user_id: Long, ewma: Double)

  /** Streaming per-key EWMA: the dyadic exponential smoothing of
    * [[graft.operators.TimeSeries.ewmaDyadic]] as a stateful stream —
    * one double of state per key carried ACROSS micro-batches, a row
    * emitted per event with the running smoothed value (append-safe: a
    * row, once emitted, never revises). The fold step is the identical
    * IEEE expression `s + (x − s)/2^halvings` in the identical
    * (ts_us, event_id) order, so the streamed result hash-equals the
    * batch recurrence replayed by the oracle — numeric state, not just
    * counters, surviving the batch/stream split. Events are ordered
    * within a batch by the function; batches must arrive in timeline
    * order per key (the same per-key-monotonic contract as
    * [[attributeStream]]).
    *
    * No `ttlMs` by design: state is O(1) per key (one double), so the
    * total footprint is bounded by the KEYSPACE, never the stream, and
    * eviction would restart the smoothing from the next observation —
    * a different series, not a cheaper one.
    */
  def ewmaStream(events: Dataset[ValueEvent], halvings: Int = 1): Dataset[EwmaRow] = {
    import events.sparkSession.implicits._
    require(halvings >= 1 && halvings <= 20,
      s"halvings must be in [1, 20], got $halvings")
    val den = (1L << halvings).toDouble
    scanByKey(events.groupByKey(_.user_id))(e => (e.ts_us, e.event_id)) {
      (user, st: Option[EwmaState], e) =>
        val x = e.v.toDouble
        val s = st.fold(x)(p => p.s + (x - p.s) / den)
        (Some(EwmaState(s)), Seq(EwmaRow(e.event_id, user, s)))
    }
  }

  final case class CusumState(tgt: Long, s: Long, minS: Long)
  final case class CusumRow(event_id: Long, user_id: Long, c_plus: Long, alarm: Boolean)

  /** Streaming one-sided CUSUM (Page 1954) — the drift detector in its
    * natural habitat (a LIVE data-quality monitor): per-key state is
    * three longs (baseline = first observation, running sum, running
    * min) carried across micro-batches; each event emits its
    * c⁺ = S − min(0, min S) and alarm verdict (append-safe). Pure
    * integer arithmetic in the same (ts_us, event_id) order as the
    * batch window formulation ([[graft.operators.TimeSeries
    * .cusumUpper]]), so the streamed sink hash-equals the batch
    * oracle row for row.
    *
    * No `ttlMs` by design: state is O(1) per key (three longs), bounded
    * by the keyspace, and eviction would reset the drift baseline
    * mid-monitor — a CUSUM that forgets its minimum raises false alarms.
    */
  def cusumStream(
      events: Dataset[ValueEvent],
      slack: Long,
      threshold: Long): Dataset[CusumRow] = {
    import events.sparkSession.implicits._
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    scanByKey(events.groupByKey(_.user_id))(e => (e.ts_us, e.event_id)) {
      (user, st: Option[CusumState], e) =>
        val tgt = st.map(_.tgt).getOrElse(e.v)
        val s = st.map(_.s).getOrElse(0L) + (e.v - tgt - slack)
        val minS = math.min(st.map(_.minS).getOrElse(0L), s)
        val cPlus = s - math.min(0L, minS)
        (Some(CusumState(tgt, s, minS)),
          Seq(CusumRow(e.event_id, user, cPlus, cPlus >= threshold)))
    }
  }

  final case class RateState(tokU: Long, lastUs: Long)
  final case class RateRow(
      event_id: Long, user_id: Long, allowed: Boolean, tok_after: Long)

  /** Streaming token-bucket rate limiter per user — the admission-
    * control primitive in front of every ingest API, replayed exactly:
    * the bucket holds `capMicro` micro-tokens (×10⁶ grid), refills
    * refill = Δus div `refillDivUs` micro-tokens per event-time gap
    * (so one full token takes 10⁶·refillDivUs microseconds), clamps
    * at capacity, and each event is admitted iff a full token
    * (10⁶ micro) is available, consuming it. A NEW key starts with a
    * FULL bucket (burst-friendly cold start — stated). State is two
    * longs per key; within-batch folds are (ts_us, event_id)-sorted
    * and the fixture's time-cut batches keep the walk globally
    * ordered, so the batch oracle replays every admit/deny decision
    * bit-identically.
    *
    * No `ttlMs` by design: state is O(1) per key (two longs), bounded
    * by the key universe like [[cusumStream]].
    */
  def rateLimitStream(
      events: Dataset[ValueEvent],
      capMicro: Long,
      refillDivUs: Long): Dataset[RateRow] = {
    import events.sparkSession.implicits._
    require(capMicro >= 1000000L, s"capacity below one token: $capMicro")
    require(refillDivUs > 0, s"refillDivUs must be > 0: $refillDivUs")
    scanByKey(events.groupByKey(_.user_id))(e => (e.ts_us, e.event_id)) {
      (user, st: Option[RateState], e) =>
        val pre = st match {
          case None => capMicro
          case Some(RateState(tok, last)) =>
            math.min(capMicro, tok + (e.ts_us - last) / refillDivUs)
        }
        val allowed = pre >= 1000000L
        val after = if (allowed) pre - 1000000L else pre
        (Some(RateState(after, e.ts_us)), Seq(RateRow(e.event_id, user, allowed, after)))
    }
  }

  final case class BloomState(bits: Array[Long], n: Long)
  final case class BloomRow(
      event_id: Long, user_id: Long, seen_before: Boolean,
      n_bits_set: Long, n_inserted: Long)

  /** Streaming Bloom-filter dedup gate: per key, a FIXED m-bit filter
    * accumulates the stream's values; each event emits whether its
    * value was (probably) seen before — membership tested BEFORE its
    * own insert — plus the filter's popcount and insert census. The
    * ingest-time "have we seen this item" screen where an exact seen-set
    * grows with the corpus: state is m/64 longs per key, FOREVER, no
    * matter how many events arrive — the sketch trade (bounded state,
    * one-sided error: false "seen" possible, false "new" impossible).
    *
    * Determinism contract: the event's 3 probe positions ride IN the
    * input (`v` packs three 8-bit md5 slices of the deduped attribute,
    * p₀·2¹⁶ + p₁·2⁸ + p₂ — SQL-re-derivable, the [[kmvDistinctStream]]
    * input discipline), bit-OR accumulation is order-free ACROSS
    * batches given the per-key-monotonic batch contract, and the
    * within-batch fold is (ts_us, event_id)-sorted — so the batch
    * oracle replays every seen/popcount row from the raw table,
    * FALSE POSITIVES INCLUDED (the filter's exact behavior is the
    * contract, not an approximation of it).
    *
    * `ttlMs > 0` arms ProcessingTimeTimeout eviction ([[cChartStream]]
    * pattern): an evicted key forgets its filter and a returning key
    * starts empty — generational dedup, the [[quantileStream]] tradeoff.
    */
  def bloomDedupStream(
      events: Dataset[ValueEvent],
      mBits: Int = 256,
      ttlMs: Long = 0L): Dataset[BloomRow] = {
    import events.sparkSession.implicits._
    require(mBits > 0 && mBits % 64 == 0 && mBits <= 65536,
      s"mBits must be a positive multiple of 64 (<= 65536), got $mBits")
    // a batch fold, not a scan: the filter is cloned once per batch and
    // set in place, where a per-event step would copy it per event
    foldByKey(events.groupByKey(_.user_id), ttlMs) {
      (key, evs, init: Option[BloomState]) =>
        val st = init.getOrElse(BloomState(new Array[Long](mBits / 64), 0L))
        val bits = st.bits.clone()
        var n = st.n
        var setCount = bits.map(java.lang.Long.bitCount(_).toLong).sum
        val out = evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
          val ps = Seq((e.v >> 16) & 0xffL, (e.v >> 8) & 0xffL, e.v & 0xffL)
            .map(p => (p % mBits).toInt)
          val seen = ps.forall(p => (bits(p / 64) & (1L << (p % 64))) != 0L)
          ps.foreach { p =>
            if ((bits(p / 64) & (1L << (p % 64))) == 0L) setCount += 1L
            bits(p / 64) |= (1L << (p % 64))
          }
          n += 1L
          BloomRow(e.event_id, key, seen, setCount, n)
        }
        (Some(BloomState(bits, n)), out.iterator)
    }
  }

  final case class TwaState(lastU: Long, lastV: Long, area: Long, span: Long)
  final case class TwaRow(
      event_id: Long, user_id: Long, area: Long, span_t: Long, twa: Double)

  /** Streaming time-weighted average — the live counterpart of
    * [[graft.operators.TimeSeries.timeWeightedAvg]]: per-key state is
    * four longs (last sample, accumulated `Σ v·Δt` area, covered
    * span); each event emits the running zero-order-hold mean so far
    * (append-safe). Pure integer accumulation + one final double
    * division per row, in the same (ts_us, event_id) order as the
    * batch window formulation — hash-equal to its oracle row for row.
    * A key's first event reports its own value (zero span).
    *
    * No `ttlMs` by design: state is O(1) per key (four longs), bounded
    * by the keyspace, and eviction would drop the accumulated area —
    * the running mean is defined over the key's WHOLE timeline.
    */
  def twaStream(events: Dataset[ValueEvent]): Dataset[TwaRow] = {
    import events.sparkSession.implicits._
    scanByKey(events.groupByKey(_.user_id))(e => (e.ts_us, e.event_id)) {
      (user, st: Option[TwaState], e) =>
        val next = st match {
          case None => TwaState(e.ts_us, e.v, 0L, 0L)
          case Some(p) =>
            TwaState(e.ts_us, e.v,
              p.area + p.lastV * (e.ts_us - p.lastU),
              p.span + (e.ts_us - p.lastU))
        }
        val twa =
          if (next.span == 0L) e.v.toDouble
          else next.area.toDouble / next.span.toDouble
        (Some(next), Seq(TwaRow(e.event_id, user, next.area, next.span, twa)))
    }
  }

  final case class HoltState(l: Long, b: Long)
  final case class HoltRow(
      event_id: Long, user_id: Long, level: Long, trend: Long, forecast_next: Long)

  /** Streaming Holt linear-trend smoothing — the live counterpart of
    * [[graft.operators.TimeSeries.holtLinear]], completing the numeric
    * batch/stream quartet (EWMA, CUSUM, TWA, Holt): per-key state is
    * TWO longs (level, trend) carried across micro-batches; each event
    * emits the running level/trend/one-step forecast (append-safe).
    * Pure integer recurrence — l' = (x + l + b) div 2, b' = (b + (l' −
    * l)) div 2 with TRUNCATED division (JVM `/` on Long, identical to
    * Spark `div` and DuckDB `//`) — in the same (ts_us, event_id)
    * order as the batch fold, so the streamed sink hash-equals the
    * batch oracle row for row. Same per-key-monotonic batch-arrival
    * contract as [[ewmaStream]].
    *
    * No `ttlMs` by design: state is O(1) per key (two longs), bounded
    * by the keyspace; eviction would restart level/trend from scratch —
    * [[ewmaStream]]'s rationale, stated once per numeric-fold stream.
    */
  def holtStream(events: Dataset[ValueEvent]): Dataset[HoltRow] = {
    import events.sparkSession.implicits._
    scanByKey(events.groupByKey(_.user_id))(e => (e.ts_us, e.event_id)) {
      (user, st: Option[HoltState], e) =>
        val next = st match {
          case None => HoltState(e.v, 0L)
          case Some(p) =>
            val ln = (e.v + p.l + p.b) / 2
            HoltState(ln, (p.b + (ln - p.l)) / 2)
        }
        (Some(next), Seq(HoltRow(e.event_id, user, next.l, next.b, next.l + next.b)))
    }
  }

  final case class MomentState(n: Long, sx: Long, sxx: Long)
  final case class AnomalyRow(
      event_id: Long, user_id: Long, n_prior: Long,
      lhs: Long, rhs: Long, anomaly: Boolean)

  /** Streaming 3-sigma anomaly monitor over integer values: per-key
    * state is the raw moments (n, Σx, Σx²) of everything seen BEFORE
    * the current event; the event is flagged iff its squared deviation
    * exceeds nine prior variances — entirely in cross-multiplied
    * integers, (n·x − Σx)² > 9·(n·Σx² − (Σx)²), so the verdict
    * replays bit-identically on any engine (a float mean/stddev would
    * tie differently at the boundary). Events with fewer than 2 prior
    * observations report lhs/rhs = 0 and no anomaly (variance
    * undefined). The live data-quality tripwire beside [[cusumStream]]
    * (CUSUM detects sustained drift; this flags single spikes), same
    * (ts_us, event_id) order and per-key-monotonic batch contract.
    *
    * Overflow bound: the largest product is (n·x − Σx)², so n·|x|
    * must stay ≤ ~1.5e9 (√2^62 / 2) — e.g. |x| ≤ 1e6 cents with
    * n ≤ 1500 per key, or |x| ≤ 1e4 with n ≤ 1.5e5; enforce upstream
    * (this fixture peaks at n·x ≈ 5e6). Past the bound, switch the
    * squares to DECIMAL(38,0)-style wide state.
    *
    * No `ttlMs` by design: state is O(1) per key (count + two moment
    * sums), bounded by the keyspace; eviction would zero the variance
    * estimate and silence the tripwire for the next two observations.
    */
  def anomalyStream(events: Dataset[ValueEvent]): Dataset[AnomalyRow] = {
    import events.sparkSession.implicits._
    scanByKey(events.groupByKey(_.user_id))(e => (e.ts_us, e.event_id)) {
      (user, prior: Option[MomentState], e) =>
        val st = prior.getOrElse(MomentState(0L, 0L, 0L))
        val (lhs, rhs) =
          if (st.n < 2) (0L, 0L)
          else {
            val d = st.n * e.v - st.sx
            (d * d, 9L * (st.n * st.sxx - st.sx * st.sx))
          }
        (Some(MomentState(st.n + 1, st.sx + e.v, st.sxx + e.v * e.v)),
          Seq(AnomalyRow(e.event_id, user, st.n, lhs, rhs, st.n >= 2 && lhs > rhs)))
    }
  }

  final case class ConvState(n_clicks: Long)
  final case class ConvRow(event_id: Long, user_id: Long, n_clicks_since: Long)

  /** Streaming conversion attribution counter: per user, count clicks
    * (`v` = 1) as they stream in; each purchase (`v` = 2) emits how many
    * clicks arrived since the PREVIOUS purchase, then resets — the
    * session-free "touches per conversion" signal with O(1) state per
    * key. Cross-batch correctness is the point: clicks landed in batch 1
    * must count toward a purchase arriving in batch 2, which the batch
    * oracle checks by replaying the same (ts_us, event_id)-ordered
    * tuple-interval counts over the raw table. Same per-key-monotonic
    * batch contract as [[ewmaStream]].
    *
    * No `ttlMs` by design: state is O(1) per key (one counter), bounded
    * by the keyspace; eviction would lose clicks landed between
    * purchases — exactly the cross-batch mass the stream exists to keep.
    */
  def conversionStream(events: Dataset[ValueEvent]): Dataset[ConvRow] = {
    import events.sparkSession.implicits._
    scanByKey(events.groupByKey(_.user_id))(e => (e.ts_us, e.event_id)) {
      (user, st: Option[ConvState], e) =>
        val cnt = st.fold(0L)(_.n_clicks)
        if (e.v == 1L) (Some(ConvState(cnt + 1)), Nil)
        else (Some(ConvState(0L)), Seq(ConvRow(e.event_id, user, cnt)))
    }
  }

  final case class KmvState(hashes: Array[Long])
  final case class KmvRow(
      event_id: Long, user_id: Long, n_sketch: Long, est: Long)

  /** Streaming KMV distinct-count estimation (Beyer et al. 2007): the
    * k-minimum-values sketch as BOUNDED cross-batch state — per key an
    * ascending array of at most `k` distinct hash values, updated by
    * sorted insert + trim; each event emits the RUNNING estimate
    * (exact `n` while the sketch is unsaturated, `(k−1)·2³² div h_k`
    * after — the [[graft.expressions.KmvSketchAgg]] estimator). The
    * input's `v` must already carry the portable md5 uniform of the
    * counted attribute, so every arithmetic step is deterministic
    * integers and the batch oracle replays the sketch evolution
    * row for row. Distinct counting with O(k) state per key where an
    * exact distinct set grows with the corpus — the streaming face of
    * the batch sketch family. Same (ts_us, event_id) order and
    * per-key-monotonic batch contract as [[ewmaStream]].
    *
    * No `ttlMs` by design: state is O(k) per key — already the
    * sketch's whole point — bounded by |keys|·k, never the corpus;
    * eviction would forget observed distincts and undercount forever.
    */
  def kmvDistinctStream(
      events: Dataset[ValueEvent], k: Int = 64): Dataset[KmvRow] = {
    import events.sparkSession.implicits._
    require(k >= 2 && k <= 100000, s"k out of range: $k")
    val estNum = (k - 1L) * 4294967296L
    scanByKey(events.groupByKey(_.user_id))(e => (e.ts_us, e.event_id)) {
      (key, st: Option[KmvState], e) =>
        var hs = st.fold(Array.empty[Long])(_.hashes)
        val idx = java.util.Arrays.binarySearch(hs, e.v)
        if (idx < 0) { // absent: sorted insert into a new array, trim to k
          val at = -(idx + 1)
          if (hs.length < k || at < k) {
            val grown = new Array[Long](math.min(hs.length + 1, k))
            System.arraycopy(hs, 0, grown, 0, at)
            grown(at) = e.v
            System.arraycopy(hs, at, grown, at + 1, grown.length - at - 1)
            hs = grown
          }
        }
        val n = hs.length.toLong
        val est = if (n < k) n else estNum / math.max(hs(k - 1), 1L)
        (Some(KmvState(hs)), Seq(KmvRow(e.event_id, key, n, est)))
    }
  }

  final case class LangToken(lang: String, tok: String)
  final case class MgState(tokens: Array[String], counts: Array[Long], seq: Long)
  final case class TopKCount(lang: String, seq: Long, token: String, cnt: Long)

  /** Streaming per-key frequent-item summary: the Misra–Gries heavy-
    * hitters sketch as bounded cross-batch state — at most `capacity`
    * (token, count) slots per key; a token outside a full summary
    * triggers the classic decrement-all step. After every micro-batch
    * the key's FULL summary is emitted stamped with an incrementing
    * `seq`, so the sink holds the summary's evolution and a consumer
    * takes each key's max-seq snapshot — the live "what's trending per
    * language" board with O(capacity) state per key while an exact
    * count table grows with the vocabulary.
    *
    * With `capacity` ≥ the key's distinct-token count the summary is
    * EXACT counts (the decrement branch never fires) and — because
    * addition is commutative — batch-split independent, which is what
    * the fixture guard pins against the batch groupBy. Under real
    * saturation the MG guarantee applies per prefix (any token with
    * true count > prefix_n/capacity is present); the decrement branch
    * is order-dependent like every MG stream, so saturated runs are
    * monitoring, not oracle, surface. Per-batch fold is
    * order-canonical (tokens sorted) so re-planned batches emit
    * identically.
    *
    * No `ttlMs` by design: state is O(capacity) per key, bounded by
    * |keys|·capacity, never the vocabulary; eviction would void the
    * Misra-Gries prefix guarantee (it holds over ALL counted tokens).
    */
  def topKStream(
      toks: Dataset[LangToken],
      capacity: Int = 1024): Dataset[TopKCount] = {
    import toks.sparkSession.implicits._
    require(capacity >= 1, s"capacity must be positive, got $capacity")
    foldByKey(toks.groupByKey(_.lang)) { (lang, ts, init: Option[MgState]) =>
      val st = init.getOrElse(MgState(Array.empty, Array.empty, 0L))
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      st.tokens.zip(st.counts).foreach { case (t, c) => m(t) = c }
      ts.toSeq.map(_.tok).sorted.foreach { tok =>
        if (m.contains(tok)) m(tok) += 1L
        else if (m.size < capacity) m(tok) = 1L
        else { // Misra–Gries decrement-all
          m.keys.toSeq.foreach { k =>
            val c = m(k) - 1L
            if (c <= 0L) m.remove(k) else m(k) = c
          }
        }
      }
      val seq = st.seq + 1L
      val kept = m.toArray
      (Some(MgState(kept.map(_._1), kept.map(_._2), seq)),
        kept.iterator.map { case (t, c) => TopKCount(lang, seq, t, c) })
    }
  }

  final case class TypedEvent(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  final case class ScdState(typ: String, from: Long, version: Long)
  final case class ScdRow(
      user_id: Long, version: Long, event_type: String,
      valid_from_us: Long, valid_to_us: Long)

  /** Streaming SCD Type-2 maintenance: per key, the OPEN dimension row
    * is three fields of state (current type, valid_from, version); a
    * type change CLOSES the open row (emitted with valid_to = the new
    * row's start) and opens the next — the live face of the batch
    * q_scd2 build, emitting exactly its closed-interval set (the open
    * rows live in state, the emit-on-close discipline of the interval-
    * union stream). Per-batch fold is (ts, id)-sorted; batches must be
    * per-key time-ordered (the watermark/file-order contract every
    * value stream in this file shares).
    *
    * No `ttlMs` by design: state is O(1) per key (the single OPEN row),
    * bounded by the dimension's keyspace — which a dimension table
    * stores in FULL anyway; evicting an open row would silently end a
    * key's history with no closing emit.
    */
  def scd2Stream(events: Dataset[TypedEvent]): Dataset[ScdRow] = {
    import events.sparkSession.implicits._
    scanByKey(events.groupByKey(_.user_id))(e => (e.ts_us, e.event_id)) {
      (user, st: Option[ScdState], e) =>
        st match {
          case None => (Some(ScdState(e.event_type, e.ts_us, 1L)), Nil)
          case Some(s) if s.typ != e.event_type =>
            (Some(ScdState(e.event_type, e.ts_us, s.version + 1L)),
              Seq(ScdRow(user, s.version, s.typ, s.from, e.ts_us)))
          case _ => (st, Nil)
        }
    }
  }

  final case class SrcHash(source: String, h: Long)
  final case class XorState(x: Long, n: Long, seq: Long)
  final case class XorRow(source: String, seq: Long, n_docs: Long, row_xor: Long)

  /** Streaming corpus checksum: the XOR fold of
    * [[graft.operators.Integrity.corpusChecksum]]'s row leg maintained
    * live per source — three longs of state per key, one row emitted
    * per (key, batch) with the running (n, xor) stamped by seq. XOR's
    * commutativity makes the running value batch-split independent BY
    * ALGEBRA (no ordering canonicalization needed — the one FMGWS op
    * here whose state fold is order-free), so the final snapshot equals
    * the batch checksum exactly: continuous ingest integrity without a
    * nightly full-scan audit.
    *
    * No `ttlMs` by design: state is O(1) per key (three longs) and the
    * key is a SOURCE, a config-bounded set; evicting a running XOR is
    * losing the checksum — the one stream where forgetting IS the bug
    * it exists to catch.
    */
  def checksumStream(rows: Dataset[SrcHash]): Dataset[XorRow] = {
    import rows.sparkSession.implicits._
    foldByKey(rows.groupByKey(_.source)) { (src, hs, init: Option[XorState]) =>
      var st = init.getOrElse(XorState(0L, 0L, 0L))
      hs.foreach(r => st = XorState(st.x ^ r.h, st.n + 1L, st.seq))
      st = st.copy(seq = st.seq + 1L)
      (Some(st), Iterator.single(XorRow(src, st.seq, st.n, st.x)))
    }
  }

  final case class TypeDayEvent(typ: String, day: Long)
  final case class CChartState(days: Array[Long], counts: Array[Long], seq: Long)
  final case class CChartRow(
      typ: String, seq: Long, day_idx: Long, n: Long,
      tot_prior: Long, nd_prior: Long, alarm: Boolean)

  /** Streaming self-starting c-chart: per key the day→count table is
    * folded as cross-batch state (bounded by the CALENDAR, not the
    * event count — ~4 KB/key for a decade of days) and after every
    * micro-batch the full CAUSAL chart snapshot is emitted stamped with
    * `seq`: each day judged against the mean of STRICTLY PRIOR days
    * only (the self-starting variant of [[graft.operators.TimeSeries.cChart]]),
    * alarm = nd_prior ≥ 7 ∧ n·nd > tot ∧ (n·nd − tot)² > 4·tot·nd with
    * the square in BigInt — the same cross-multiplied 2σ Poisson band,
    * no float mean, no √. Day counts are additive, so the final
    * snapshot is batch-split independent by algebra; a consumer takes
    * each key's max-seq snapshot (at-least-once sink ⇒ distinct after
    * the max-seq join, the q_stream_topk discipline).
    *
    * `ttlMs > 0` arms ProcessingTimeTimeout state eviction — the
    * pattern for production key-churn hygiene (a stream whose key
    * space churns leaks NoTimeout state forever): a key silent for
    * `ttlMs` has its calendar dropped, emitting nothing. Eviction is
    * SAFE here by construction: verdicts for live keys are computed
    * from their own per-key state only, so dead-key eviction cannot
    * change them (spec-guarded), and a returning key self-starts
    * afresh — the chart's own warmup (nd_prior ≥ 7) gates its alarms
    * exactly as it gated the key's first life. The default 0 keeps
    * NoTimeout for the oracled batch-parity query.
    */
  def cChartStream(
      events: Dataset[TypeDayEvent],
      ttlMs: Long = 0L): Dataset[CChartRow] = {
    import events.sparkSession.implicits._
    foldByKey(events.groupByKey(_.typ), ttlMs) { (typ, es, init: Option[CChartState]) =>
      val st = init.getOrElse(CChartState(Array.empty, Array.empty, 0L))
      val m = scala.collection.mutable.TreeMap.empty[Long, Long]
      st.days.zip(st.counts).foreach { case (d, c) => m(d) = c }
      es.foreach(e => m(e.day) = m.getOrElse(e.day, 0L) + 1L)
      val seq = st.seq + 1L
      val days = m.toArray // TreeMap → day-ascending, canonical
      var tot = 0L
      var nd = 0L
      val out = days.map { case (d, n) =>
        val lhs = BigInt(n * nd - tot).pow(2)
        val rhs = BigInt(4) * BigInt(tot) * BigInt(nd)
        val alarm = nd >= 7 && n * nd > tot && lhs > rhs
        val row = CChartRow(typ, seq, d, n, tot, nd, alarm)
        tot += n; nd += 1L
        row
      }
      (Some(CChartState(days.map(_._1), days.map(_._2), seq)), out.iterator)
    }
  }

  final case class TypeDayCount(typ: String, day: Long, n: Long)
  final case class RecState(pmax: Long, pmin: Long, any: Boolean)
  final case class RecordRow(
      typ: String, day_idx: Long, n: Long, rec_high: Boolean, rec_low: Boolean)

  /** Streaming record tracker (the live face of
    * [[graft.operators.TimeSeries.recordDays]]): per key two longs of
    * state (running max/min of FINALIZED daily counts); each arriving
    * day is flagged record-high/low against STRICTLY PRIOR days and
    * emitted exactly once — append-safe emit-on-arrival, no snapshot,
    * no seq. The first day of a key is a record on both sides (the
    * batch operator's convention). Contract: daily ROLLUP rows (one
    * final row per (key, day)) arriving per-key day-monotonic across
    * batches — the ewmaStream value-stream contract; within a batch
    * the fold sorts by day so intra-batch order is canonical.
    *
    * `ttlMs > 0` arms ProcessingTimeTimeout state eviction (the
    * [[cChartStream]] pattern): a key silent for `ttlMs` drops its
    * two-long max/min state, emitting nothing. Live keys' flags come
    * from their own state only, so eviction cannot change them; a
    * returning key self-starts — its first day back is a record on
    * both sides, exactly the convention that governed its first life.
    */
  def recordStream(
      days: Dataset[TypeDayCount],
      ttlMs: Long = 0L): Dataset[RecordRow] = {
    import days.sparkSession.implicits._
    scanByKey(days.groupByKey(_.typ), ttlMs)(_.day) { (typ, prior: Option[RecState], r) =>
      val st = prior.getOrElse(RecState(0L, 0L, any = false))
      val hi = !st.any || r.n > st.pmax
      val lo = !st.any || r.n < st.pmin
      (Some(RecState(
        if (st.any) math.max(st.pmax, r.n) else r.n,
        if (st.any) math.min(st.pmin, r.n) else r.n,
        any = true)),
        Seq(RecordRow(typ, r.day, r.n, hi, lo)))
    }
  }

  final case class TypeValue(typ: String, v: Long)
  final case class QuantState(counts: Array[Long], seq: Long)
  final case class QuantRow(
      typ: String, seq: Long, n_obs: Long, n_clamped: Long,
      p50_lo: Long, p90_lo: Long, p99_lo: Long)

  /** Streaming bucketed quantiles: per key a FIXED-WIDTH histogram
    * (`nBuckets` longs of state — bounded by the declared bucket
    * grid, never the data) folds value counts across micro-batches;
    * each batch emits the snapshot's p50/p90/p99 as the LOWER BOUND
    * of the bucket containing rank ⌈p·n⌉ — exact integers against the
    * declared grid, the production ingest-time quantile pattern (an
    * exact streaming quantile needs unbounded state; a sketch is
    * batch-order-sensitive — the fixed grid is both bounded AND
    * additive, so the final snapshot is batch-split independent by
    * algebra, the cChartStream discipline). Out-of-range values clamp
    * into the edge buckets and are COUNTED (`n_clamped`) so grid
    * misfit is observable, never silent. Consumers take max-seq per
    * key (at-least-once sink ⇒ distinct after the max-seq join).
    *
    * `ttlMs > 0` arms ProcessingTimeTimeout state eviction (the
    * [[cChartStream]] pattern) for key-churn hygiene: a key silent
    * past `ttlMs` drops its histogram, emitting nothing. The TRADEOFF
    * is generational, not per-row: the histogram is cumulative over
    * the key's whole life, so a RETURNING key restarts its counts and
    * its `seq` at 1 — and a max-seq consumer keeps reading the dead
    * generation's (higher-seq) snapshot until the new life overtakes
    * it. TTL therefore suits keys that genuinely die (session-scoped
    * metrics); lifetime quantiles over resurrecting keys keep the
    * NoTimeout default, which the oracled batch-parity query uses.
    */
  def quantileStream(
      events: Dataset[TypeValue],
      lo: Long,
      width: Long,
      nBuckets: Int,
      ttlMs: Long = 0L): Dataset[QuantRow] = {
    require(width > 0 && nBuckets > 1, s"bad grid: width=$width nBuckets=$nBuckets")
    import events.sparkSession.implicits._
    foldByKey(events.groupByKey(_.typ), ttlMs) { (typ, es, init: Option[QuantState]) =>
      val st = init.getOrElse(QuantState(new Array[Long](nBuckets + 1), 0L))
      val counts = st.counts.clone()
      // slot nBuckets carries the clamp census, not a bucket
      counts(nBuckets) += binInto(counts, es.map(_.v), lo, width, nBuckets)
      val seq = st.seq + 1L
      val n = counts.take(nBuckets).sum
      def qLo(pPm: Long): Long = {
        val rank = (n * pPm + 999L) / 1000L
        var cum = 0L
        var i = 0
        var out = lo + (nBuckets - 1).toLong * width
        var found = false
        while (i < nBuckets && !found) {
          cum += counts(i)
          if (cum >= rank) { out = lo + i.toLong * width; found = true }
          i += 1
        }
        out
      }
      (Some(QuantState(counts, seq)), Iterator.single(QuantRow(typ, seq, n,
        counts(nBuckets), qLo(500L), qLo(900L), qLo(990L))))
    }
  }

  /** Counts each value into its bucket of the fixed grid `lo + i·width`,
    * `i < nBuckets` — out-of-range values clamp into the edge buckets —
    * and returns how many clamped ([[quantileStream]], [[driftStream]]).
    */
  private def binInto(
      counts: Array[Long], vs: Iterator[Long], lo: Long, width: Long,
      nBuckets: Int): Long = {
    var clamped = 0L
    vs.foreach { v =>
      val raw = (v - lo) / width
      val b =
        if (v < lo) 0
        else if (raw >= nBuckets) nBuckets - 1
        else raw.toInt
      counts(b) += 1L
      if (v < lo || raw >= nBuckets) clamped += 1L
    }
    clamped
  }

  final case class DriftState(
      ref: Array[Long], nRef: Long, live: Array[Long], nLive: Long,
      nClamped: Long, seq: Long)
  final case class DriftRow(
      typ: String, seq: Long, n_ref: Long, n_live: Long, n_clamped: Long,
      tv_pm: Long)

  /** Streaming distribution-drift monitor: the FIRST micro-batch per
    * key freezes as the REFERENCE histogram (the baseline window);
    * every later batch accumulates the LIVE histogram and emits the
    * exact total-variation distance per-mille between the two
    * normalized grids — tv_pm = (1000·Σ_b |live_b·nRef − ref_b·nLive|)
    * div (2·nRef·nLive), each product in BigInt so the fold never
    * wraps at any corpus scale. The ingest-time "has this feed
    * shifted since go-live" gauge next to [[quantileStream]]'s level
    * readout: same declared fixed grid (state = 2·nBuckets longs,
    * bounded by the grid, never the data), same edge-bucket clamping
    * with a cumulative `n_clamped` census so grid misfit is
    * observable. The reference is the first batch BY CONTRACT (the
    * replay fixture makes it the early time window and the batch
    * oracle mirrors that split); live counts are additive, so the
    * final snapshot is independent of how the post-reference stream
    * is batch-split. Consumers take max-seq per key, distinct after
    * the join (at-least-once sink).
    *
    * `ttlMs > 0` arms ProcessingTimeTimeout eviction ([[cChartStream]]
    * pattern): an evicted key loses BOTH grids and a returning key
    * freezes a NEW reference — generational, exactly the
    * [[quantileStream]] tradeoff, and stated there.
    */
  def driftStream(
      events: Dataset[TypeValue],
      lo: Long,
      width: Long,
      nBuckets: Int,
      ttlMs: Long = 0L): Dataset[DriftRow] = {
    require(width > 0 && nBuckets > 1, s"bad grid: width=$width nBuckets=$nBuckets")
    import events.sparkSession.implicits._
    foldByKey(events.groupByKey(_.typ), ttlMs) { (typ, es, init: Option[DriftState]) =>
      val counts = new Array[Long](nBuckets)
      val clamped = binInto(counts, es.map(_.v), lo, width, nBuckets)
      val n = counts.sum
      val st = init match {
        case None =>
          DriftState(counts, n, new Array[Long](nBuckets), 0L, clamped, 1L)
        case Some(p) =>
          val live = p.live.clone()
          var i = 0
          while (i < nBuckets) { live(i) += counts(i); i += 1 }
          DriftState(p.ref, p.nRef, live, p.nLive + n,
            p.nClamped + clamped, p.seq + 1L)
      }
      val tv =
        if (st.nRef == 0L || st.nLive == 0L) 0L
        else {
          var num = BigInt(0)
          var i = 0
          while (i < nBuckets) {
            num += (BigInt(st.live(i)) * st.nRef
              - BigInt(st.ref(i)) * st.nLive).abs
            i += 1
          }
          ((BigInt(1000) * num)
            / (BigInt(2) * st.nRef * st.nLive)).toLong
        }
      (Some(st), Iterator.single(
        DriftRow(typ, st.seq, st.nRef, st.nLive, st.nClamped, tv)))
    }
  }

  final case class IntervalEvent(user_id: Long, event_id: Long, start_us: Long, end_us: Long)
  final case class IslandState(start: Long, maxEnd: Long, n: Long, island: Long)
  final case class IslandRow(
      user_id: Long, island: Long, island_start_us: Long,
      island_end_us: Long, n_events: Long)

  /** Streaming interval-union (the live face of the batch
    * gaps-and-islands merge): per user the OPEN island is three longs of
    * state (start, running max end, count); an event starting past the
    * running max CLOSES the island — emitted exactly then, append-safe —
    * and opens the next. Emit-on-close is the same discipline as
    * [[sessionizeStream]]; the final open island per user is never
    * emitted (no end-of-stream in a live pipeline), which the batch
    * oracle mirrors by dropping each user's last island. Same
    * (start_us, event_id) order and per-key-monotonic batch contract as
    * [[ewmaStream]].
    *
    * `ttlMs > 0` arms ProcessingTimeTimeout state eviction (the
    * [[cChartStream]] key-churn-hygiene pattern): a user silent for
    * `ttlMs` has their OPEN island dropped WITHOUT emitting — the
    * same "last open island is never emitted" contract the batch
    * oracle already mirrors, just applied at eviction time instead of
    * end-of-data. Live keys' output is unchanged (their islands close
    * from their own state only); a returning user self-starts with
    * island numbering back at 1, which consumers keying on
    * (user, island_start_us) absorb unchanged.
    */
  def intervalMergeStream(
      events: Dataset[IntervalEvent],
      ttlMs: Long = 0L): Dataset[IslandRow] = {
    import events.sparkSession.implicits._
    scanByKey(events.groupByKey(_.user_id), ttlMs)(e => (e.start_us, e.event_id)) {
      (user, st: Option[IslandState], e) =>
        st match {
          case None => (Some(IslandState(e.start_us, e.end_us, 1L, 1L)), Nil)
          case Some(s) if e.start_us > s.maxEnd =>
            (Some(IslandState(e.start_us, e.end_us, 1L, s.island + 1L)),
              Seq(IslandRow(user, s.island, s.start, s.maxEnd, s.n)))
          case Some(s) =>
            (Some(s.copy(maxEnd = math.max(s.maxEnd, e.end_us), n = s.n + 1L)), Nil)
        }
    }
  }

  final case class BandedDoc(band: Int, bh: Long, id: Long, fp: Long)
  final case class BucketState(ids: Array[Long], fps: Array[Long])
  final case class SimhashMatch(id_a: Long, id_b: Long, hamming: Int)

  /** Streaming SimHash near-dup detection: documents arrive in
    * micro-batches and every new document is matched against ALL
    * previously seen documents sharing a pigeonhole band bucket —
    * the dedup-at-ingest shape (reject or flag a near-dup the moment
    * it lands, instead of a nightly batch sweep). State per (band,
    * bucket) key is the bucket's (id, fp) roster, capped at
    * `maxBucket` like the batch LSH family's armed caps; matching is
    * exact `bitCount(xor)` against the roster plus earlier docs of
    * the same batch (sorted by id), so the EMITTED PAIR SET — after
    * the downstream distinct that collapses multi-band hits — equals
    * the batch [[graft.operators.Dedup.simhashNearDupPairs]] result
    * regardless of how documents were split into batches. The band
    * scheme comes from the SAME [[graft.operators.Dedup
    * .simhashBanded]] the batch path uses, so the two cannot drift.
    *
    * A re-delivered id never re-enters the roster (idempotent state),
    * though it re-emits its pairs — exactly-once pairing is the
    * downstream distinct's job, matching the at-least-once delivery
    * contract of every sink in this file.
    *
    * A FULL roster is never silent: a document that cannot enter a
    * capped bucket emits the CAP-ARMED MARKER `SimhashMatch(-1,
    * dropped_id, -1)` — the streaming analogue of the batch LSH
    * family's armed caps — so divergence from the uncapped batch
    * [[graft.operators.Dedup.simhashNearDupPairs]] on hot buckets is
    * observable downstream (consumers take real pairs with
    * `hamming >= 0`, audits count markers). The dropped doc still
    * matches against the existing roster (its pairs with ALREADY
    * admitted docs are real and emitted); only its future
    * matchability is lost, which is exactly what the marker records.
    *
    * `ttlMs > 0` arms ProcessingTimeTimeout eviction of (band,
    * bandhash) rosters — per-bucket state is already capped at
    * `maxBucket`, but the NUMBER of bucket keys grows with the corpus,
    * so an endless ingest eventually needs either eviction or a
    * periodic batch sweep. The TRADEOFF is semantic, not hygiene: a
    * roster evicted after `ttlMs` of silence FORGETS its documents, so
    * a near-dup arriving later pairs with nothing — dedup-against-ALL-
    * history degrades to dedup-within-a-sliding-recency-window.
    * That is the right contract when duplicates cluster in time
    * (crawl re-fetches, retry storms) and a scheduled batch
    * [[graft.operators.Dedup.simhashNearDupPairs]] sweep owns the long
    * tail; the NoTimeout default keeps exact batch parity and is what
    * the oracled query uses.
    */
  def simhashMatchStream(
      docs: Dataset[BandedDoc],
      maxHamming: Int,
      maxBucket: Int = 512,
      ttlMs: Long = 0L): Dataset[SimhashMatch] = {
    import docs.sparkSession.implicits._
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32), got $maxHamming")
    require(maxBucket >= 1, s"maxBucket must be positive, got $maxBucket")
    scanByKey(docs.groupByKey(d => (d.band, d.bh)), ttlMs)(_.id) {
      (_, prior: Option[BucketState], d) =>
        val st = prior.getOrElse(BucketState(Array.empty[Long], Array.empty[Long]))
        val pairs = st.ids.indices.filter(st.ids(_) != d.id).flatMap { i =>
          val h = java.lang.Long.bitCount(st.fps(i) ^ d.fp)
          if (h > maxHamming) None
          else Some(SimhashMatch(math.min(st.ids(i), d.id), math.max(st.ids(i), d.id), h))
        }
        if (st.ids.contains(d.id)) (Some(st), pairs)
        else if (st.ids.length < maxBucket)
          (Some(BucketState(st.ids :+ d.id, st.fps :+ d.fp)), pairs)
        else (Some(st), pairs :+ SimhashMatch(-1L, d.id, -1)) // cap-armed marker
    }
  }

  /** Per-user gap-based sessions as explicit per-key state. Emits one row
    * per CLOSED session: a session closes when a later event arrives past
    * the gap, so a user's last open session is never emitted (no end of
    * stream in a live pipeline). `gapSeconds` defines session boundaries
    * on the event-time column `ts_s` (epoch seconds).
    */
  def sessionizeStream(
      events: Dataset[SessionEvent],
      gapSeconds: Long = 1800L): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    scanByKey(events.groupByKey(_.user_id))(_.ts_s) {
      (user, st: Option[SessionState], e) =>
        val t = e.ts_s
        st match {
          case Some(s) if t - s.last <= gapSeconds =>
            (Some(s.copy(last = t, n = s.n + 1)), Nil)
          case Some(s) =>
            (Some(SessionState(t, t, 1)), Seq(ClosedSession(user, s.start, s.last, s.n)))
          case None => (Some(SessionState(t, t, 1)), Nil)
        }
    }
  }

  /** Streaming exact dedup with bounded state: the first record per key
    * wins; duplicates arriving within the watermark horizon of the
    * original are dropped, and key state older than the horizon is
    * evicted. This is exactly-once record delivery despite connector
    * retries/replays (the reference re-emits on resume; a Singer target
    * dedups by PK) — and the production alternative to an impossible
    * unbounded-memory exact dedup on an infinite stream: state is
    * O(keys within the horizon), not O(all keys ever).
    */
  def dedupByKeyWithinWatermark(
      records: DataFrame,
      tsCol: String,
      delay: String,
      keys: Seq[String]): DataFrame =
    records.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  /** Stream-stream inner interval join with symmetric watermarks: rows
    * join BUFFERED rows of the other side under an event-time-bounded
    * condition. The time bound plus the two watermarks make the join state
    * EVICTABLE — a buffered row older than (other side's watermark minus
    * the window) can never match again and is dropped, so memory stays
    * bounded on unbounded streams. Both inputs must already be shaped with
    * distinct column names; `condition` references the event-time columns
    * of BOTH sides (Spark refuses to plan the join as stateful-evictable
    * otherwise).
    */
  def intervalJoinStream(
      left: DataFrame,
      leftTsCol: String,
      right: DataFrame,
      rightTsCol: String,
      condition: String,
      delay: String,
      joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTsCol, delay)
      .join(right.withWatermark(rightTsCol, delay), expr(condition), joinType)

  /** Stream-stream OUTER interval join: like [[intervalJoinStream]], but
    * unmatched left rows ALSO emit (with nulls) — once the global
    * watermark (the MIN of both sides') passes the point where a match
    * has provably become impossible. That "provably impossible" clause is
    * the operational difference from batch: an outer result row is held
    * in state until eviction time, so a bounded replay must push the
    * watermark past every real event (e.g. with a final far-future
    * sentinel row on EACH side — min-of-watermarks means one laggard side
    * pins the join) or the unmatched rows never flush.
    */
  def intervalJoinStreamOuter(
      left: DataFrame,
      leftTsCol: String,
      right: DataFrame,
      rightTsCol: String,
      condition: String,
      delay: String,
      joinType: String = "left_outer"): DataFrame =
    intervalJoinStream(left, leftTsCol, right, rightTsCol, condition, delay, joinType)

  /** Windowed event-time aggregation with a watermark — the late-data
    * policy the reference has no notion of: counts per (event_type,
    * 10-minute window), dropping events later than the watermark.
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      watermarkDelay: String = "30 minutes",
      windowLen: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** SLIDING windowed counts: each event lands in len/slide overlapping
    * windows (the generator runs before the partial aggregate, so
    * map-side combine still applies); append-mode flush per window end,
    * exactly like the tumbling form. Boundaries emitted as exact integer
    * microseconds for the cross-engine compare.
    */
  def slidingCounts(
      events: DataFrame,
      tsCol: String = "ts",
      watermarkDelay: String = "30 minutes",
      windowLen: String = "1 day",
      slide: String = "12 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("start_us"),
        unix_micros(col("window.end")).as("end_us"),
        col("event_type"), col("n"))

  /** Stream-static enrichment: join each micro-batch against a batch
    * dimension table, broadcast so the stream side never shuffles and no
    * join state accumulates (the dim is re-resolvable per batch — Spark's
    * stream-static join semantics). The standard lookup-enrichment step of
    * a sync pipeline; stateless, so any watermark policy composes on top.
    */
  def enrichWithStatic(
      stream: DataFrame,
      dim: DataFrame,
      joinKeys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), joinKeys)
}
