package graft.operators

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.apache.spark.storage.StorageLevel

/** The round harness of the iterative operators (the graph family in
  * [[PageRank]], [[Graphs]] and [[Components]]): how a loop pins and
  * releases its frames, the fixed-round pin cadence ([[fixedRounds]]),
  * and the RDD-layer edge setup of the loops that run below Catalyst
  * ([[withEdgeRdd]], [[edgePartitioner]], [[pinRows]]).
  *
  * Release discipline for localCheckpoint-pinned frames in iterative
  * operators. `Dataset.unpersist` goes through the CacheManager and does
  * NOT touch checkpoint storage (the pinned RDD is persisted at the RDD
  * level by `Dataset.localCheckpoint`), so an iterative loop that relies
  * on it accumulates every round's node-spine-sized RDD in executor
  * storage for the life of the session — probed empirically: one
  * `localCheckpoint(true)` + `Dataset.unpersist(true)` leaves
  * `sc.getPersistentRDDs` at 1.
  *
  * [[release]] reaches the actual pinned RDD through the checkpointed
  * Dataset's plan (a [[LogicalRDD]] over the persisted internal-row RDD)
  * and unpersists it directly. Callers may only release a frame once the
  * rounds that read it are materialized AND the frame is unreachable
  * from the returned plan — after an eager final checkpoint (lineage
  * truncated at the final RDD, so nothing downstream recomputes through
  * released rounds), or after the loop's per-round action when the frame
  * belongs to a superseded round.
  */
object Checkpoints {

  /** The RDD a `Dataset.localCheckpoint` pinned, if `df` is the frame
    * that call returned (its analyzed plan is exactly one LogicalRDD).
    */
  def pinnedRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }

  private val statsCap = BigInt(Long.MaxValue)

  /** `localCheckpoint` with the carried size ESTIMATE clamped.
    *
    * Spark 4's `Dataset.localCheckpoint` truncates the plan to a
    * [[LogicalRDD]] but forwards the origin plan's `Statistics`
    * (`originStats`) through the checkpoint. In an iterative operator
    * that is a time bomb: each round's plan joins the previous pin
    * against itself, size estimates MULTIPLY (`SizeInBytesOnlyStats
    * PlanVisitor` takes the product of join children), and the carried
    * BigInt doubles in BIT LENGTH per round — after k rounds the
    * estimate is a 63·2^k-bit number, and merely COMPUTING the next
    * round's stats does Karatsuba/Toom-Cook products that freeze the
    * driver (measured: boruvkaMsf at sf0.01 planned round-2 labels for
    * 16+ minutes on ~10⁶-bit integers; single loops like minLabel stay
    * ≤ ~4·10³ bits only because they converge in few rounds).
    *
    * The clamp caps `sizeInBytes` / `rowCount` at `Long.MaxValue`.
    * Below the cap the carried estimate passes through UNTOUCHED, so
    * broadcast-by-size decisions on small pinned frames are identical;
    * above it every value behaves the same anyway (nothing past the
    * broadcast threshold is size-sensitive), so collapsing to the cap
    * changes no plan — it only bounds the arithmetic. Every iterative
    * loop should pin through here rather than bare `localCheckpoint`.
    */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame =
    clampCarriedStats(df.localCheckpoint(eager))

  /** Re-wrap `df` (a checkpoint-returned frame) with its carried
    * statistics clamped to [[statsCap]]; identity when already sane.
    * Output attributes, the pinned RDD, partitioning, and ordering are
    * preserved — only the runaway estimate is replaced.
    */
  def clampCarriedStats(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case l: LogicalRDD =>
        val s = l.stats
        if (s.sizeInBytes <= statsCap && s.rowCount.forall(_ <= statsCap)) df
        else {
          val clamped = org.apache.spark.sql.catalyst.plans.logical.Statistics(
            sizeInBytes = s.sizeInBytes.min(statsCap),
            rowCount = s.rowCount.map(_.min(statsCap)))
          val session = df.sparkSession
            .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(session,
            LogicalRDD(l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
              l.isStreaming, l.stream)(session, Some(clamped), None))
        }
      case _ => df
    }

  /** Unpersist the checkpoint storage behind each frame (non-blocking). */
  def release(dfs: Seq[DataFrame]): Unit =
    dfs.foreach(df => pinnedRdd(df).foreach(_.unpersist(blocking = false)))

  /** `rounds` fixed rounds of `step` from `init`, under one pin cadence:
    * every `every`-th round's frame is lazily [[pin]]ned (its plan
    * truncates and its carried stats stay clamped), the rounds between
    * chain unpinned, and the final round is pinned eagerly — the one
    * action that materializes the whole iteration. Every intermediate
    * pin and the caller's `buildPins` (the edge list and other frames
    * the rounds read) are released before the final frame returns; its
    * lineage ends at its own checkpoint, so nothing recomputes through
    * them.
    *
    * The interval is each caller's measured trade (r17): a lazy pin
    * costs a full Catalyst pass (~0.25 s of driver time), while every
    * skipped pin deepens the next round's plan and multiplies its
    * carried stats by one more join.
    */
  def fixedRounds(init: DataFrame, rounds: Int, every: Int,
      buildPins: Seq[DataFrame] = Nil)(step: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1 && every >= 1, s"rounds and every must be >= 1, got $rounds, $every")
    val pins = Seq.newBuilder[DataFrame]
    var cur = init
    for (r <- 1 to rounds) {
      val next = step(cur)
      cur =
        if (r == rounds) pin(next)
        else if (r % every == 0) { val p = pin(next, eager = false); pins += p; p }
        else next
    }
    release(pins.result() ++ buildPins)
    cur
  }

  /** The id type a Long-keyed RDD loop returns for input id columns of
    * `types`: BIGINT if any is, else INT. Fails unless every type is one
    * of the two — the loops key on Long, whose order must agree with
    * the engine's value order.
    */
  def idType(what: String, types: Seq[DataType]): DataType = {
    require(types.forall(t => t == LongType || t == IntegerType),
      s"$what needs integral ids, got $types — the RDD loop keys on Long")
    if (types.contains(LongType)) LongType else types.head
  }

  /** Scale-adaptive partition width (guide §2: derive partitioning from
    * input size, not a constant). Edge sets span 10² to 10⁹ edges: a
    * fixed defaultParallelism width costs rounds × width near-empty
    * tasks on the small end (measured: ~500 10-ms tasks on a 10³-edge
    * graph), while a width of 1 serializes a billion-edge loop. ~64k
    * edges per partition, capped at the session's parallelism, clamped
    * in Long before `toInt` (nEdges/65536+1 would wrap negative past
    * ~1.4e14 edges and collapse to width 1).
    */
  def edgePartitioner(sc: SparkContext, nEdges: Long): HashPartitioner =
    new HashPartitioner(math.max(1L,
      math.min(sc.defaultParallelism.toLong, nEdges / 65536L + 1L)).toInt)

  /** Runs `loop` over the distinct (src, dst) Long edges of `edges`
    * (both directions when `symmetric`), hash-partitioned by the
    * [[edgePartitioner]] of their count (the setup's one job). Rows with
    * a null id drop, as they never joined in the DataFrame renderings.
    * `loop` returns its eagerly pinned result ([[pinRows]]); the edge
    * storage is released after it, or when it throws.
    */
  def withEdgeRdd(edges: DataFrame, srcCol: String, dstCol: String,
      symmetric: Boolean = false)(
      loop: (RDD[(Long, Long)], HashPartitioner) => DataFrame): DataFrame = {
    // one pass over the caller's pipeline: flatMap emits both
    // directions, so nothing upstream evaluates twice
    val distinctEdges = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .rdd
      .flatMap(r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else if (symmetric) Iterator((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))
        else Iterator((r.getLong(0), r.getLong(1))))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val part = edgePartitioner(edges.sparkSession.sparkContext, distinctEdges.count())
    val keyed = distinctEdges.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    try loop(keyed, part)
    finally {
      distinctEdges.unpersist(blocking = false)
      keyed.unpersist(blocking = false)
    }
  }

  /** A Long-keyed loop's `rows` as its eagerly pinned result frame, each
    * column named in `castBack` cast to the given (input) type. The pin
    * materializes the rows while the loop's RDD storage is still
    * persisted, so the caller may release that storage afterwards.
    */
  def pinRows(spark: SparkSession, rows: RDD[Row], schema: StructType,
      castBack: Map[String, DataType]): DataFrame = {
    val raw = spark.createDataFrame(rows, schema)
    pin(
      if (castBack.values.forall(_ == LongType)) raw
      else raw.select(schema.fieldNames.toSeq.map(n =>
        castBack.get(n).fold(col(n))(t => col(n).cast(t).as(n))): _*))
  }
}
