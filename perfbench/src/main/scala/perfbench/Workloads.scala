package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.catalog.AirbyteCatalog

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import Main.{M, Outcome, median, secs, summary}

/** Common shape of a workload run: set-up, then a closed loop of
  * operations for the requested seconds. With tracing on, half the
  * operations are traced, so one run gives both the per-layer figures and
  * the tracing overhead. */
abstract class Workload(val a: Main.Args) {

  protected val t0: Long = System.nanoTime()
  val spark: SparkSession = Main.session(a.work)
  protected val sessionNs: Long = System.nanoTime() - t0
  val tracer = new Tracer(Some(spark.sparkContext))
  val listener = new JobListener
  if (a.trace) spark.sparkContext.addSparkListener(listener)

  protected var attempted = 0L
  protected var failed = 0L
  protected val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Count one operation; record its failures. */
  protected def check(what: String)(errs: => Seq[String]): Unit = {
    attempted += 1
    val e = try errs catch { case t: Throwable => Seq(s"check threw: $t") }
    if (e.nonEmpty) { failed += 1; errors ++= e.map(x => s"$what: $x") }
  }

  /** Run `reps` times and keep the median duration; returns the last result. */
  protected def repeated[T](reps: Int)(body: => T): (T, Long) = {
    val times = (1 to reps).map { _ =>
      val s = System.nanoTime(); val r = body; (r, System.nanoTime() - s)
    }
    (times.last._1, median(times.map(_._2.toDouble)).toLong)
  }

  /** Closed loop: call `op(traced)` until `a.seconds` have passed and at
    * least `minOps` calls were made. A traced run orders its operations
    * untraced, traced, traced, untraced (repeating), so warm-up drift
    * falls on both sides of the overhead comparison alike. */
  protected def loop(minOps: Int)(op: Boolean => Unit): Unit = {
    val start = System.nanoTime()
    var i = 0
    while (i < minOps || System.nanoTime() - start < a.seconds * 1000000000L) {
      val traced = a.trace && (i % 4 == 1 || i % 4 == 2)
      tracer.on = traced
      try op(traced) finally tracer.on = false
      i += 1
    }
  }

  /** Every per-layer metric, as medians over the traced operations. Span
    * times come from the trace, Spark figures from the listener by job
    * group, and `measured` holds the workload's own counts and probe
    * times. A layer the workload bypasses has no spans and no counts, so
    * it reads 0. Also checks that the named layer spans cover at least 90%
    * of each traced operation. */
  protected def perLayer(jvm: JvmWindow, opsRun: Int, untracedOpS: Double,
      measured: Map[String, Double]): (Map[String, M], Map[String, Any]) = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    val spans = tracer.spans.filter(_.op > 0).toSeq
    val self = Tracer.selfTimes(spans)
    val ops = spans.groupBy(_.op).toSeq.sortBy(_._1).map(_._2)
    def jobs(ss: Seq[Span]) = ss.flatMap(s => listener.bySpan.get(s.id)).foldLeft(JobListener.Agg())(_ + _)
    def active(ss: Seq[Span]) = Tracer.unionLength(ss.flatMap(s => listener.intervals.getOrElse(s.id, Nil)))
    def root(ss: Seq[Span]) = ss.find(_.parent == 0).get
    def perOp(f: Seq[Span] => Double) = median(ops.map(f))
    def spanS(name: String, own: Boolean = false) =
      perOp(ss => secs(ss.filter(_.name == name).map(s => if (own) self(s.id) else s.dur).sum))
    val coverage = ops.map(ss => 100.0 * (1 - self(root(ss).id).toDouble / root(ss).dur))
    check("trace coverage")(coverage.filter(_ < 90).map(c => f"layer spans cover $c%.1f%% of a traced operation"))
    val tracedOpS = perOp(ss => secs(root(ss).dur))
    val common = Map(
      "spark.jobs" -> M(perOp(jobs(_).jobs.toDouble), "count"),
      "spark.stages" -> M(perOp(jobs(_).stages.toDouble), "count"),
      "spark.tasks" -> M(perOp(jobs(_).tasks.toDouble), "count"),
      "spark.task_s" -> M(perOp(ss => secs(jobs(ss).taskNs)), "s"),
      "spark.job_active_s" -> M(perOp(ss => secs(active(ss))), "s"),
      "spark.driver_only_s" -> M(perOp(ss => secs(root(ss).dur - active(ss))), "s"),
      "spark.shuffle_write_bytes" -> M(perOp(jobs(_).shuffleWrite.toDouble), "bytes"),
      "jvm.gc_s" -> M(jvm.gcSeconds / opsRun.max(1), "s"),
      "jvm.heap_peak_mb" -> M(jvm.heapPeakMb, "MB"),
      "trace.overhead_pct" -> M(100.0 * (tracedOpS / untracedOpS - 1), "%"),
      "trace.coverage_pct" -> M(median(coverage), "%"))
    val sync = Map(
      "source.read_s" -> M(spanS("source.read"), "s"),
      "source.discover_s" -> M(spanS("source.discover"), "s"),
      "sync.engine_self_s" -> M(spanS("sync.engine", own = true), "s"),
      "sink.emit_s" -> M(spanS("sink.emit"), "s"),
      "state.save_s" -> M(spanS("state.save"), "s")) ++
      FlatSinger.measured.map { case (k, u) => k -> M(measured.getOrElse(k, 0.0), u) }
    val queries = QueryInventory.names.flatMap { n =>
      val runs = spans.filter(_.name == s"q.$n").map { r =>
        val tree = spans.filter(s => s.op == r.op && s.start >= r.start && s.end <= r.end)
        (secs(r.dur), secs(tree.filter(_.name == s"q.$n.build").map(_.dur).sum), jobs(tree).jobs.toDouble,
          secs(r.dur - active(tree)))
      }
      def med(f: ((Double, Double, Double, Double)) => Double) = if (runs.isEmpty) 0.0 else median(runs.map(f))
      Seq(s"q.$n.wall_s" -> M(med(_._1), "s"), s"q.$n.build_s" -> M(med(_._2), "s"),
        s"q.$n.jobs" -> M(med(_._3), "count"), s"q.$n.driver_only_s" -> M(med(_._4), "s"))
    }
    val selfTable = spans.map(_.name).distinct.map { n =>
      n -> perOp(ss => secs(ss.filter(_.name == n).map(s => self(s.id)).sum))
    }.sortBy(-_._2)
    val detail = Map(
      "self_time_s_per_op" -> selfTable.map { case (n, t) => Seq(n, t) },
      "self_time_sum_s" -> selfTable.map(_._2).sum,
      "self_time_sum_ratio" -> selfTable.map(_._2).sum / tracedOpS,
      "untraced_op_median_s" -> untracedOpS,
      "traced_op_median_s" -> tracedOpS,
      "traced_ops" -> ops.size,
      "spark.spill_bytes" -> perOp(jobs(_).spill.toDouble))
    tracer.dump(a.work.resolve(s"${a.workload}-spans.json"), listener.bySpan.toMap)
    (common ++ sync ++ queries, detail)
  }

  def run(): Outcome
}

/** `sync_flat_singer`: one flat `events` stream, FULL_TABLE, Singer lines
  * through SingerSink.emit into a counting writer (the CLI's stdout path).
  * Cost per record dominates. */
final class FlatSinger(a: Main.Args) extends Workload(a) {
  val copies = 10
  val stateEvery = 10000
  private val conn: Path = a.work.resolve("connector")
  private val mapper = new ObjectMapper()

  /** Isolated probes over the connector output: parse, catalog, merge. */
  private def probes(): Map[String, Double] = {
    val lines = Files.readAllLines(conn.resolve("full.jsonl")).asScala.toIndexedSeq
    val states: IndexedSeq[JsonNode] = lines.filter(_.startsWith("""{"type":"STATE"""))
      .map(l => mapper.readTree(l).get("state"))
    val catalogLine = Files.readString(conn.resolve("catalog.jsonl")).trim
    val ((nLines, unparsed), parseNs) = repeated(3)(Probes.parse(lines))
    val (_, catNs) = repeated(5)(Probes.catalog(catalogLine))
    val (merges, mergeNs) = repeated(3)(Probes.merge(states))
    Map("protocol.parse_s" -> secs(parseNs), "protocol.lines" -> nLines.toDouble,
      "protocol.unparsed" -> unparsed.toDouble, "catalog.parse_s" -> secs(catNs),
      "state.merge_s" -> secs(mergeNs), "state.merges" -> merges.toDouble)
  }

  def run(): Outcome = {
    val (stream, genNs) = repeated(3) {
      Main.deleteTree(conn)
      val s = Gen.flatStream(Gen.events(spark, a.data.toString), a.seed, copies)
      Gen.writeConnector(conn, s, stateEvery)
      s
    }
    val t1 = System.nanoTime()
    val inputBytes = Files.size(conn.resolve("full.jsonl"))
    val schema = AirbyteCatalog.fromJson(mapper.readTree(Files.readString(conn.resolve("catalog.jsonl")))
      .get("catalog")).stream(stream.name).get.sparkSchema
    val expected = Map(stream.name -> SyncRunner.singerExpected(spark, stream, schema))
    val runner = new SyncRunner(spark, tracer, conn, a.work, Map(stream.name -> stream.cursor))
    val stateOut = a.work.resolve("state.json")
    def one(): SyncOut = {
      val o = runner.run(stateOut)
      check("sync")(SyncRunner.mismatches(o, expected))
      o
    }
    (1 to 3).foreach(_ => one())
    val setupNs = sessionNs + genNs + (System.nanoTime() - t1)

    val jvm = new JvmWindow
    val walls, firsts = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[SyncOut]
    var ops = 0
    loop(3) { tr =>
      val o = one()
      ops += 1
      if (tr) traced += o else { walls += secs(o.wall); firsts += secs(o.firstRecord) }
    }
    val opS = median(walls.toSeq)
    val delivered = expected.values.map(_.records).sum
    val endToEnd = Map(
      "setup_s" -> M(secs(setupNs), "s"),
      "op_s" -> M(opS, "s"),
      "items_per_s" -> M(delivered / opS, "1/s"),
      "short_op_s" -> M(median(firsts.toSeq), "s"))
    var detail = Map[String, Any](
      "workload" -> a.workload, "records" -> delivered, "input_bytes" -> inputBytes,
      "mb_per_s" -> inputBytes / 1e6 / opS, "sync_s" -> summary(walls.toSeq),
      "first_record_s" -> summary(firsts.toSeq), "session_s" -> secs(sessionNs), "gen_s" -> secs(genNs))
    var layers = Map.empty[String, M]
    if (a.trace) {
      def med(f: SyncOut => Long) = median(traced.map(o => f(o).toDouble).toSeq)
      val measured = probes() ++ Map(
        "connector.spawns" -> med(_.spawns), "demux.spill_bytes" -> med(_.spillBytes),
        "sink.records" -> med(_.delivered.values.map(_.records).sum), "sink.bytes" -> med(_.sinkBytes),
        "state.bytes" -> med(_.stateBytes))
      val (l, d) = perLayer(jvm, ops, opS, measured)
      layers = l
      detail ++= d ++ Map("protocol.unparsed" -> measured("protocol.unparsed"),
        "sink.yield" -> measured("sink.records") / stream.rows.size)
    }
    Outcome(attempted, failed, errors.toSeq, endToEnd, layers, detail)
  }
}

/** `query_inventory`: six SparkEntry queries over the testdata tables,
  * each run with an action that computes every output column (the `noop`
  * writer): three iterative graph loops, bound by the Spark driver and
  * Catalyst, and three one-shot queries that no loop harness touches. */
final class QueryInventory(a: Main.Args) extends Workload(a) {
  import QueryInventory.names

  def run(): Outcome = {
    val tables = a.data.toString
    val fns = graft.SparkEntry.queries
    val qout = a.work.resolve("qout")
    // Set-up pass: every result lands as parquet for the oracle comparison
    // made after the run, and its row count becomes the expected count.
    val rows = names.map { n =>
      val obs = Observation(s"cold_$n")
      fns(n)(spark, tables).observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(qout.resolve(n).toString)
      n -> obs.get("n").asInstanceOf[Long]
    }.toMap
    Files.writeString(qout.resolve("oracle_sql.json"),
      Main.jsonValue(graft.SparkEntry.oracleSql.filter(e => names.contains(e._1))))
    val wall = names.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val build = names.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val passWall = mutable.ArrayBuffer.empty[Double]
    // Three more untimed passes: pass times keep falling for about five
    // passes after the cold one (JIT), and a run measures only a few.
    var pass = 0
    def runPass(timed: Boolean, tr: Boolean): Unit = {
      pass += 1
      val p0 = System.nanoTime()
      tracer.operation(pass, "pass") {
        names.foreach { n =>
          val s0 = System.nanoTime()
          val obs = Observation(s"q_${n}_$pass")
          var b = 0L
          check(n) {
            tracer(s"q.$n") {
              val df = tracer(s"q.$n.build")(fns(n)(spark, tables))
              b = System.nanoTime() - s0
              tracer(s"q.$n.action")(df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save())
            }
            val got = obs.get("n").asInstanceOf[Long]
            if (got != rows(n)) Seq(s"$got rows, expected ${rows(n)}") else Nil
          }
          if (timed && !tr) { wall(n) += secs(System.nanoTime() - s0); build(n) += secs(b) }
        }
      }
      if (timed && !tr) passWall += secs(System.nanoTime() - p0)
    }
    (1 to 3).foreach(_ => runPass(timed = false, tr = false))
    val setupNs = System.nanoTime() - t0

    val jvm = new JvmWindow
    loop(if (a.trace) 8 else 4)(tr => runPass(timed = true, tr))
    val med = names.map(n => n -> median(wall(n).toSeq)).toMap
    val queriesS = med.values.sum
    val geomean = math.exp(med.values.map(math.log).sum / med.size)
    val endToEnd = Map(
      "setup_s" -> M(secs(setupNs), "s"),
      "op_s" -> M(queriesS, "s"),
      "items_per_s" -> M(names.size / queriesS, "1/s"),
      "short_op_s" -> M(geomean, "s"))
    var detail = Map[String, Any](
      "workload" -> a.workload, "queries_s" -> queriesS, "query_geomean_s" -> geomean,
      "iterative_s" -> QueryInventory.iterative.map(med).sum, "one_shot_s" -> QueryInventory.oneShot.map(med).sum,
      "rows" -> rows, "session_s" -> secs(sessionNs), "pass_s" -> summary(passWall.toSeq),
      "q" -> names.map(n => n -> (summary(wall(n).toSeq) ++ Map("build_s" -> median(build(n).toSeq)))).toMap)
    var layers = Map.empty[String, M]
    if (a.trace) {
      val (l, d) = perLayer(jvm, pass - 3, median(passWall.toSeq), Map.empty)
      layers = l
      detail ++= d
    }
    Outcome(attempted, failed, errors.toSeq, endToEnd, layers, detail)
  }
}

object QueryInventory {
  val iterative: Seq[String] = Seq("q_katz", "q_shortest_path", "q_bfs_hops")
  val oneShot: Seq[String] = Seq("q1_agg", "q_window", "q_asof_join")
  val names: Seq[String] = iterative ++ oneShot
}

object FlatSinger {
  /** Per-layer figures of the sync path that come from counters and
    * isolated probes rather than spans, with their units. */
  val measured: Seq[(String, String)] = Seq(
    "protocol.parse_s" -> "s", "protocol.lines" -> "count", "catalog.parse_s" -> "s",
    "state.merge_s" -> "s", "state.merges" -> "count", "connector.spawns" -> "count",
    "demux.spill_bytes" -> "bytes", "sink.records" -> "count", "sink.bytes" -> "bytes",
    "state.bytes" -> "bytes")
}
