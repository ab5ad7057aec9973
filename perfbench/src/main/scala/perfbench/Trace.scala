package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{AirbyteCatalog, ConfiguredCatalog}
import graft.sources.AirbyteSource
import graft.state.StateStore

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** One timed interval. `op` is the operation the span belongs to; the
  * spans of one operation form a tree through `parent`. Times in ns. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. When off, `apply` only runs the body, so the
  * untraced measurement pays one branch per boundary. Spans are recorded
  * from the benchmark's own code around calls into the program; spans of
  * one thread nest. Each span also becomes the Spark job group, so the
  * [[JobListener]] can attribute jobs to it.
  */
final class Tracer(sc: Option[SparkContext]) {
  var on: Boolean = false
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = 0

  /** Run `body` as operation `opId` (a root span named `name`). */
  def operation[T](opId: Int, name: String)(body: => T): T = {
    op = opId
    try apply(name)(body) finally op = 0
  }

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.foreach(_.setJobGroup(s"span-$id", name))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, name, parent, op, t0, t1)
        stack = stack.tail
        sc.foreach { c =>
          stack.headOption match {
            case Some(p) => c.setJobGroup(s"span-$p", "")
            case None    => c.clearJobGroup()
          }
        }
      }
    }

  /** Write every span as one JSON array. */
  def dump(path: Path, jobs: Map[Int, JobListener.Agg]): Unit = {
    val b = new StringBuilder("[\n")
    spans.sortBy(_.start).zipWithIndex.foreach { case (s, i) =>
      val j = jobs.getOrElse(s.id, JobListener.Agg())
      if (i > 0) b.append(",\n")
      b.append(s"""{"id":${s.id},"name":${Gen.jsonString(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${j.jobs},"task_s":${j.taskNs / 1e9}}""")
    }
    Files.writeString(path, b.append("\n]\n").toString, UTF_8)
  }
}

object Tracer {

  /** Self time of every span: its duration minus the union of its
    * children's intervals (children are clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).filter(x => x._1 < x._2)
      s.id -> (s.dur - unionLength(iv))
    }.toMap
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Collects job, stage and task figures per job group (`span-<id>`). */
final class JobListener extends SparkListener {
  import JobListener.Agg
  private val stageGroup = mutable.Map.empty[Int, Int]
  private val jobGroup = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  // listener events carry wall-clock ms; spans use nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val bySpan: mutable.Map[Int, Agg] = mutable.Map.empty
  val intervals: mutable.Map[Int, mutable.ArrayBuffer[(Long, Long)]] = mutable.Map.empty

  private def groupOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).getOrElse(0)

  private def add(span: Int)(f: Agg => Agg): Unit =
    bySpan(span) = f(bySpan.getOrElse(span, Agg()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time * 1000000L + offsetNs
    e.stageIds.foreach(s => stageGroup(s) = g)
    add(g)(a => a.copy(jobs = a.jobs + 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, 0)
    val t1 = e.time * 1000000L + offsetNs
    intervals.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += ((jobStart.getOrElse(e.jobId, t1), t1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(stageGroup.getOrElse(e.stageInfo.stageId, 0))(a => a.copy(stages = a.stages + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) add(stageGroup.getOrElse(e.stageId, 0)) { a =>
      a.copy(tasks = a.tasks + 1, taskNs = a.taskNs + m.executorRunTime * 1000000L,
        shuffleWrite = a.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = a.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

object JobListener {
  final case class Agg(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskNs: Long = 0,
      shuffleWrite: Long = 0, spill: Long = 0) {
    def +(o: Agg): Agg = Agg(jobs + o.jobs, stages + o.stages, tasks + o.tasks, taskNs + o.taskNs,
      shuffleWrite + o.shuffleWrite, spill + o.spill)
  }
}

/** Delegating source that gives `discover` and `read` their own spans, so
  * the connector layer is timed without editing the program. */
final class TracingSource(inner: AirbyteSource, trace: Tracer) extends AirbyteSource {
  override def spec: JsonNode = inner.spec
  override def check(spark: SparkSession): Boolean = inner.check(spark)
  override def discover(spark: SparkSession): AirbyteCatalog =
    trace("source.discover")(inner.discover(spark))
  override def read(spark: SparkSession, configured: Seq[ConfiguredCatalog.Entry],
      state: StateStore): Map[String, DataFrame] =
    trace("source.read")(inner.read(spark, configured, state))
}
