package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark main. Runs one workload on `local[4]` with a single closed-loop
  * client (each operation starts when the previous one has ended) and
  * prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1`. Earlier lines carry
  * the full per-layer detail. Usage:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, data: Path)

  /** A metric as printed: value and unit. */
  final case class M(value: Double, unit: String)

  /** The outcome of one workload run. */
  final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
      endToEnd: Map[String, M], perLayer: Map[String, M], detail: Map[String, Any])

  val workloads: Map[String, Args => Workload] = Map(
    "sync_flat_singer" -> (a => new FlatSinger(a)),
    "query_inventory" -> (a => new QueryInventory(a)))

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("data")).toAbsolutePath)
    val make = workloads.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))
    deleteTree(a.work)
    Files.createDirectories(a.work)
    val o = make(a).run()
    println(jsonValue(Map("detail" -> o.detail, "errors" -> o.errors.take(20))))
    val metrics = if (a.trace) o.perLayer else o.endToEnd
    println(jsonValue(Map("correct" -> (o.failed == 0 && o.errors.isEmpty), "attempted" -> o.attempted,
      "failed" -> o.failed, "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) })))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median, the highest percentile with at least ten samples beyond it
    * (none below 11 samples, so the maximum is reported) and n. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val s = xs.sorted
    val n = s.size
    val tail = if (n >= 11) {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      Map(s"p$p" -> s(math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1)))
    } else Map("max" -> s.lastOption.getOrElse(Double.NaN))
    Map("median" -> median(s), "n" -> n) ++ tail
  }

  def secs(ns: Long): Double = ns / 1e9

  def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => Gen.jsonString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => jsonValue(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => s"${Gen.jsonString(k.toString)}:${jsonValue(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case x => Gen.jsonString(x.toString)
  }
}

/** JVM-wide counters read around the measured window. */
final class JvmWindow {
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  pools.foreach(_.resetPeakUsage())
  private val gc0 = gcMs
  def gcSeconds: Double = (gcMs - gc0) / 1e3
  def heapPeakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

