package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]").appName("perfbench-test")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()
  private val tmp = Files.createTempDirectory(Files.createDirectories(java.nio.file.Paths.get("target")), "spec")

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(tmp)
  }

  private lazy val base = Gen.events(spark, "data/sf0.01")

  private def connectorFiles(seed: Long, dir: String): Map[String, String] = {
    val d = tmp.resolve(dir)
    Gen.writeConnector(d, Gen.flatStream(base, seed, 2), 1000)
    Seq("catalog.jsonl", "full.jsonl").map(f => f -> Files.readString(d.resolve(f))).toMap
  }

  test("generator: same seed gives the same files, another seed different ones") {
    val a = connectorFiles(7, "g1")
    val b = connectorFiles(7, "g2")
    val c = connectorFiles(8, "g3")
    assert(a == b)
    assert(a("full.jsonl") != c("full.jsonl"))
    assert(a("full.jsonl").linesIterator.size == c("full.jsonl").linesIterator.size,
      "sizes do not depend on the seed")
    assert(a("full.jsonl").linesIterator.count(_.startsWith("""{"type":"RECORD"""")) == 2 * base.size)
  }

  test("generator: copies own disjoint id ranges") {
    val s = Gen.flatStream(base, 3, 3)
    assert(s.rows.map(_.getLong(0)).distinct.size == 3 * base.size)
  }

  private def span(id: Int, parent: Int, start: Long, end: Long) = Span(id, s"s$id", parent, 1, start, end)

  test("self time: duration minus the union of the children's intervals") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 2, 15, 20),
      span(5, 1, 90, 120)) // the last child overruns its parent and is clipped
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(4) == 5)
    assert(Tracer.unionLength(Seq((0L, 10L), (5L, 20L), (30L, 31L))) == 21)
    assert(Tracer.unionLength(Nil) == 0)
  }

  test("self time: over a tree of nested, disjoint children the self times sum to the root") {
    val spans = Seq(span(1, 0, 0, 1000), span(2, 1, 100, 400), span(3, 2, 150, 250), span(4, 1, 500, 900))
    assert(Tracer.selfTimes(spans).values.sum == 1000)
  }

  /** A flat sync through the real program, after `plant` edits the
    * connector's output; returns the check's mismatches. */
  private def flatSync(dir: String)(plant: Path => Unit): Seq[String] = {
    val conn = tmp.resolve(dir)
    val s = Gen.flatStream(base.take(100), 11, 3)
    Gen.writeConnector(conn, s, 100)
    plant(conn.resolve("full.jsonl"))
    val runner = new SyncRunner(spark, new Tracer(None), conn, tmp.resolve(dir + "-work"), Map(s.name -> s.cursor))
    val expected = Map(s.name -> SyncRunner.singerExpected(spark, s, Gen.eventsSchema))
    SyncRunner.mismatches(runner.run(tmp.resolve(dir + "-state.json")), expected)
  }

  private def edit(f: Path)(g: Seq[String] => Seq[String]): Unit =
    Files.write(f, g(Files.readAllLines(f).asScala.toSeq).asJava)

  test("check: an untouched sync passes") {
    assert(flatSync("ok")(_ => ()) == Nil)
  }

  test("check: one dropped record fails the sync") {
    val errs = flatSync("drop")(f => edit(f) { ls =>
      val i = ls.indexWhere(_.startsWith("""{"type":"RECORD""""))
      ls.patch(i, Nil, 1)
    })
    assert(errs.exists(_.contains("299 records")), errs)
    assert(errs.exists(_.contains("content digest")), errs)
  }

  test("check: a wrong bookmark fails the sync") {
    val errs = flatSync("bookmark")(f => edit(f) { ls =>
      val i = ls.lastIndexWhere(_.startsWith("""{"type":"STATE""""))
      ls.updated(i, Gen.stateMessage("events", "event_id", 17))
    })
    assert(errs == Seq("events: bookmark 17, expected 299"), errs)
  }
}
