package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The session policy [[Sessions]] owns, read off the shared test session
  * (built through it with 4 cores), and the guard that keeps the factory
  * the only place a session is built.
  */
class SessionsSpec extends SparkSpec {

  test("factory session: local[cores], shuffle partitions = cores, UTC, no UI") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("parquet INT64 TIMESTAMP(NANOS) columns read as longs, by session policy") {
    assert(spark.sparkContext.getConf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("AQE is on, by Spark's default") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("no Scala source under src/main or src/test builds a session but the factory") {
    val needle = "SparkSession" + ".builder"
    def scalaFiles(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val builders = (scalaFiles("src/main") ++ scalaFiles("src/test"))
      .filter(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8).contains(needle))
      .map(_.toString)
    assert(builders == Seq("src/main/scala/graft/Sessions.scala"))
  }
}
