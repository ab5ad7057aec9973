package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, reused session).
  * Cores are pinned at 4, not read from `SPARK_GRAFT_CPUS`, so test plan
  * shapes do not depend on the machine's core count.
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.create(n = 4, logLevel = "ERROR")
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = "/root/testdata/sf0.001"
}
