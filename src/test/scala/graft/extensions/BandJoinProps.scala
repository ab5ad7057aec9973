package graft.extensions

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Property: on arbitrary int data (negatives, duplicates, clustered and
  * spread values) and arbitrary widths, the band-join rewrite returns the
  * EXACT multiset the quadratic plan returns — including each duplicate
  * pair exactly once per source multiplicity.
  */
object BandJoinProps extends Properties("BandJoinRewrite") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val genSide: Gen[Seq[Int]] = for {
    n <- Gen.chooseNum(1, 12)
    vs <- Gen.listOfN(n, Gen.chooseNum(-20, 20))
  } yield vs

  property("rewrite equals the exact quadratic multiset") =
    Prop.forAll(genSide, genSide, Gen.chooseNum(0, 6)) { (xs, ys, w) =>
      import spark.implicits._
      val a = xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id_a", "x")
      val b = ys.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id_b", "y")
      def q() = a.crossJoin(b).filter(abs(col("x") - col("y")) <= w)
        .select("id_a", "id_b")
      // the rule rides on the shared test session only for this check
      val prev = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = prev :+ RewriteBandJoin
      try {
        spark.conf.set("spark.graft.band.rewrite.enabled", "true")
        val got = q().collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSeq.sorted
        spark.conf.set("spark.graft.band.rewrite.enabled", "false")
        val exact = q().collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSeq.sorted
        got == exact
      } finally {
        spark.experimental.extraOptimizations = prev
        spark.conf.unset("spark.graft.band.rewrite.enabled")
      }
    }
}
