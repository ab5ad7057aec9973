package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.SparkSession

/** Property test for [[Stats.distanceCovariance]] against a plain-Scala
  * BigInt replay of the n⁴-scaled double-centering and the ordered
  * two-stage dCor⁴ floor — random short series with ties, constants
  * (V² = 0 branch), and dependent shapes (y = x² hits dCov > 0 where
  * Pearson is ~0).
  */
object DcovProps extends Properties("DistanceCovariance") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val genSeries: Gen[List[(Long, Long)]] = for {
    n <- Gen.chooseNum(1, 12)
    mode <- Gen.oneOf(0, 1, 2)
    xs <- Gen.listOfN(n, Gen.chooseNum(-20L, 20L))
    ys <- Gen.listOfN(n, Gen.chooseNum(-20L, 20L))
  } yield mode match {
    case 0 => xs.zip(ys)                      // independent-ish
    case 1 => xs.map(x => (x, x * x))         // nonlinear dependence
    case 2 => xs.map(x => (x, 7L))            // constant y (V2y = 0)
  }

  private def naive(rows: List[(Long, Long)]): Long = {
    val n = rows.size
    val a = Array.tabulate(n, n)((i, j) => BigInt((rows(i)._1 - rows(j)._1).abs))
    val b = Array.tabulate(n, n)((i, j) => BigInt((rows(i)._2 - rows(j)._2).abs))
    def terms(m: Array[Array[BigInt]]): Array[Array[BigInt]] = {
      val rs = m.map(_.sum)
      val g = rs.sum
      Array.tabulate(n, n)((i, j) =>
        BigInt(n) * n * m(i)(j) - BigInt(n) * rs(i) - BigInt(n) * rs(j) + g)
    }
    val ta = terms(a); val tb = terms(b)
    var vxy = BigInt(0); var vx = BigInt(0); var vy = BigInt(0)
    for (i <- 0 until n; j <- 0 until n) {
      vxy += ta(i)(j) * tb(i)(j); vx += ta(i)(j) * ta(i)(j)
      vy += tb(i)(j) * tb(i)(j)
    }
    if (vx == 0 || vy == 0 || vxy <= 0) 0L
    else {
      val q1 = BigInt(1000) * vxy / vx.max(vy)
      (q1 * vxy / vx.min(vy)).toLong
    }
  }

  property("distanceCovariance equals the BigInt double-centering replay") =
    Prop.forAll(genSeries) { rows =>
      import spark.implicits._
      rows.isEmpty || {
        val df = rows.zipWithIndex
          .map { case ((x, y), i) => ("k", i.toLong, x, y) }
          .toDF("k", "i", "x", "y")
        val out = Stats.distanceCovariance(df, Seq("k"), "i", "x", "y")
          .collect()
        out.length == 1 && {
          val r = out.head
          r.getAs[Long]("n") == rows.size.toLong &&
            r.getAs[Long]("dcor4_x1000") == naive(rows)
        }
      }
    }
}
