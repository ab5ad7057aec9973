package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession

/** Property test for [[Stats.krippendorffAlpha]] against a plain-Scala
  * BigInt replay of the coincidence-matrix formula with the SAME
  * 420 div (m−1) unit weights and the same single floored division —
  * random rating tables with variable ratings per unit (including
  * single-rating units, which must DROP) and degenerate all-one-category
  * keys (which must emit 1000).
  */
object KrippendorffProps extends Properties("KrippendorffAlpha") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  // (unit, category) ratings; units 0..n-1, categories from a small set
  private val genRatings: Gen[List[(Long, String)]] = for {
    nUnits <- Gen.chooseNum(1, 8)
    nCats <- Gen.chooseNum(1, 3)
    nRatings <- Gen.chooseNum(1, 24)
    rs <- Gen.listOfN(nRatings, for {
      u <- Gen.chooseNum(0, nUnits - 1)
      c <- Gen.chooseNum(0, nCats - 1)
    } yield (u.toLong, s"c$c"))
  } yield rs

  private def naive(rs: List[(Long, String)]): Option[(Long, Long, Long)] = {
    // returns (n_units, n_ratings, alpha_pm) or None when no unit pairs
    val byUnit = rs.groupBy(_._1).filter(_._2.size >= 2)
    if (byUnit.isEmpty) return None
    // cap check mirrors the operator's m_u <= 8 envelope
    if (byUnit.values.exists(_.size > 8)) return None
    val n = BigInt(byUnit.values.map(_.size).sum)
    val doS = byUnit.values.map { ratings =>
      val m = BigInt(ratings.size)
      ratings.groupBy(_._2).values.map { g =>
        val o = BigInt(g.size)
        o * (m - o) * (BigInt(420) / (m - 1))
      }.sum
    }.sum
    val ncs = byUnit.values.flatten.groupBy(_._2).values.map(g => BigInt(g.size))
    val de = n * n - ncs.map(c => c * c).sum
    val alpha =
      if (de == 0) BigInt(1000)
      else BigInt(1000) - (BigInt(1000) * (n - 1) * doS) / (BigInt(420) * de)
    Some((byUnit.size.toLong, n.toLong, alpha.toLong))
  }

  property("krippendorffAlpha equals the BigInt coincidence replay") =
    Prop.forAll(genRatings) { rs =>
      import spark.implicits._
      naive(rs) match {
        case None => Prop.passed
        case Some((wantUnits, wantN, wantAlpha)) =>
          val df = rs.map { case (u, c) => ("k", u, c) }.toDF("k", "unit", "cat")
          val out = Stats.krippendorffAlpha(df, Seq("k"), "unit", "cat")
            .collect()
          Prop.propBoolean(out.length == 1 && {
            val r = out.head
            r.getAs[Long]("n_units") == wantUnits &&
              r.getAs[Long]("n_ratings") == wantN &&
              r.getAs[Long]("alpha_pm") == wantAlpha
          })
      }
    }
}
