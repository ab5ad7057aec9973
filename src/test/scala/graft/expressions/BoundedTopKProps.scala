package graft.expressions

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.expressions.{functions => gfn}

/** Adversarial property tests for [[BoundedTopKAgg]] (r16 verdict #8 —
  * fuzz the top operator families against hostile shapes): the bounded
  * heap must equal the plain-Scala sort-take reference under EVERY
  * partitioning of the input — heavy score ties (small value domain),
  * NaN and -0.0/+0.0 score pairs, k larger than the group, null scores
  * and null ids (dropped), single-row and empty groups, and random
  * repartition counts including partitions that receive no rows. The
  * ordering contract under test is the exact one the scaladoc states:
  * (score asc|desc, id asc), NaN greatest via java.lang.Double.compare,
  * -0.0 normalized to +0.0 on ingest.
  */
object BoundedTopKProps extends Properties("BoundedTopK") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val genScore: Gen[Option[Double]] = Gen.frequency(
    6 -> Gen.chooseNum(-3, 3).map(v => Some(v.toDouble)),
    1 -> Gen.const(Some(Double.NaN)),
    1 -> Gen.const(Some(-0.0)),
    1 -> Gen.const(Some(0.0)),
    1 -> Gen.const(None))

  private val genRows: Gen[Seq[(String, Option[Double], Option[Long])]] = for {
    n <- Gen.chooseNum(0, 30)
    rows <- Gen.listOfN(n, for {
      g <- Gen.oneOf("a", "b", "c")
      s <- genScore
      id <- Gen.frequency(9 -> Gen.chooseNum(-5L, 20L).map(Some(_)),
        1 -> Gen.const(None))
    } yield (g, s, id))
  } yield rows

  private def reference(
      rows: Seq[(String, Option[Double], Option[Long])],
      k: Int, asc: Boolean): Map[String, Seq[(Double, Long)]] = {
    def lt(a: (Double, Long), b: (Double, Long)): Boolean = {
      val c = java.lang.Double.compare(a._1, b._1)
      val cs = if (asc) c else -c
      if (cs != 0) cs < 0 else a._2 < b._2
    }
    rows.collect { case (g, Some(s), Some(id)) => (g, (s + 0.0, id)) }
      .groupBy(_._1)
      .map { case (g, rs) => g -> rs.map(_._2).sortWith(lt).take(k) }
  }

  property("equals sort-take under every partitioning, asc and desc") =
    Prop.forAll(genRows, Gen.chooseNum(1, 7), Gen.oneOf(true, false),
      Gen.chooseNum(1, 5)) { (rows, k, asc, parts) =>
      // shrink-safe: the shrinker ignores Gen bounds (k=0/parts=0 would
      // trip the operator's own require instead of the real witness)
      Prop.propBoolean(k >= 1 && parts >= 1) ==> {
      import spark.implicits._
      val df = rows.toDF("g", "s", "id").repartition(parts)
      val got = df.groupBy(col("g"))
        .agg(gfn.bounded_top_k(col("s"), col("id"), k, asc).as("tk"))
        .select(col("g"), col("tk"))
        .collect()
        .map { r =>
          r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(e => (e.getDouble(0), e.getLong(1)))
        }.toMap
      val want = reference(rows, k, asc)
      // groups whose every row dropped (null score/id) still emit an
      // empty array from the aggregate — align the maps on shared keys
      val gotNonEmpty = got.filter(_._2.nonEmpty)
      // rank order is part of the contract: compare element-by-element
      // with exact bit equality except the NaN sentinel (NaN != NaN
      // under ==, so a plain map compare would always fail on it)
      def eq(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Boolean =
        a.size == b.size && a.zip(b).forall { case ((s1, i1), (s2, i2)) =>
          i1 == i2 && (s1 == s2 || (s1.isNaN && s2.isNaN)) &&
            // -0.0 must have been normalized away
            java.lang.Double.doubleToRawLongBits(s1) !=
              java.lang.Double.doubleToRawLongBits(-0.0)
        }
      gotNonEmpty.keySet == want.keySet &&
        want.keys.forall(g => eq(gotNonEmpty(g), want(g)))
      }
    }
}
