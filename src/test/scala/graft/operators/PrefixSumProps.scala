package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Randomized fuzz for [[PrefixSum.runningTotalsGrouped]] against the
  * `partitionBy(g).orderBy(k)` window form (r16 verdict #8) — the
  * fixed-shape GroupedPrefixSumSpec proves the named adversarial cases
  * (skew, NaN, nulls, degenerate splits); this suite walks the random
  * neighborhood around them: arbitrary group mixes INCLUDING null group
  * keys, negative values, random bucket counts (1-64, crossing the
  * data size in both directions), single-row groups, and random input
  * partitioning. Order keys are unique per group by construction (the
  * operator's documented tie contract).
  */
object PrefixSumProps extends Properties("PrefixSum") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  // (group | null, unique-per-group order key, value)
  private val genRows: Gen[Seq[(Option[String], Long, Long)]] = for {
    n <- Gen.chooseNum(1, 40)
    rows <- Gen.listOfN(n, for {
      g <- Gen.frequency(3 -> Gen.oneOf("a", "b", "c").map(Option(_)),
        1 -> Gen.const(None: Option[String]))
      k <- Gen.chooseNum(-30L, 30L)
      v <- Gen.chooseNum(-50L, 50L)
    } yield (g, k, v))
  } yield rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (g, k)

  property("grouped running totals equal the window form") =
    Prop.forAll(genRows, Gen.oneOf(1, 2, 3, 8, 64), Gen.chooseNum(1, 5)) {
      (rows, nRanges, parts) =>
        Prop.propBoolean(rows.nonEmpty && nRanges >= 1 && parts >= 1) ==> {
          import spark.implicits._
          val df = rows.toDF("g", "k", "x").repartition(parts)
          val w = Window.partitionBy(col("g")).orderBy(col("k"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val want = df.select(col("g"), col("k"), sum(col("x")).over(w).as("c"))
            .collect()
            .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
            .toSet
          val got = PrefixSum
            .runningTotalsGrouped(df, Seq("g"), "k", Seq("x"), nRanges)
            .select(col("g"), col("k"), col("cum_x"))
            .collect()
            .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
            .toSet
          got == want
        }
    }
}
