package graft.expressions

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Adversarial partitioning fuzz for the sketch family (r16 verdict #8):
  * the distributed-correctness property a fixed-dataset spec can't
  * exhaust is that partial/merge topology NEVER shows through —
  * whatever random data lands in whatever random partitioning,
  *  - the KMV sketch equals the brute-force k smallest distinct hashes
  *    (a pure set property, bit-exact, any split);
  *  - HeavyHitters with capacity ≥ distinct-count is EXACT counts
  *    (the unsaturated contract the matview/stream fixtures lean on);
  *  - the quantile sketch's self-tracked interval certificate
  *    t ∈ [count(< est) − bound, count(≤ est) + bound] holds (bit
  *    identity across splits is NOT claimed — merge order is real —
  *    the certificate is what the operator promises instead).
  * Shapes: duplicate-heavy domains, single-row and empty inputs,
  * negative values, 1-5 partitions incl. empty ones.
  */
object SketchPartitionProps extends Properties("SketchPartition") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  property("KMV equals brute-force k smallest distinct under any split") =
    Prop.forAll(
      Gen.chooseNum(1, 40).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-50L, 50L))),
      Gen.chooseNum(2, 12), Gen.chooseNum(1, 5)) { (hashes, k, parts) =>
      // shrink-safe: ScalaCheck's shrinker ignores Gen bounds, so a
      // failing case would re-evaluate at k=1/parts=0 and mask the real
      // counterexample behind the operators' own require()s
      Prop.propBoolean(hashes.nonEmpty && k >= 2 && parts >= 1) ==> {
        import spark.implicits._
        val got = hashes.toDF("h").repartition(parts)
          .agg(KmvSketchAgg.kmv_sketch(col("h"), k).as("mh"))
          .collect().head.getSeq[Long](0).toSeq
        got == hashes.distinct.sorted.take(k)
      }
    }

  property("HeavyHitters is exact counts while unsaturated, any split") =
    Prop.forAll(
      Gen.chooseNum(1, 25).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(1, 4).flatMap(m =>
          Gen.listOfN(m, Gen.oneOf("x", "y", "z", "w", "v"))))),
      Gen.chooseNum(1, 6), Gen.chooseNum(1, 5)) { (docs, k, parts) =>
      Prop.propBoolean(docs.nonEmpty && k >= 1 && parts >= 1) ==> {
      import spark.implicits._
      val got = docs.toDF("tokens").repartition(parts)
        .agg(HeavyHittersAgg.heavy_hitters(col("tokens"), k, capacity = 64).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.token"), col("h.cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val counts = docs.flatten.groupBy(identity).map { case (t, ts) =>
        (t, ts.size.toLong)
      }.toSeq
      val want = counts.sortBy { case (t, c) => (-c, t) }.take(k).toSet
      got == want
      }
    }

  property("quantile sketch interval certificate holds under any split") =
    Prop.forAll(
      Gen.chooseNum(1, 60).flatMap(n =>
        Gen.listOfN(n, Gen.frequency(
          3 -> Gen.chooseNum(-20L, 20L),
          1 -> Gen.const(7L)))), // duplicate-heavy spike
      Gen.chooseNum(1, 5)) { (values, parts) =>
      Prop.propBoolean(values.nonEmpty && parts >= 1) ==> {
      import spark.implicits._
      val row = values.toDF("v").repartition(parts)
        .agg(QuantileSketchAgg.quantile_sketch(col("v"), 8, Seq(25, 50, 75)).as("q"))
        .collect().head.getStruct(0)
      val n = row.getLong(row.fieldIndex("n"))
      val bound = row.getLong(row.fieldIndex("bound"))
      val targets = row.getSeq[Long](row.fieldIndex("targets"))
      val ests = row.getSeq[Long](row.fieldIndex("ests"))
      n == values.size.toLong && targets.zip(ests).forall { case (t, est) =>
        val lo = values.count(_ < est).toLong - bound
        val hi = values.count(_ <= est).toLong + bound
        t >= lo && t <= hi
      }
      }
    }
}
