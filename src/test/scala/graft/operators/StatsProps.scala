package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession

/** Property tests for the paired nonparametric tests against
  * independent plain-Scala references: [[Stats.wilcoxonSignedRank]]'s
  * doubled ranks must satisfy the w⁺·2 + w⁻·2 = n(n+1) identity AND
  * match a sequential doubled-midrank fold on arbitrary paired data
  * (ties, zero diffs, multiple keys); [[Stats.signTest]] must match
  * direct sign counting.
  */
object StatsProps extends Properties("Stats") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  // Keyed pairs with deliberately tiny value range so |d| ties and
  // zero differences are common.
  private val genPairs: Gen[Seq[(String, Long, Long)]] = for {
    n <- Gen.chooseNum(1, 40)
    groups <- Gen.chooseNum(1, 3)
    xs <- Gen.listOfN(n, Gen.chooseNum(0L, 6L))
    ys <- Gen.listOfN(n, Gen.chooseNum(0L, 6L))
  } yield xs.zip(ys).zipWithIndex.map { case ((x, y), i) =>
    (s"g${i % groups}", x, y)
  }

  /** Sequential reference: (n_nonzero, w_plus_x2, w_minus_x2) with
    * doubled average ranks rendered as min+max 1-based rank of each
    * |d| tie run — the exact semantics the operator documents.
    */
  private def wilcoxonRef(pairs: Seq[(Long, Long)]): (Long, Long, Long) = {
    val ds = pairs.map { case (x, y) => x - y }.filter(_ != 0L)
    val sorted = ds.sortBy(math.abs)
    val ranked = sorted.zipWithIndex.map { case (d, i) => (math.abs(d), d, i + 1L) }
    val rankX2 = ranked.groupBy(_._1).map { case (ad, run) =>
      ad -> (run.map(_._3).min + run.map(_._3).max)
    }
    val wp = ranked.collect { case (ad, d, _) if d > 0 => rankX2(ad) }.sum
    val wm = ranked.collect { case (ad, d, _) if d < 0 => rankX2(ad) }.sum
    (sorted.size.toLong, wp, wm)
  }

  property("wilcoxonSignedRank matches the sequential doubled-rank fold" +
    " and the n(n+1) identity") =
    Prop.forAll(genPairs) { rows =>
      import spark.implicits._
      val df = rows.toDF("k", "x", "y")
      val out = Stats.wilcoxonSignedRank(df, Seq("k"), "x", "y")
        .collect().map(r => r.getAs[String]("k") ->
          ((r.getAs[Long]("n_pairs"), r.getAs[Long]("w_plus_x2"),
            r.getAs[Long]("w_minus_x2")))).toMap
      rows.groupBy(_._1).forall { case (k, g) =>
        val ref = wilcoxonRef(g.map(t => (t._2, t._3)))
        val got = out.getOrElse(k, (0L, 0L, 0L))
        // all-zero-diff keys drop entirely — the reference n is 0 there
        val identity = got._2 + got._3 == got._1 * (got._1 + 1)
        (if (ref._1 == 0L) !out.contains(k) else got == ref) && identity
      }
    }

  property("signTest matches direct sign counting") =
    Prop.forAll(genPairs) { rows =>
      import spark.implicits._
      val df = rows.toDF("k", "x", "y")
      val out = Stats.signTest(df, Seq("k"), "x", "y")
        .collect().map(r => r.getAs[String]("k") ->
          ((r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
            r.getAs[Long]("n_zero"), r.getAs[Long]("sign_stat"),
            r.getAs[Long]("b_stat")))).toMap
      rows.groupBy(_._1).forall { case (k, g) =>
        val pos = g.count(t => t._2 > t._3).toLong
        val neg = g.count(t => t._2 < t._3).toLong
        val zero = g.count(t => t._2 == t._3).toLong
        out(k) == ((pos, neg, zero, pos - neg, math.min(pos, neg)))
      }
    }
}
