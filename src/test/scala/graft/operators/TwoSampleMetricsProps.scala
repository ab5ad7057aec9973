package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.SparkSession

/** Property tests for the two-sample metric family added in round 16,
  * against independent plain-Scala brute-force references:
  * wasserstein1 vs the replicate-and-sort quantile-coupling formula
  * (each a copied n_b times, each b copied n_a times, mean |gap| of
  * the aligned order statistics — a DIFFERENT exact formula than the
  * CDF-L1 spine the operator uses), energyDistance vs O(n²) nested
  * pair loops in BigInt, and Survival.logRank vs a sequential
  * life-table walk accumulating the same floored hypergeometric
  * terms. Arbitrary duplicates, one-sided samples, tie runs.
  */
object TwoSampleMetricsProps extends Properties("TwoSampleMetrics") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val genAB: Gen[Seq[(Boolean, Long)]] = for {
    n <- Gen.chooseNum(2, 24)
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf(true, false), Gen.chooseNum(-9L, 9L)))
  } yield rows

  property("wasserstein1 equals the replicate-and-sort quantile coupling") =
    Prop.forAll(genAB) { rows =>
      import spark.implicits._
      val as = rows.filter(_._1).map(_._2)
      val bs = rows.filterNot(_._1).map(_._2)
      (as.nonEmpty && bs.nonEmpty) ==> {
        val df = rows.map { case (a, v) => ("k", a, v) }.toDF("k", "in_a", "v")
        val r = Stats.wasserstein1(df, Seq("k"), "in_a", "v").collect().head
        // W1 = mean |gap| of aligned order statistics after replicating
        // each sample to the common size n_a*n_b
        val ra = as.flatMap(a => Seq.fill(bs.size)(a)).sorted
        val rb = bs.flatMap(b => Seq.fill(as.size)(b)).sorted
        val num = ra.zip(rb).map { case (x, y) => math.abs(x - y) }.sum
        val want = 1000L * num / (as.size.toLong * bs.size)
        (r.getAs[Long]("n_a") == as.size.toLong) &&
          (r.getAs[Long]("n_b") == bs.size.toLong) &&
          (r.getAs[Long]("w1_x1000") == want)
      }
    }

  property("energyDistance components equal the nested-pair sums") =
    Prop.forAll(genAB) { rows =>
      import spark.implicits._
      val as = rows.filter(_._1).map(_._2)
      val bs = rows.filterNot(_._1).map(_._2)
      (as.nonEmpty && bs.nonEmpty) ==> {
        val df = rows.map { case (a, v) => ("k", a, v) }.toDF("k", "in_a", "v")
        val r = Stats.energyDistance(df, Seq("k"), "in_a", "v").collect().head
        val na = BigInt(as.size); val nb = BigInt(bs.size)
        val sab = BigInt((for (a <- as; b <- bs) yield math.abs(a - b)).sum)
        def within(xs: Seq[Long]): BigInt = BigInt((for {
          i <- xs.indices; j <- (i + 1) until xs.size
        } yield math.abs(xs(i) - xs(j))).sum)
        val saa = within(as); val sbb = within(bs)
        val eab = (BigInt(2000) * sab / (na * nb)).toLong
        val eaa = (BigInt(2000) * saa / (na * na)).toLong
        val ebb = (BigInt(2000) * sbb / (nb * nb)).toLong
        val d2num = BigInt(2000) * (sab * na * nb - saa * nb * nb - sbb * na * na)
        // toward-zero truncation, matching Spark's div on a possibly
        // negative numerator
        val d2den = na * na * nb * nb
        val d2 = (d2num / d2den).toLong
        (r.getAs[Long]("eab_pm") == eab) && (r.getAs[Long]("eaa_pm") == eaa) &&
          (r.getAs[Long]("ebb_pm") == ebb) && (r.getAs[Long]("d2_x1000") == d2)
      }
    }

  property("andersonDarling equals the sequential spine walk") =
    Prop.forAll(genAB) { rows =>
      import spark.implicits._
      val as = rows.filter(_._1).map(_._2)
      val bs = rows.filterNot(_._1).map(_._2)
      (as.nonEmpty && bs.nonEmpty) ==> {
        val df = rows.map { case (a, v) => ("k", a, v) }.toDF("k", "in_a", "v")
        val r = Stats.andersonDarling(df, Seq("k"), "in_a", "v").collect().head
        val n1 = BigInt(as.size); val n2 = BigInt(bs.size); val nn = n1 + n2
        val all = rows.map(_._2)
        // sequential walk over the distinct-value spine, per-term ×1000
        // floors, final floor by n1*n2 — plain-Scala BigInt
        var cumA = BigInt(0); var cumAll = BigInt(0); var s = BigInt(0)
        all.distinct.sorted.foreach { v =>
          val la = BigInt(as.count(_ == v)); val l = BigInt(all.count(_ == v))
          cumA += la; cumAll += l
          if (cumAll < nn) {
            val delta = nn * cumA - n1 * cumAll
            s += l * delta * delta * 1000 / (cumAll * (nn - cumAll))
          }
        }
        val want = (s / (n1 * n2)).toLong
        (r.getAs[Long]("n1") == as.size.toLong) &&
          (r.getAs[Long]("n2") == bs.size.toLong) &&
          (r.getAs[Long]("a2_x1000") == want)
      }
    }

  property("kuiper equals the sequential D+/D- spine walk") =
    Prop.forAll(genAB) { rows =>
      import spark.implicits._
      val as = rows.filter(_._1).map(_._2)
      val bs = rows.filterNot(_._1).map(_._2)
      (as.nonEmpty && bs.nonEmpty) ==> {
        val df = rows.map { case (a, v) => ("k", a, v) }.toDF("k", "in_a", "v")
        val r = Stats.kuiper(df, Seq("k"), "in_a", "v").collect().head
        val n1 = BigInt(as.size); val n2 = BigInt(bs.size)
        var cumA = BigInt(0); var cumB = BigInt(0)
        var dp = BigInt(0); var dm = BigInt(0)
        rows.map(_._2).distinct.sorted.foreach { v =>
          cumA += as.count(_ == v); cumB += bs.count(_ == v)
          val d = cumA * n2 - cumB * n1
          if (d > dp) dp = d
          if (-d > dm) dm = -d
        }
        val want = (BigInt(1000) * (dp + dm) / (n1 * n2)).toLong
        (r.getAs[Long]("dplus_num") == dp.toLong) &&
          (r.getAs[Long]("dminus_num") == dm.toLong) &&
          (r.getAs[Long]("v_pm") == want)
      }
    }

  property("lepage equals the positional brute force") =
    Prop.forAll(genAB) { rows =>
      import spark.implicits._
      val as = rows.filter(_._1).map(_._2)
      val bs = rows.filterNot(_._1).map(_._2)
      (as.nonEmpty && bs.nonEmpty) ==> {
        val df = rows.map { case (a, v) => ("k", a, v) }.toDF("k", "in_a", "v")
        val r = Stats.lepage(df, Seq("k"), "in_a", "v").collect().head
        val n1 = BigInt(as.size); val n2 = BigInt(bs.size); val nn = n1 + n2
        val all = rows.map(_._2)
        // W leg: doubled midranks per observation
        def r2(v: Long): BigInt =
          BigInt(2 * all.count(_ < v) + all.count(_ == v) + 1)
        val w2 = as.map(r2).sum
        val eW2 = n1 * (nn + 1)
        val ties = all.distinct.map { v =>
          val m = BigInt(all.count(_ == v)); m * m * m - m
        }.sum
        val vw2 = n1 * n2 * ((nn + 1) * nn * (nn - 1) - ties) /
          (3 * nn * (nn - 1))
        val z2w = if (vw2 > 0) (w2 - eW2) * (w2 - eW2) * 1000000 / vw2
          else BigInt(0)
        // AB leg: per tie run, doubled scores 2*min(i, N+1-i) summed by
        // position, per-run ×1000 floors for statistic and score square
        val runs = all.distinct.sorted.map { v =>
          val m = all.count(_ == v)
          val lo = all.count(_ < v) + 1; val hi = lo + m - 1
          val s2run = (lo to hi)
            .map(i => BigInt(2) * (BigInt(i) min (nn + 1 - i))).sum
          (BigInt(as.count(_ == v)), BigInt(m), s2run)
        }
        val ab2 = runs.map { case (a, m, s2) => 1000 * s2 * a / m }.sum
        val t2 = runs.map { case (_, m, s2) => 1000 * s2 * s2 / m }.sum
        val s2tot = runs.map(_._3).sum
        val eAb2 =
          if (nn % 2 == 0) 1000 * n1 * (nn + 2) / 2
          else 1000 * n1 * (nn + 1) * (nn + 1) / (2 * nn)
        val q2 = (nn * t2 - 1000 * s2tot * s2tot) / 1000
        val vab2 = n1 * n2 * q2 / (nn * nn * (nn - 1))
        val z2ab = if (vab2 > 0) (ab2 - eAb2) * (ab2 - eAb2) / vab2
          else BigInt(0)
        (r.getAs[Long]("w2") == w2.toLong) &&
          (r.getAs[Long]("e_w2") == eW2.toLong) &&
          (r.getAs[Long]("ab2_x1000") == ab2.toLong) &&
          (r.getAs[Long]("e_ab2_x1000") == eAb2.toLong) &&
          (r.getAs[Long]("z2w_x1e6") == z2w.toLong) &&
          (r.getAs[Long]("z2ab_x1e6") == z2ab.toLong) &&
          (r.getAs[Long]("lepage_x1e6") == (z2w + z2ab).toLong)
      }
    }

  private val genSurv: Gen[Seq[(Long, Boolean, Boolean)]] = for {
    n <- Gen.chooseNum(2, 30)
    rows <- Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(1L, 8L), Gen.oneOf(true, false), Gen.oneOf(true, false)))
  } yield rows.map { case (t, o, g) => (t, o, g) }

  property("greenwood equals the sequential floored-increment walk") =
    Prop.forAll(genSurv) { rows =>
      import spark.implicits._
      val df = rows.map { case (t, o, _) => (t, o) }.toDF("t", "obs")
      val got = Survival.greenwood(df, "t", "obs").collect()
        .map(r => (r.getAs[Long]("t"), r.getAs[Long]("n_risk"),
          r.getAs[Long]("d"), r.getAs[Long]("gw_x1e9")))
        .sortBy(_._1)
      val times = rows.map(_._1).distinct.sorted
      var cum = 0L
      val want = times.map { t =>
        val d = rows.count { case (ti, o, _) => ti == t && o }.toLong
        val n = rows.count { case (ti, _, _) => ti >= t }.toLong
        if (n - d > 0) cum += 1000000000L * d / (n * (n - d))
        (t, n, d, cum)
      }
      got.toSeq == want
    }

  property("rmst equals the sequential floored-KM area walk") =
    Prop.forAll(genSurv, Gen.chooseNum(1L, 12L)) { (rows, horizon) =>
      import spark.implicits._
      val df = rows.map { case (t, o, _) => (t, o) }.toDF("t", "obs")
      val got = Survival.rmst(df, "t", "obs", horizon).collect()
        .map(r => (r.getAs[Long]("t"), r.getAs[Long]("s_micro"),
          r.getAs[Long]("area_micro"), r.getAs[Long]("rmst_micro")))
        .sortBy(_._1)
      // plain sequential reference: life table, then the integer fold
      val times = rows.map(_._1).distinct.sorted
      var s = 1000000L; var area = 0L; var pt = 0L
      val want = times.map { t =>
        val d = rows.count { case (ti, o, _) => ti == t && o }.toLong
        val n = rows.count { case (ti, _, _) => ti >= t }.toLong
        area += s * (math.min(t, horizon) - math.min(pt, horizon))
        s = s * (n - d) / n
        pt = t
        (t, s, area, area + s * (horizon - math.min(t, horizon)))
      }
      got.toSeq == want
    }

  property("logRank equals the sequential life-table walk") =
    Prop.forAll(genSurv) { rows =>
      import spark.implicits._
      val df = rows.toDF("t", "obs", "in_a")
      val r = Survival.logRank(df, "t", "obs", "in_a").collect().head
      val times = rows.map(_._1).distinct.sorted
      var oA = 0L; var oB = 0L; var ePm = 0L; var vPpm = BigInt(0)
      times.foreach { t =>
        val nA = rows.count { case (ti, _, g) => g && ti >= t }.toLong
        val nB = rows.count { case (ti, _, g) => !g && ti >= t }.toLong
        val dA = rows.count { case (ti, o, g) => g && o && ti == t }.toLong
        val dB = rows.count { case (ti, o, g) => !g && o && ti == t }.toLong
        val n = nA + nB; val d = dA + dB
        if (d > 0) {
          oA += dA; oB += dB
          ePm += 1000L * d * nA / n
          if (n > 1)
            vPpm += BigInt(1000000L) * d * nA * (n - nA) * (n - d) /
              (BigInt(n) * n * (n - 1))
        }
      }
      val chi =
        if (vPpm > 0)
          (BigInt(1000) * (1000 * oA - ePm) * (1000 * oA - ePm) / vPpm).toLong
        else 0L
      (r.getAs[Long]("o_a") == oA) && (r.getAs[Long]("o_b") == oB) &&
        (r.getAs[Long]("e_a_pm") == ePm) &&
        (r.getAs[Long]("v_ppm") == vPpm.toLong) &&
        (r.getAs[Long]("chi2_x1000") == chi)
    }
}
