package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession

/** Property tests for the round-15 robust/ordinal battery against
  * independent plain-Scala brute-force references: dominance pair
  * counts (Cliff), the rank-cut clamp (winsorized sum), type-7 fence
  * census (Tukey), and the floor-composed Kruskal–Wallis H — arbitrary
  * duplicates, one-sided samples, tie runs across every cut.
  */
object RobustStatsProps extends Properties("RobustStats") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val genAB: Gen[Seq[(Boolean, Long)]] = for {
    n <- Gen.chooseNum(1, 40)
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf(true, false), Gen.chooseNum(-9L, 9L)))
  } yield rows

  property("cliffsDelta pair counts equal the nested-loop census") =
    Prop.forAll(genAB) { rows =>
      import spark.implicits._
      val df = rows.map { case (a, v) => ("k", a, v) }.toDF("k", "in_a", "v")
      val r = Stats.cliffsDelta(df, Seq("k"), "in_a", "v").collect().head
      val as = rows.filter(_._1).map(_._2)
      val bs = rows.filterNot(_._1).map(_._2)
      val gt = (for (a <- as; b <- bs if a > b) yield 1).size.toLong
      val lt = (for (a <- as; b <- bs if a < b) yield 1).size.toLong
      (r.getAs[Long]("n1") == as.size.toLong) &&
        (r.getAs[Long]("n2") == bs.size.toLong) &&
        (r.getAs[Long]("p_gt") == gt) && (r.getAs[Long]("p_lt") == lt) &&
        // identity: gt + lt + ties = n1*n2
        (gt + lt <= as.size.toLong * bs.size)
    }

  private val genVals: Gen[Seq[Long]] = for {
    n <- Gen.chooseNum(1, 50)
    vals <- Gen.listOfN(n, Gen.chooseNum(-20L, 20L))
  } yield vals

  property("winsorizedSum equals clamping the sorted sequence at the rank cuts") =
    Prop.forAll(genVals, Gen.chooseNum(0L, 499L)) { (vals, trimPm) =>
      import spark.implicits._
      val df = vals.map(("k", _)).toDF("k", "v")
      val r = Stats.winsorizedSum(df, Seq("k"), "v", trimPm).collect().head
      val sorted = vals.sorted
      val n = sorted.size
      val lo = (n * trimPm / 1000).toInt
      val loV = sorted(lo) // value at rank lo+1 (0-based lo)
      val hiV = sorted(n - lo - 1) // value at rank hi = n - lo
      val want = sorted.map(v => math.max(loV, math.min(hiV, v))).sum
      (r.getAs[Long]("n_obs") == n.toLong) &&
        (r.getAs[Long]("n_clamped_side") == lo.toLong) &&
        (r.getAs[Long]("winsorized_sum") == want)
    }

  property("tukeyOutliers census equals the brute-force type-7 fences") =
    Prop.forAll(genVals) { vals =>
      import spark.implicits._
      val df = vals.map(("k", _)).toDF("k", "v")
      val r = Stats.tukeyOutliers(df, Seq("k"), "v").collect().head
      val s = vals.sorted
      val n = s.size
      def qX4(threeP: Int): Long = { // position p = threeP/4 of (n-1)
        val pos = (n - 1).toLong * threeP
        val rank = (pos / 4).toInt // 0-based floor rank
        val frac = pos % 4
        val vLo = s(rank)
        val vHi = s(math.min(n - 1, rank + 1))
        (4 - frac) * vLo + frac * vHi
      }
      val q1 = qX4(1)
      val q3 = qX4(3)
      val lo8 = 5 * q1 - 3 * q3
      val hi8 = 5 * q3 - 3 * q1
      (r.getAs[Long]("q1_x4") == q1) && (r.getAs[Long]("q3_x4") == q3) &&
        (r.getAs[Long]("n_low") == s.count(_ * 8 < lo8).toLong) &&
        (r.getAs[Long]("n_high") == s.count(_ * 8 > hi8).toLong)
    }

  private val genGroups: Gen[Seq[(String, Long)]] = for {
    k <- Gen.chooseNum(2, 4)
    n <- Gen.chooseNum(k, 40)
    rows <- Gen.listOfN(n, Gen.zip(
      Gen.chooseNum(0, k - 1).map(i => s"t$i"), Gen.chooseNum(-9L, 9L)))
  } yield rows

  property("kruskalWallis equals the brute-force floor-composed H") =
    Prop.forAll(genGroups) { rows =>
      import spark.implicits._
      val df = rows.map { case (g, v) => ("k", g, v) }.toDF("k", "g", "v")
      val r = Stats.kruskalWallis(df, Seq("k"), "g", "v").collect().head
      val n = rows.size.toLong
      // doubled midrank of value v in the pooled sample
      def r2(v: Long): Long =
        2L * rows.count(_._2 < v) + rows.count(_._2 == v) + 1L
      val perG = rows.groupBy(_._1).map { case (_, grp) =>
        val ng = grp.size.toLong
        val s2 = grp.map(x => r2(x._2)).sum
        val dev = s2 - ng * (n + 1)
        BigInt(dev) * dev / ng
      }
      val kGroups = rows.map(_._1).distinct.size.toLong
      val want =
        if (kGroups < 2 || n < 2) 0L
        else (BigInt(3000) * perG.sum / (BigInt(n) * (n + 1))).toLong
      (r.getAs[Long]("k_groups") == kGroups) &&
        (r.getAs[Long]("h_x1000") == want)
    }

  property("cramerVonMises equals the brute-force pooled-ECDF L2 statistic") =
    Prop.forAll(genAB) { rows =>
      import spark.implicits._
      val df = rows.map { case (a, v) => ("k", a, v) }.toDF("k", "in_a", "v")
      val r = Stats.cramerVonMises(df, Seq("k"), "in_a", "v").collect().head
      val as = rows.filter(_._1).map(_._2)
      val bs = rows.filterNot(_._1).map(_._2)
      val n1 = as.size.toLong
      val n2 = bs.size.toLong
      val want =
        if (n1 == 0 || n2 == 0) 0L
        else {
          val tNum = rows.map(_._2).distinct.map { v =>
            val m = rows.count(_._2 == v).toLong
            val d = BigInt(as.count(_ <= v)) * n2 - BigInt(bs.count(_ <= v)) * n1
            BigInt(m) * d * d
          }.sum
          (BigInt(1000) * tNum
            / (BigInt(n1 + n2) * (n1 + n2) * n1 * n2)).toLong
        }
      r.getAs[Long]("t_x1000") == want
    }

  property("auc equals the brute-force pair census (Mann-Whitney identity)") =
    Prop.forAll(genAB) { rows =>
      import spark.implicits._
      val df = rows.map { case (y, v) => ("k", y, v) }.toDF("k", "y", "v")
      val r = Stats.auc(df, Seq("k"), "y", "v").collect().head
      val pos = rows.filter(_._1).map(_._2)
      val neg = rows.filterNot(_._1).map(_._2)
      val want =
        if (pos.isEmpty || neg.isEmpty) 0L
        else {
          val gt = (for (p <- pos; n <- neg if p > n) yield 1).size.toLong
          val t = (for (p <- pos; n <- neg if p == n) yield 1).size.toLong
          (2 * gt + t) * 1000 / (2L * pos.size * neg.size)
        }
      (r.getAs[Long]("n_pos") == pos.size.toLong) &&
        (r.getAs[Long]("n_neg") == neg.size.toLong) &&
        (r.getAs[Long]("auc_x1000") == want)
    }

  private val genXYZ: Gen[Seq[(Long, Long, Long)]] = for {
    n <- Gen.chooseNum(2, 30)
    rows <- Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(-9L, 9L), Gen.chooseNum(-9L, 9L), Gen.chooseNum(-9L, 9L)))
  } yield rows

  property("partialCorrelation replays the fixed double expression tree bitwise") =
    Prop.forAll(genXYZ) { rows =>
      import spark.implicits._
      val df = rows.map { case (x, y, z) => ("k", x, y, z) }.toDF("k", "x", "y", "z")
      val got = Stats.partialCorrelation(df, Seq("k"), "x", "y", "z").collect().head
      // brute force: exact integer moments, then the SAME fixed tree of
      // IEEE double ops the operator documents — must match bitwise
      val n = rows.size.toDouble
      def s(f: ((Long, Long, Long)) => BigInt): Double = rows.map(f).sum.toDouble
      val (sx, sy, sz) = (s(r => BigInt(r._1)), s(r => BigInt(r._2)), s(r => BigInt(r._3)))
      val (sxx, syy, szz) = (s(r => BigInt(r._1) * r._1), s(r => BigInt(r._2) * r._2),
        s(r => BigInt(r._3) * r._3))
      val (sxy, sxz, syz) = (s(r => BigInt(r._1) * r._2), s(r => BigInt(r._1) * r._3),
        s(r => BigInt(r._2) * r._3))
      def corr(cov: Double, vx: Double, vy: Double): Double = {
        val d = vx * vy
        if (d == 0.0) Double.NaN else cov / math.sqrt(d)
      }
      val rxy = corr(n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy)
      val rxz = corr(n * sxz - sx * sz, n * sxx - sx * sx, n * szz - sz * sz)
      val ryz = corr(n * syz - sy * sz, n * syy - sy * sy, n * szz - sz * sz)
      val den = (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
      val want =
        if (rxy.isNaN || rxz.isNaN || ryz.isNaN || den == 0.0) None
        else Some((rxy - rxz * ryz) / math.sqrt(den))
      val gotP = if (got.isNullAt(got.fieldIndex("partial_xy_z"))) None
        else Some(got.getAs[Double]("partial_xy_z"))
      (want, gotP) match {
        case (None, None) => true
        case (Some(w), Some(g)) =>
          java.lang.Double.doubleToLongBits(w) == java.lang.Double.doubleToLongBits(g)
        case _ => false
      }
    }

  private val genRaters: Gen[Seq[(Long, Long, Long)]] = for {
    n <- Gen.chooseNum(1, 30)
    rows <- Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 2L)))
  } yield rows

  property("multiRaterAgreement matches the brute-force coincidence census") =
    Prop.forAll(genRaters) { rows =>
      import spark.implicits._
      val df = rows.map { case (a, b, c) => ("k", a, b, c) }.toDF("k", "ra", "rb", "rc")
      val r = Stats.multiRaterAgreement(df, Seq("k"), Seq("ra", "rb", "rc"))
        .collect().head
      // brute force per Krippendorff's coincidence definitions
      val m = 3
      val labels = rows.flatMap(t => Seq(t._1, t._2, t._3))
      val n = BigInt(labels.size)
      val sc2 = labels.groupBy(identity).values.map(g => BigInt(g.size) * g.size).sum
      val kCats = labels.distinct.size.toLong
      val su = rows.map { case (a, b, c) =>
        val ap = (if (a == b) 1 else 0) + (if (a == c) 1 else 0) + (if (b == c) 1 else 0)
        (BigInt(m * m - m - 2 * ap), BigInt(2 * ap)) // (m² − s_u, s_u − m)
      }
      val aSum = su.map(_._1).sum
      val pSum = su.map(_._2).sum
      def truncDiv(a: BigInt, b: BigInt): BigInt = a / b // BigInt / truncates
      val rr = n * n - sc2
      val alpha =
        if (kCats == 1) BigInt(1000)
        else BigInt(1000) - truncDiv(aSum * (n - 1) * 1000, rr * (m - 1))
      val s = BigInt(kCats - 1) * n * n
      val q = BigInt(rows.size) * m * (m - 1)
      val ac1 =
        if (kCats == 1) BigInt(1000)
        else truncDiv((pSum * s - rr * q) * 1000, q * (s - rr))
      (r.getAs[Long]("n_units") == rows.size.toLong) &&
        (r.getAs[Long]("k_cats") == kCats) &&
        (r.getAs[Long]("agree_pairs_x2") == pSum.toLong) &&
        (r.getAs[Long]("alpha_x1000") == alpha.toLong) &&
        (r.getAs[Long]("ac1_x1000") == ac1.toLong)
    }

  private val genPosVals: Gen[Seq[Long]] = for {
    n <- Gen.chooseNum(1, 60)
    vals <- Gen.listOfN(n, Gen.chooseNum(0L, 30L))
  } yield vals

  property("palmaRatios tail sums equal the sorted-prefix census") =
    Prop.forAll(genPosVals) { vals =>
      import spark.implicits._
      val df = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        .toDF("k", "id", "v")
      val r = Stats.palmaRatios(df, Seq("k"), "v", "id").collect().head
      // ids follow insertion order, so (v, id) sorts like sortBy((v, i))
      val sorted = vals.zipWithIndex.sortBy { case (v, i) => (v, i) }.map(_._1)
      val n = sorted.size
      def bottom(k: Int) = sorted.take(n * k / 10).sum
      def top(k: Int) = sorted.drop(n * (10 - k) / 10).sum
      def ratio(t: Long, b: Long) = if (b == 0) 0L else t * 1000 / b
      (r.getAs[Long]("n") == n.toLong) &&
        (r.getAs[Long]("bottom40") == bottom(4)) &&
        (r.getAs[Long]("top10") == top(1)) &&
        (r.getAs[Long]("bottom20") == bottom(2)) &&
        (r.getAs[Long]("top20") == top(2)) &&
        (r.getAs[Long]("palma_x1000") == ratio(top(1), bottom(4))) &&
        (r.getAs[Long]("s2020_x1000") == ratio(top(2), bottom(2)))
    }

  private val genVarGroups: Gen[Seq[(String, Long)]] = for {
    nGroups <- Gen.chooseNum(2, 5)
    rows <- Gen.listOf(Gen.zip(
      Gen.chooseNum(0, nGroups - 1).map(i => s"g$i"), Gen.chooseNum(-15L, 15L)))
      .suchThat(_.nonEmpty)
  } yield rows

  property("hartleyFmax equals the brute-force variance-rational extremes") =
    Prop.forAll(genVarGroups) { rows =>
      import spark.implicits._
      val df = rows.map { case (g, v) => ("k", g, v) }.toDF("k", "g", "v")
      val out = Stats.hartleyFmax(df, Seq("k"), "g", "v").collect()
      val grs = rows.groupBy(_._1).view.mapValues(_.map(_._2))
        .filter(_._2.size >= 2).toMap
      if (grs.isEmpty) out.isEmpty
      else {
        val r = out.head
        val rats = grs.map { case (g, vs) =>
          val n = BigInt(vs.size)
          val s = vs.map(BigInt(_)).sum
          val ss = vs.map(v => BigInt(v) * v).sum
          g -> ((n * ss - s * s, n * (n - 1)))
        }
        // extremes by the same (double, name) order the operator uses
        val ordered = rats.toSeq.sortBy { case (g, (nu, de)) =>
          (nu.toDouble / de.toDouble, g)
        }
        val (gMin, (nMin, dMin)) = ordered.head
        val (gMax, (nMax, dMax)) = ordered.last
        val want =
          if (rats.size < 2 || nMin == 0) 0L
          else ((nMax * dMin * 1000) / (nMin * dMax)).toLong
        // a max tie can legitimately pick a different name than sortBy's
        // last — compare the RATIO cross-multiplied instead of the name
        val sameMax = rats(r.getAs[String]("g_max"))._1 * dMax ==
          nMax * rats(r.getAs[String]("g_max"))._2
        val sameMin = rats(r.getAs[String]("g_min"))._1 * dMin ==
          nMin * rats(r.getAs[String]("g_min"))._2
        (r.getAs[Long]("n_groups") == rats.size.toLong) && sameMax && sameMin &&
          (r.getAs[Long]("fmax_x1000") == want)
      }
    }

  property("brownForsythe replays the doubled-median deviation ANOVA exactly") =
    Prop.forAll(genVarGroups) { rows =>
      import spark.implicits._
      val df = rows.map { case (g, v) => ("k", g, v) }.toDF("k", "g", "v")
      val r = Stats.brownForsythe(df, Seq("k"), "g", "v").collect().head
      val groups = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      def med2(vs: Seq[Long]): Long = {
        val n = vs.size
        vs((n + 1) / 2 - 1) + vs(n / 2)
      }
      val zs = groups.map { case (g, vs) =>
        val m2 = med2(vs)
        g -> vs.map(v => BigInt((2 * v - m2).abs))
      }
      val n = BigInt(rows.size)
      val k = zs.size
      val tg = zs.view.mapValues(_.sum).toMap
      val t = tg.values.sum
      val sq = zs.values.flatten.map(z => z * z).sum
      val ssb = zs.map { case (g, z) =>
        val d = n * tg(g) - BigInt(z.size) * t
        (d * d) / (BigInt(z.size) * n)
      }.sum
      val sst = n * sq - t * t
      val ssw = sst - ssb
      val f =
        if (k - 1 == 0 || n - k <= 0 || ssw <= 0) BigInt(0)
        else (ssb * (n - k) * 1000) / (ssw * (k - 1))
      (r.getAs[Long]("n_obs") == rows.size.toLong) &&
        (r.getAs[Long]("k_groups") == k.toLong) &&
        (r.getAs[Long]("ssb") == (ssb / n).toLong) &&
        (r.getAs[Long]("ssw") == (ssw / n).toLong) &&
        (r.getAs[Long]("f_x1000") == f.toLong)
    }

  private val genBins: Gen[Seq[(Long, Long)]] = for {
    b <- Gen.chooseNum(1, 10)
    bins <- Gen.listOfN(b, for {
      n <- Gen.chooseNum(1L, 20L)
      pos <- Gen.chooseNum(0L, n)
    } yield (n, pos))
  } yield bins

  property("isotonicBinned equals the sequential pool-adjacent-violators fit") =
    Prop.forAll(genBins) { bins =>
      import spark.implicits._
      val df = bins.zipWithIndex.map { case ((n, p), i) => ("k", i.toLong, n, p) }
        .toDF("k", "bin", "n_docs", "n_pos")
      val got = Stats.isotonicBinned(df, Seq("k"), "bin", "n_docs", "n_pos")
        .orderBy("bin").collect().map(_.getAs[Long]("iso_pm")).toSeq
      // classic PAV: pool adjacent blocks while means decrease
      val stack = scala.collection.mutable.Stack[(BigInt, BigInt, Int)]() // num, den, size
      bins.foreach { case (n, p) =>
        var blk = (BigInt(p), BigInt(n), 1)
        while (stack.nonEmpty && stack.top._1 * blk._2 >= blk._1 * stack.top._2) {
          val t = stack.pop()
          blk = (t._1 + blk._1, t._2 + blk._2, t._3 + blk._3)
        }
        stack.push(blk)
      }
      val want = stack.toSeq.reverse.flatMap { case (num, den, sz) =>
        Seq.fill(sz)((num * 1000 / den).toLong)
      }
      (got == want) && (got == got.sorted)
    }

  private val genParts: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.chooseNum(2, 40)
    rows <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 3L)))
  } yield rows

  property("randIndex equals the brute-force pair census") =
    Prop.forAll(genParts) { rows =>
      import spark.implicits._
      val df = rows.toDF("a", "b")
      val r = Stats.randIndex(df, "a", "b").collect().head
      val idx = rows.zipWithIndex
      val pairs = for (x <- idx; y <- idx if x._2 < y._2) yield (x._1, y._1)
      val agree = pairs.count { case ((a1, b1), (a2, b2)) =>
        (a1 == a2) == (b1 == b2)
      }
      val nPairs = pairs.size
      val riPm = if (nPairs == 0) 1000L else 1000L * agree / nPairs
      // brute ARI from the doubled censuses (same truncation contract)
      def t2(groups: Map[Long, Int]): BigInt =
        groups.values.map(c => BigInt(c) * (c - 1)).sum
      val tc = rows.groupBy(identity).view.mapValues(_.size).values
        .map(c => BigInt(c) * (c - 1)).sum
      val ta = t2(rows.groupBy(_._1).view.mapValues(_.size).toMap)
      val tb = t2(rows.groupBy(_._2).view.mapValues(_.size).toMap)
      val tn = BigInt(rows.size) * (rows.size - 1)
      val den = (ta + tb) * tn - ta * tb * 2
      val ari = if (den == 0) BigInt(0)
        else (tc * tn - ta * tb) * 2000000 / den
      (r.getAs[Long]("n_rows") == rows.size.toLong) &&
        (r.getAs[Long]("ri_pm") == riPm) &&
        (r.getAs[Long]("ari_x1e6") == ari.toLong)
    }

  private val genPass: Gen[Seq[Boolean]] = for {
    n <- Gen.chooseNum(1, 60)
    rows <- Gen.listOfN(n, Gen.oneOf(true, false))
  } yield rows

  property("wilsonRank replays the fixed sqrt tree and the exact gt_half form") =
    Prop.forAll(genPass) { passes =>
      import spark.implicits._
      val df = passes.map(("k", _)).toDF("k", "pass")
      val r = Stats.wilsonRank(df, "k", "pass").collect().head
      val n = passes.size.toDouble
      val pos = passes.count(identity).toDouble
      val ph = pos / n
      val term = (ph * (1.0 - ph)) / n + 1.0 / (n * n)
      val lb = (ph + 2.0 / n - 2.0 * math.sqrt(term)) / (1.0 + 4.0 / n)
      val posL = passes.count(identity).toLong
      val nL = passes.size.toLong
      val gtHalf = posL * 2 > nL &&
        BigInt(nL) * (2 * posL - nL) * (2 * posL - nL) >
          (BigInt(posL) * (nL - posL) + nL) * 16
      // the exact decision must agree with the double bound (no
      // boundary case can land exactly ON 0.5 with integer counts)
      (java.lang.Double.doubleToLongBits(r.getAs[Double]("wilson_lb")) ==
        java.lang.Double.doubleToLongBits(lb)) &&
        (r.getAs[Boolean]("gt_half") == gtHalf) &&
        (gtHalf == (lb > 0.5) || math.abs(lb - 0.5) < 1e-9)
    }

  property("quantileShape octiles are the type-1 quantiles of the sorted values") =
    Prop.forAll(genVals) { vals =>
      import spark.implicits._
      val df = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        .toDF("k", "id", "v")
      val r = Stats.quantileShape(df, Seq("k"), "v", "id").collect().head
      val sorted = vals.sorted
      val n = sorted.size
      def e(i: Int): Long = sorted(((n.toLong * i + 7) / 8).toInt - 1)
      val iqr = e(6) - e(2)
      val bowley = if (iqr == 0) 0L else 1000 * (e(6) + e(2) - 2 * e(4)) / iqr
      val moors = if (iqr == 0) 0L else 1000 * ((e(7) - e(5)) + (e(3) - e(1))) / iqr
      (1 to 7).forall(i => r.getAs[Long](s"e$i") == e(i)) &&
        (r.getAs[Long]("bowley_x1000") == bowley) &&
        (r.getAs[Long]("moors_x1000") == moors)
    }
}
