package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.SparkSession

/** Fuzz for [[Stats.lMoments]] against the definitional brute force: sort
  * the sample, assign 1-based positions, accumulate the falling-factorial
  * probability-weighted sums Σ(i−1)⋯(i−r)·x₍ᵢ₎ directly in BigInt, and
  * render the same λ numerators over 12·D. The operator never sees a
  * per-row rank (it folds closed-form prefix polynomials over tie runs on
  * the value spine), so agreement on arbitrary duplicates is a real
  * identity check — Σ over tied positions of a rank polynomial times the
  * shared value must equal the run's closed form.
  */
object LMomentsProps extends Properties("LMoments") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val genXs: Gen[Seq[Long]] = for {
    n <- Gen.chooseNum(1, 30)
    xs <- Gen.listOfN(n, Gen.chooseNum(-20L, 60L))
  } yield xs

  private def brute(xs: Seq[Long]): (Long, Long, Long, Long, Long) = {
    val s = xs.sorted.map(BigInt(_))
    val n = BigInt(s.size)
    def fsum(r: Int): BigInt = s.zipWithIndex.map { case (x, i0) =>
      val i = BigInt(i0 + 1)
      (0 until r).map(j => i - 1 - j).product * x
    }.sum
    val s0 = fsum(0); val s1 = fsum(1); val s2 = fsum(2); val s3 = fsum(3)
    val a0 = 12 * s0 * (n - 1) * (n - 2) * (n - 3)
    val l2n = 24 * s1 * (n - 2) * (n - 3) - a0
    val l3n = 72 * s2 * (n - 3) - 72 * s1 * (n - 2) * (n - 3) + a0
    val l4n = 240 * s3 - 360 * s2 * (n - 3) + 144 * s1 * (n - 2) * (n - 3) - a0
    val d = 12 * n * (n - 1) * (n - 2) * (n - 3)
    if (n < 4) (0L, 0L, 0L, 0L, 0L)
    else (
      (a0 / d).toLong,
      (l2n / d).toLong,
      if (a0 <= 0) 0L else (1000 * l2n / a0).toLong,
      if (l2n <= 0) 0L else (1000 * l3n / l2n).toLong,
      if (l2n <= 0) 0L else (1000 * l4n / l2n).toLong)
  }

  property("lMoments equals the positional falling-factorial brute force") =
    Prop.forAll(genXs) { xs =>
      import spark.implicits._
      val df = xs.map(("k", _)).toDF("k", "v")
      val r = Stats.lMoments(df, Seq("k"), "v").collect().head
      val want = brute(xs)
      val got = (r.getAs[Long]("l1"), r.getAs[Long]("l2"),
        r.getAs[Long]("lcv_x1000"), r.getAs[Long]("t3_x1000"),
        r.getAs[Long]("t4_x1000"))
      (r.getAs[Long]("n") == xs.size.toLong) &&
        ((got == want) :| s"got=$got want=$want xs=$xs")
    }
}
