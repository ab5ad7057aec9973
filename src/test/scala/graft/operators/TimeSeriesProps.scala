package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Property tests for the TimeSeries recurrences against independent
  * plain-Scala sequential folds: [[TimeSeries.cusumUpper]]'s
  * running-sum − running-min window identity must equal the textbook
  * clamped recurrence c⁺ ← max(0, c⁺ + x − x₁ − slack) on arbitrary
  * series, and [[TimeSeries.ewmaDyadic]] must equal the direct fold —
  * multiple keys, negative values, duplicate values, slack ∈ {0,…}.
  */
object TimeSeriesProps extends Properties("TimeSeries") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  // (key, ord, value) with unique (key, ord)
  private val genRows: Gen[(Seq[(String, Long, Long)], Long)] = for {
    n <- Gen.chooseNum(1, 30)
    groups <- Gen.chooseNum(1, 3)
    vals <- Gen.listOfN(n, Gen.chooseNum(-50L, 50L))
    slack <- Gen.chooseNum(0L, 10L)
  } yield (vals.zipWithIndex.map { case (v, i) =>
    (s"g${i % groups}", i.toLong, v)
  }, slack)

  private def cusumRef(series: Seq[Long], slack: Long): Seq[Long] = {
    val tgt = series.head
    series.scanLeft(0L)((c, x) => math.max(0L, c + x - tgt - slack)).tail
  }

  property("dtwPairs equals the quadratic DP reference") =
    Prop.forAll(
      Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-20L, 20L))),
      Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, Gen.chooseNum(-20L, 20L)))) {
      (as, bs) =>
        import spark.implicits._
        val rows = as.zipWithIndex.map { case (v, i) => ("a", i.toLong, v) } ++
          bs.zipWithIndex.map { case (v, i) => ("b", i.toLong, v) }
        val r = TimeSeries.dtwPairs(rows.toDF("k", "o", "x"), "k", "o", "x")
          .collect().head
        def dtw(a: Seq[Long], b: Seq[Long]): Long = {
          val inf = 1000000000000000L
          var prev = 0L +: Seq.fill(b.size)(inf)
          a.foreach { x =>
            val row = scala.collection.mutable.ArrayBuffer(inf)
            b.zipWithIndex.foreach { case (y, j) =>
              row += math.abs(x - y) +
                math.min(prev(j + 1), math.min(prev(j), row.last))
            }
            prev = row.toSeq
          }
          prev.last
        }
        val lock = as.zip(bs).map { case (x, y) => math.abs(x - y) }.sum
        r.getAs[Long]("dtw_l1") == dtw(as, bs) &&
          r.getAs[Long]("lockstep_l1") == lock &&
          r.getAs[Long]("n_a") == as.size.toLong &&
          r.getAs[Long]("n_b") == bs.size.toLong
    }

  property("cusumUpper equals the clamped sequential recurrence") =
    Prop.forAll(genRows) { case (rows, slack) =>
      import spark.implicits._
      val df = rows.toDF("k", "ord", "v")
      val got = TimeSeries.cusumUpper(df, Seq("k"), Seq("ord"), "v", slack, 1L)
        .select("k", "ord", "c_plus")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = rows.groupBy(_._1).flatMap { case (k, grp) =>
        val ordered = grp.sortBy(_._2)
        ordered.map(_._2).zip(cusumRef(ordered.map(_._3), slack))
          .map { case (ord, c) => (k, ord) -> c }
      }
      got == want
    }

  property("ewmaDyadic equals the direct fold") =
    Prop.forAll(genRows) { case (rows, _) =>
      import spark.implicits._
      val df = rows.toDF("k", "ord", "v")
      val got = TimeSeries.ewmaDyadic(df, Seq("k"), "ord", "v", halvings = 1)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val want = rows.groupBy(_._1).map { case (k, grp) =>
        val vs = grp.sortBy(_._2).map(_._3.toDouble)
        k -> ((vs.length.toLong, vs.tail.foldLeft(vs.head)((s, x) => s + (x - s) / 2.0)))
      }
      got == want
    }

  // sparse demand events: strictly increasing days, positive sizes
  private val genDemand: Gen[Seq[(String, Long, Long)]] = for {
    n <- Gen.chooseNum(1, 25)
    groups <- Gen.chooseNum(1, 3)
    gaps <- Gen.listOfN(n, Gen.chooseNum(1L, 9L))
    qs <- Gen.listOfN(n, Gen.chooseNum(1L, 20L))
  } yield gaps.scanLeft(0L)(_ + _).tail.zip(qs).zipWithIndex.map {
    case ((d, q), i) => (s"g${i % groups}", d, q)
  }

  property("croston equals the sequential two-recurrence walk") =
    Prop.forAll(genDemand) { rows =>
      import spark.implicits._
      val df = rows.toDF("k", "day", "q")
      val got = TimeSeries.croston(df, Seq("k"), "day", "q")
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n_demand"), r.getAs[Long]("level_q"),
            r.getAs[Long]("interval_p"), r.getAs[Long]("rate_x1000")))).toMap
      val want = rows.groupBy(_._1).map { case (k, grp) =>
        val ev = grp.sortBy(_._2)
        var z = ev.head._3; var p = 1L; var prev = ev.head._2
        ev.tail.foreach { case (_, d, q) =>
          z = (q + z) / 2; p = ((d - prev) + p) / 2; prev = d
        }
        k -> ((ev.size.toLong, z, p, 1000L * z / p))
      }
      got == want
    }
}
