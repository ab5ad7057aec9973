package graft.plans

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Adversarial property tests for the custom [[AsOfJoinExec]] (r16
  * verdict #8): backward / forward / backward-with-tolerance against a
  * plain-Scala per-row scan reference, under hostile shapes — keys
  * present on only one side, empty sides, duplicate left timestamps,
  * left rows before every right row (miss), null right VALUES riding
  * through a successful match, and random repartitioning. Right
  * (key, t) pairs are unique by construction — the operator's contract
  * (a duplicate right timestamp has no defined winner).
  */
object AsOfJoinProps extends Properties("AsOfJoinExec") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val keys = Seq("A", "B", "C")

  private val genLeft: Gen[Seq[(Long, String, Long)]] = for {
    n <- Gen.chooseNum(0, 20)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf(keys)
      t <- Gen.chooseNum(0L, 40L) // duplicates allowed on the left
    } yield (k, t))
  } yield rows.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }

  private val genRight: Gen[Seq[(String, Long, Option[Double])]] = for {
    n <- Gen.chooseNum(0, 20)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf(keys)
      t <- Gen.chooseNum(0L, 40L)
      v <- Gen.frequency(4 -> Gen.chooseNum(-9, 9).map(x => Some(x.toDouble)),
        1 -> Gen.const(None))
    } yield (k, t, v))
  } yield rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (k, t)

  private def run(
      left: Seq[(Long, String, Long)],
      right: Seq[(String, Long, Option[Double])],
      parts: Int,
      mode: String,
      tol: Long): Map[Long, Option[Option[Double]]] = {
    import spark.implicits._
    val l = left.toDF("lid", "k", "t").repartition(parts)
    val r = right.toDF("k", "t", "px").repartition(parts)
    val out = mode match {
      case "backward" => AsOfJoin.backward(l, r, Seq("k"), "t", Seq("px"))
      case "forward"  => AsOfJoin.forward(l, r, Seq("k"), "t", Seq("px"))
      case _ => AsOfJoin.backwardTolerance(l, r, Seq("k"), "t", Seq("px"), tol)
    }
    // miss (no matching right row) and matched-but-null-px both surface
    // as null px in the flat output; the reference distinguishes them,
    // so fold both to the same observable before comparing
    out.collect().map { row =>
      val matched = !row.isNullAt(row.fieldIndex("px"))
      row.getLong(row.fieldIndex("lid")) ->
        (if (matched) Some(Some(row.getDouble(row.fieldIndex("px")))) else Some(None))
    }.toMap.map { case (k, v) => k -> v }
  }

  private def reference(
      left: Seq[(Long, String, Long)],
      right: Seq[(String, Long, Option[Double])],
      mode: String,
      tol: Long): Map[Long, Option[Option[Double]]] =
    left.map { case (lid, k, t) =>
      val cands = mode match {
        case "forward" => right.filter(r => r._1 == k && r._2 >= t)
        case _         => right.filter(r => r._1 == k && r._2 <= t)
      }
      val best =
        if (mode == "forward") cands.sortBy(_._2).headOption
        else cands.sortBy(-_._2).headOption
      val kept = best.filter(b =>
        mode != "tolerance" || (t - b._2) <= tol)
      lid -> kept.map(_._3)
    }.toMap

  private def fold(m: Map[Long, Option[Option[Double]]]): Map[Long, Option[Double]] =
    // Some(None) = matched a null value; None = no match — the flat
    // output can't tell them apart, so compare on the flattened view
    m.map { case (k, v) => k -> v.flatten }

  property("backward equals the per-row scan reference") =
    Prop.forAll(genLeft, genRight, Gen.chooseNum(1, 4)) { (l, r, p) =>
      Prop.propBoolean(p >= 1) ==>
        (fold(run(l, r, p, "backward", 0L)) == fold(reference(l, r, "backward", 0L)))
    }

  property("forward equals the per-row scan reference") =
    Prop.forAll(genLeft, genRight, Gen.chooseNum(1, 4)) { (l, r, p) =>
      Prop.propBoolean(p >= 1) ==>
        (fold(run(l, r, p, "forward", 0L)) == fold(reference(l, r, "forward", 0L)))
    }

  property("backward tolerance nulls matches older than the bound") =
    Prop.forAll(genLeft, genRight, Gen.chooseNum(1, 4), Gen.chooseNum(0L, 15L)) {
      (l, r, p, tol) =>
        Prop.propBoolean(p >= 1 && tol >= 0L) ==>
          (fold(run(l, r, p, "tolerance", tol)) == fold(reference(l, r, "tolerance", tol)))
    }
}
