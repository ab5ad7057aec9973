package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.SparkSession

/** Fuzz for [[Alloc.dhondt]] against the definitional brute force: build
  * the full divisor table (party, k, w/k), totally order it by exact
  * cross-multiplied quotient descending with (name, k) tie-break, take
  * the top S, count per party. The operator never materializes this
  * order — it counts each pair's majorants arithmetically — so agreement
  * on arbitrary weights (including exact quotient ties, which integer
  * weights hit constantly: w and 2w share every other quotient) is a
  * real theorem check, not a replay.
  */
object DhondtProps extends Properties("Dhondt") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val genParties: Gen[(Seq[(String, Long)], Long)] = for {
    n <- Gen.chooseNum(1, 8)
    ws <- Gen.listOfN(n, Gen.chooseNum(1L, 40L))
    s <- Gen.chooseNum(1L, 15L)
  } yield (ws.zipWithIndex.map { case (w, i) => (s"p$i", w) }, s)

  private def brute(parties: Seq[(String, Long)], seats: Long): Map[String, Long] = {
    val table = for {
      (name, w) <- parties
      k <- 1L to seats
    } yield (name, k, w)
    val ordered = table.sortWith { case ((na, ka, wa), (nb, kb, wb)) =>
      // wa/ka > wb/kb by cross-multiplication; ties by (name, k) asc
      val l = wa * kb; val r = wb * ka
      if (l != r) l > r
      else if (na != nb) na < nb
      else ka < kb
    }
    val won = ordered.take(seats.toInt).groupBy(_._1)
      .map { case (n, rows) => n -> rows.size.toLong }
    parties.map { case (n, _) => n -> won.getOrElse(n, 0L) }.toMap
  }

  property("dhondt equals the sorted divisor-table top-S") =
    Prop.forAll(genParties) { case (parties, seats) =>
      import spark.implicits._
      val df = parties.toDF("name", "w")
      val got = Alloc.dhondt(df, "name", "w", seats).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("dhondt_seats")).toMap
      val want = brute(parties, seats)
      val full = parties.map { case (n, _) => n -> got.getOrElse(n, 0L) }.toMap
      (full == want) :| s"got=$full want=$want parties=$parties seats=$seats" &&
        (full.values.sum == seats) :| "total != seats"
    }

  /** Brute force for Huntington–Hill: one mandatory seat per party, then
    * the sorted priority table w/√(k(k+1)) for k >= 1 seats held, top
    * (S−P), ordered by exact cross-multiplied SQUARES with (name, k)
    * tie-break — squared-quotient ties happen whenever w_a·m = w_b·n
    * with m² = k_a(k_a+1)·something; integer weights plus the shared
    * k(k+1) grid hit exact square ties regularly.
    */
  private def bruteHH(parties: Seq[(String, Long)], seats: Long): Map[String, Long] = {
    val p = parties.size.toLong
    val extra = seats - p
    // priority for the (k+1)-th seat, k = seats already held (>= 1);
    // represent as (w², k(k+1)) and compare by cross-multiplication
    val table = for {
      (name, w) <- parties
      k <- 1L to extra
    } yield (name, k, BigInt(w) * w, BigInt(k) * (k + 1))
    val ordered = table.sortWith { case ((na, ka, wa2, da), (nb, kb, wb2, db)) =>
      val l = wa2 * db; val r = wb2 * da
      if (l != r) l > r
      else if (na != nb) na < nb
      else ka < kb
    }
    val won = ordered.take(extra.toInt).groupBy(_._1)
      .map { case (n, rows) => n -> rows.size.toLong }
    parties.map { case (n, _) => n -> (1L + won.getOrElse(n, 0L)) }.toMap
  }

  private val genPartiesHH: Gen[(Seq[(String, Long)], Long)] = for {
    n <- Gen.chooseNum(1, 8)
    ws <- Gen.listOfN(n, Gen.chooseNum(1L, 40L))
    extra <- Gen.chooseNum(0L, 15L)
  } yield (ws.zipWithIndex.map { case (w, i) => (s"p$i", w) }, n + extra)

  property("huntingtonHill equals the sorted priority-table top-(S-P)") =
    Prop.forAll(genPartiesHH) { case (parties, seats) =>
      import spark.implicits._
      val df = parties.toDF("name", "w")
      val got = Alloc.huntingtonHill(df, "name", "w", seats).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("hh_seats")).toMap
      val want = bruteHH(parties, seats)
      (got == want) :| s"got=$got want=$want parties=$parties seats=$seats" &&
        (got.values.sum == seats) :| "total != seats"
    }
}
