package graft.sync

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Adversarial property tests for the upsert/CDC compaction family
  * (r16 verdict #8): [[Upsert.latestByKey]] and [[Upsert.applyCdc]]
  * against a plain-Scala last-writer-wins reference under hostile
  * shapes — cursor TIES broken by the declared tiebreak column, keys
  * that exist only in the snapshot or only in the change log, delete-
  * then-reinsert sequences, NULL ops (must read as upsert, never as a
  * silent delete), single-row keys, and random repartitioning.
  */
object UpsertProps extends Properties("Upsert") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  // (key, cursor, uid, value) — uid unique per row, the tiebreak
  private val genRows: Gen[Seq[(Long, Long, Long, Long)]] = for {
    n <- Gen.chooseNum(0, 25)
    rows <- Gen.listOfN(n, for {
      k <- Gen.chooseNum(1L, 5L)
      c <- Gen.chooseNum(0L, 6L) // small domain → ties guaranteed
      v <- Gen.chooseNum(-99L, 99L)
    } yield (k, c, v))
  } yield rows.zipWithIndex.map { case ((k, c, v), i) => (k, c, i.toLong, v) }

  property("latestByKey equals max-by-(cursor, tiebreak)") =
    Prop.forAll(genRows, Gen.chooseNum(1, 4)) { (rows, parts) =>
      Prop.propBoolean(parts >= 1) ==> {
      import spark.implicits._
      val df = rows.toDF("k", "cur", "uid", "v").repartition(parts)
      val got = Upsert.latestByKey(df, Seq("k"), "cur", tiebreak = Seq("uid"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val want = rows.groupBy(_._1).map { case (_, rs) =>
        rs.maxBy(r => (r._2, r._3))
      }.toSeq.sortBy(_._1)
      got == want
      }
    }

  // change ops: U with new value, D, or null-op (reads as upsert)
  private val genOps: Gen[Seq[(Long, Option[String], Long)]] = for {
    n <- Gen.chooseNum(0, 25)
    rows <- Gen.listOfN(n, for {
      k <- Gen.chooseNum(1L, 5L)
      op <- Gen.frequency(5 -> Gen.const(Some("U")), 3 -> Gen.const(Some("D")),
        1 -> Gen.const(None))
      v <- Gen.chooseNum(-99L, 99L)
    } yield (k, op, v))
  } yield rows

  property("applyCdc equals the sequential change-log replay") =
    Prop.forAll(genOps, Gen.chooseNum(1, 4)) { (changes, parts) =>
      Prop.propBoolean(parts >= 1) ==> {
      import spark.implicits._
      // snapshot: keys 1..3 at cursor 0; the log starts at cursor 1 —
      // the "snapshot cut at the log's start" contract
      val snapRows = Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 0L, 30L))
      val snap = snapRows.toDF("k", "cur", "v").repartition(parts)
      val chRows = changes.zipWithIndex.map { case ((k, op, v), i) =>
        (k, (i + 1).toLong, v, op.orNull)
      }
      val ch = chRows.toDF("k", "cur", "v", "op").repartition(parts)
      val got = Upsert.applyCdc(snap, ch, Seq("k"), "cur", "op")
        .select(col("k"), col("v")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      // reference: replay in cursor order; null op = upsert
      val state = scala.collection.mutable.Map(
        snapRows.map(r => r._1 -> (r._3, false)): _*)
      chRows.sortBy(_._2).foreach { case (k, _, v, op) =>
        if (op == "D") state(k) = (v, true) else state(k) = (v, false)
      }
      val want = state.toSeq.collect { case (k, (v, deleted)) if !deleted => (k, v) }
        .sortBy(_._1)
      got == want
      }
    }
}
