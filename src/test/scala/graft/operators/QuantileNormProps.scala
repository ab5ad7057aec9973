package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession

/** Property tests for QuantileNorm against an independent plain-Scala
  * reference (sorted-pool indexing, no windows, no spine): the operator's
  * distinct-value-spine range join must agree with direct pooled-array
  * lookup on arbitrary data — group sizes odd/even/singleton, heavy value
  * ties, single-group and many-group shapes.
  */
object QuantileNormProps extends Properties("QuantileNorm") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private def reference(rows: Seq[(Long, String, Long)]): Map[Long, Long] = {
    val pool = rows.map(_._3).sorted
    val n = pool.length.toLong
    rows.groupBy(_._2).flatMap { case (_, grp) =>
      val ordered = grp.sortBy(r => (r._3, r._1))
      val ng = ordered.length.toLong
      ordered.zipWithIndex.map { case ((id, _, _), r) =>
        val ti = if (ng == 1) 0L else (r * (n - 1)) / (ng - 1)
        id -> pool(ti.toInt)
      }
    }
  }

  private val genRows: Gen[Seq[(Long, String, Long)]] = for {
    n <- Gen.chooseNum(1, 40)
    groups <- Gen.chooseNum(1, 4)
    vals <- Gen.listOfN(n, Gen.chooseNum(0L, 8L)) // narrow domain -> many ties
  } yield vals.zipWithIndex.map { case (v, i) =>
    (i.toLong, s"g${i % groups}", v)
  }

  property("matches the sorted-pool reference on arbitrary data") =
    Prop.forAll(genRows) { rows =>
      import spark.implicits._
      val df = rows.toDF("id", "g", "v")
      val got = QuantileNorm.normalize(df, "g", "v", "id")
        .select("id", "norm_val").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == reference(rows)
    }

  property("per-group rank order is preserved by the mapping") =
    Prop.forAll(genRows) { rows =>
      import spark.implicits._
      val df = rows.toDF("id", "g", "v")
      val out = QuantileNorm.normalize(df, "g", "v", "id")
        .select("id", "src_rank", "norm_val").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val byGroup = rows.map(r => r._1 -> r._2).toMap
      out.groupBy(t => byGroup(t._1)).values.forall { grp =>
        val sorted = grp.sortBy(_._2)
        sorted.zip(sorted.tail).forall { case (a, b) => a._3 <= b._3 }
      }
    }
}
