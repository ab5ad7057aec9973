package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.SparkSession

/** Property tests for [[Matching.galeShapley]]:
  *
  * 1. The parallel-rounds engine must equal a SEQUENTIAL
  *    one-proposal-at-a-time deferred acceptance (McVitie–Wilson
  *    order-independence — the theorem the DuckDB oracle also leans
  *    on), on random preference systems with contested acceptees,
  *    score ties (broken by proposer id), and short/ragged lists.
  * 2. Stability: the result admits NO blocking pair — no (s, p) where
  *    s strictly prefers p to its match (or is unmatched with p on
  *    its list) AND p strictly prefers s to its tenant (or is free).
  */
object MatchingProps extends Properties("GaleShapley") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  // (s, r, p, a): ragged dense-ranked pref lists over few acceptees
  private val genPrefs: Gen[List[(Long, Long, Long, Long)]] = for {
    nSup <- Gen.chooseNum(1, 8)
    nAcc <- Gen.chooseNum(1, 5)
    lists <- Gen.sequence[List[List[(Long, Long)]], List[(Long, Long)]](
      (0 until nSup).toList.map { _ =>
        for {
          k <- Gen.chooseNum(0, 3)
          ps <- Gen.pick(math.min(k, nAcc), 0 until nAcc)
          scores <- Gen.listOfN(ps.size, Gen.chooseNum(1L, 5L))
        } yield ps.toList.map(_.toLong).zip(scores)
      })
  } yield lists.zipWithIndex.flatMap { case (prefs, s) =>
    prefs.zipWithIndex.map { case ((p, a), i) =>
      (s.toLong, (i + 1).toLong, p, a)
    }
  }

  private def sequentialGs(
      rows: List[(Long, Long, Long, Long)]): Map[Long, (Long, Long, Long)] = {
    val byS = rows.groupBy(_._1).map { case (s, rs) =>
      s -> rs.sortBy(_._2).map(r => (r._3, r._4, r._2))
    }
    val ptr = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
    val tenant = scala.collection.mutable.Map[Long, (Long, Long)]() // p -> (a, s)
    val matchOf = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    while ({
      val free = byS.keys.toList.sorted
        .find(s => !matchOf.contains(s) && ptr(s) < byS(s).size)
      free match {
        case None => false
        case Some(s) =>
          val (p, a, r) = byS(s)(ptr(s)); ptr(s) += 1
          val better = tenant.get(p).forall { case (ta, ts) =>
            a < ta || (a == ta && s < ts)
          }
          if (better) {
            tenant.get(p).foreach { case (_, ts) => matchOf.remove(ts) }
            tenant(p) = (a, s); matchOf(s) = (p, r, a)
          }
          true
      }
    }) ()
    matchOf.toMap
  }

  private def noBlockingPair(
      rows: List[(Long, Long, Long, Long)],
      matched: Map[Long, (Long, Long, Long)]): Boolean = {
    val tenant = matched.map { case (s, (p, _, a)) => p -> (a, s) }
    rows.forall { case (s, r, p, a) =>
      val sPrefers = matched.get(s) match {
        case None => true // unmatched s wants any listed p
        case Some((_, mr, _)) => r < mr
      }
      val pPrefers = tenant.get(p) match {
        case None => true
        case Some((ta, ts)) => a < ta || (a == ta && s < ts)
      }
      !(sPrefers && pPrefers)
    }
  }

  property("parallel rounds equal sequential deferred acceptance") =
    Prop.forAll(genPrefs) { rows =>
      import spark.implicits._
      rows.isEmpty || {
        val df = rows.toDF("s", "r", "p", "a")
        val got = Matching.galeShapley(df, "s", "r", "p", "a").collect()
          .map(row => row.getAs[Long]("s") ->
            (row.getAs[Long]("p"), row.getAs[Long]("pref_rank"),
              row.getAs[Long]("acceptor_cost"))).toMap
        val want = sequentialGs(rows)
        ((got == want) :| s"got=$got want=$want rows=$rows") &&
          (noBlockingPair(rows, got) :| "blocking pair exists")
      }
    }
}
