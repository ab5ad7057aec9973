package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Adversarial fuzz for the prefix-filter set-similarity joins against
  * naive quadratic references: random SMALL element universes (heavy
  * collisions), duplicate elements inside a doc (set semantics),
  * identical docs, singletons, and random thresholds sitting exactly ON
  * ceil boundaries — the regime where a prefix-length off-by-one
  * silently drops pairs. The existing spec checks the real corpus; this
  * checks the algebra on shapes the corpus never produces.
  */
object SimilarityJoinProps extends Properties("SimilarityJoin") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val genDocs: Gen[(List[(Long, List[String])], Int, Int)] = for {
    nDocs <- Gen.chooseNum(1, 10)
    docs <- Gen.listOfN(nDocs,
      Gen.chooseNum(1, 6).flatMap(len =>
        Gen.listOfN(len, Gen.chooseNum(0, 7).map(i => s"e$i"))))
    tNum <- Gen.chooseNum(1, 4)
    tDen <- Gen.chooseNum(tNum, 5)
  } yield (docs.zipWithIndex.map { case (es, i) => (i.toLong, es) }, tNum, tDen)

  private def naiveJaccard(
      docs: List[(Long, List[String])], tNum: Int, tDen: Int)
      : Set[(Long, Long, Long, Long)] = {
    val sets = docs.map { case (id, es) => (id, es.toSet) }
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size.toLong
      union = (sa | sb).size.toLong
      if inter * tDen >= union * tNum
    } yield (ia, ib, inter, union)).toSet
  }

  private def naiveContain(
      docs: List[(Long, List[String])], tNum: Int, tDen: Int)
      : Set[(Long, Long, Long, Long, Long, Boolean, Boolean)] = {
    val sets = docs.map { case (id, es) => (id, es.toSet) }
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size.toLong
      if inter >= 1 // the h-join never surfaces disjoint pairs
      aInB = inter * tDen >= sa.size.toLong * tNum
      bInA = inter * tDen >= sb.size.toLong * tNum
      if aInB || bInA
    } yield (ia, ib, inter, sa.size.toLong, sb.size.toLong, aInB, bInA)).toSet
  }

  property("jaccardJoin equals the naive quadratic on adversarial shapes") =
    Prop.forAll(genDocs) { case (docs, tNum, tDen) =>
      import spark.implicits._
      val df = docs.toDF("id", "elems")
      val got = SimilarityJoin.jaccardJoin(df, "id", "elems", tNum, tDen)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Long]("n_inter"), r.getAs[Long]("n_union"))).toSet
      val want = naiveJaccard(docs, tNum, tDen)
      (got == want) :| s"got=$got want=$want t=$tNum/$tDen docs=$docs"
    }

  property("containmentJoin equals the naive quadratic on adversarial shapes") =
    Prop.forAll(genDocs) { case (docs, tNum, tDen) =>
      import spark.implicits._
      val df = docs.toDF("id", "elems")
      val out = SimilarityJoin.containmentJoin(df, "id", "elems", tNum, tDen)
        .collect()
      val got = out.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("inter"), r.getAs[Long]("na"), r.getAs[Long]("nb"),
        r.getAs[Boolean]("a_in_b"), r.getAs[Boolean]("b_in_a"))).toSet
      val want = naiveContain(docs, tNum, tDen)
      (got == want) :| s"got=$got want=$want t=$tNum/$tDen docs=$docs"
    }
}
