package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession

/** Property tests for the round-9 set/cluster operators against naive
  * plain-Scala references: [[SimilarityJoin.containmentJoin]] must equal
  * the quadratic distinct-set containment join on arbitrary small-
  * alphabet corpora (heavy overlap, duplicates, empty-ish sets), and
  * [[KMeansInt.lloydRounds]] must equal a direct Lloyd simulation
  * (floor-mean centroids, smallest-cid tie-break) on arbitrary 1-D and
  * 2-D integer data.
  */
object ContainKMeansProps extends Properties("ContainKMeans") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  // --- containment ---------------------------------------------------

  private val genDocs: Gen[Seq[(Long, Seq[String])]] = for {
    n <- Gen.chooseNum(2, 12)
    docs <- Gen.listOfN(n,
      Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e")))
  } yield docs.zipWithIndex.map { case (els, i) => (i.toLong, els) }

  private def naiveContain(
      docs: Seq[(Long, Seq[String])], tNum: Int, tDen: Int)
      : Set[(Long, Long, Long, Boolean, Boolean)] = {
    val sets = docs.map { case (id, els) => id -> els.toSet }.toMap
    (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      inter = (sa intersect sb).size.toLong if inter > 0
      aInB = tDen * inter >= tNum * sa.size
      bInA = tDen * inter >= tNum * sb.size
      if aInB || bInA
    } yield (a, b, inter, aInB, bInA)).toSet
  }

  property("containmentJoin equals the quadratic reference") =
    Prop.forAll(genDocs) { docs =>
      import spark.implicits._
      val df = docs.toDF("id", "els")
      val got = SimilarityJoin.containmentJoin(df, "id", "els", 2, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(5), r.getBoolean(6))).toSet
      got == naiveContain(docs, 2, 3)
    }

  // --- k-means -------------------------------------------------------

  private val genVecs: Gen[(Seq[(Long, Seq[Long])], Int, Int)] = for {
    n <- Gen.chooseNum(2, 15)
    dim <- Gen.chooseNum(1, 2)
    k <- Gen.chooseNum(1, 3)
    rounds <- Gen.chooseNum(1, 3)
    vecs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.chooseNum(0L, 20L)))
  } yield (vecs.zipWithIndex.map { case (v, i) => (i.toLong, v: Seq[Long]) },
    math.min(k, n), rounds)

  private def naiveLloyd(
      data: Seq[(Long, Seq[Long])], k: Int, rounds: Int)
      : Map[Long, (Long, Long)] = {
    def dist(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var cents: Seq[(Long, Seq[Long])] =
      data.sortBy(_._1).take(k).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    var assign = Map.empty[Long, (Long, Long)]
    for (r <- 1 to rounds) {
      assign = data.map { case (id, v) =>
        val (cid, d) = cents.map { case (c, cv) => (c, dist(v, cv)) }
          .minBy { case (c, d) => (d, c) }
        id -> ((cid, d))
      }.toMap
      if (r < rounds) {
        cents = assign.toSeq.groupBy(_._2._1).toSeq.map { case (cid, members) =>
          val vs = members.map { case (id, _) => data.find(_._1 == id).get._2 }
          val c = vs.length.toLong
          (cid, vs.transpose.map(col => Math.floorDiv(col.sum, c)))
        }.sortBy(_._1)
      }
    }
    assign
  }

  property("lloydRounds equals the direct Lloyd simulation") =
    Prop.forAll(genVecs) { case (data, k, rounds) =>
      import spark.implicits._
      val df = data.toDF("id", "v")
      val got = KMeansInt.lloydRounds(df, "id", "v", k, rounds)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      got == naiveLloyd(data, k, rounds)
    }
}
