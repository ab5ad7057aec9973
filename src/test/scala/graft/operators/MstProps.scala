package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession

/** Property test for [[Graphs.boruvkaMsf]] against a plain-Scala
  * KRUSKAL union-find under the SAME (w, u, v) total edge order — two
  * different MST algorithms must produce the identical unique forest
  * edge set (the certificate q_mst's DuckDB oracle replays at query
  * scale). Random weighted multigraphs with self-loops, parallel
  * edges (both directions), duplicate weights, and disconnected
  * pieces exercise the canonicalization preamble and the forest
  * (not tree) semantics.
  */
object MstProps extends Properties("BoruvkaMsf") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val genGraph: Gen[Seq[(Long, Long, Long)]] = for {
    nNodes <- Gen.chooseNum(2, 10)
    nEdges <- Gen.chooseNum(1, 20)
    edges <- Gen.listOfN(nEdges, for {
      a <- Gen.chooseNum(0, nNodes - 1)
      b <- Gen.chooseNum(0, nNodes - 1)
      w <- Gen.chooseNum(1L, 5L) // few weight levels => many ties
    } yield (a.toLong, b.toLong, w))
  } yield edges

  /** Kruskal with path-halving union-find over the canonical simple
    * graph (u<v, min w per pair), edges scanned in (w, u, v) order.
    */
  private def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .groupBy(e => (e._1, e._2))
      .map { case ((u, v), es) => (u, v, es.map(_._3).min) }
      .toSeq.sortBy(e => (e._3, e._1, e._2))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElseUpdate(x, x) != x) {
        parent(x) = parent(parent(x)); x = parent(x)
      }
      x
    }
    val out = Set.newBuilder[(Long, Long, Long)]
    canon.foreach { case (u, v, w) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { parent(math.max(ru, rv)) = math.min(ru, rv); out += ((u, v, w)) }
    }
    out.result()
  }

  property("boruvkaMsf equals Kruskal under the shared total order") =
    Prop.forAll(genGraph) { edges =>
      import spark.implicits._
      val hasEdges = edges.exists(e => e._1 != e._2)
      !hasEdges || {
        val df = edges.toDF("src", "dst", "w")
        val got = Graphs.boruvkaMsf(df, "src", "dst", "w", maxRounds = 8)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        got == kruskal(edges)
      }
    }
}
