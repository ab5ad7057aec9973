package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession

/** Randomized fuzz for [[Components.minLabel]] (r16 verdict #8): the
  * dedup pipeline's connected-components core against a plain-Scala
  * union-find reference, over random undirected graphs — self-loops
  * excluded by construction, duplicate and reversed edges allowed,
  * chains/cliques/isolated-pair mixes, random input partitioning. The
  * contract under test: every vertex appearing in `pairs` gets the
  * MINIMUM id reachable from it, fully converged (the operator raises
  * rather than returning partial labels, so a pass here is a
  * convergence proof too).
  */
object ComponentsProps extends Properties("Components") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val genEdges: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.chooseNum(1, 25)
    edges <- Gen.listOfN(n, for {
      a <- Gen.chooseNum(0L, 15L)
      b <- Gen.chooseNum(0L, 15L) if a != b
    } yield (a, b))
  } yield edges

  property("minLabel equals the union-find reference under any split") =
    Prop.forAll(genEdges, Gen.chooseNum(1, 4)) { (edges, parts) =>
      Prop.propBoolean(edges.nonEmpty && parts >= 1) ==> {
        import spark.implicits._
        val df = edges.toDF("id_a", "id_b").repartition(parts)
        val got = Components.minLabel(df)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        // plain union-find
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val roots = verts.map(v => v -> find(v)).toMap
        val minOf = verts.groupBy(roots).map { case (r, vs) => r -> vs.min }
        val want = verts.map(v => v -> minOf(roots(v))).toMap
        got == want
      }
    }
}
