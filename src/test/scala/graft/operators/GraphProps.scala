package graft.operators

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.SparkSession

/** Property tests for the round-9 community/link operators against naive
  * plain-Scala references on arbitrary small random graphs:
  * [[Graphs.labelPropRounds]] must equal a direct synchronous
  * label-propagation simulation (most-frequent neighbor label, min-label
  * tie-break, everyone updates at once), and [[Graphs.linkPredict]] must
  * equal the cubic common-neighbor scan (non-adjacent pairs only, exact
  * cn/union witnesses). Random multigraph input with self-loops and
  * duplicate/reversed edges exercises the symmetrize/dedup preamble.
  */
object GraphProps extends Properties("GraphOps") {

  private lazy val spark: SparkSession = graft.TestSpark.spark

  private val genGraph: Gen[Seq[(Long, Long)]] = for {
    nNodes <- Gen.chooseNum(2, 8)
    nEdges <- Gen.chooseNum(1, 14)
    edges <- Gen.listOfN(nEdges, for {
      a <- Gen.chooseNum(0, nNodes - 1)
      b <- Gen.chooseNum(0, nNodes - 1)
    } yield (a.toLong, b.toLong))
  } yield edges

  /** Symmetrized simple adjacency (no self-loops) — the preamble both
    * operators apply.
    */
  private def adj(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] = {
    val sym = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    sym.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
  }

  private def naiveLabelProp(
      edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val a = adj(edges)
    var labels = a.keys.map(id => id -> id).toMap
    for (_ <- 1 to rounds) {
      labels = a.map { case (id, nbrs) =>
        val counts = nbrs.toSeq.map(labels).groupBy(identity)
          .map { case (l, occ) => (l, occ.size) }
        // most frequent, then smallest label
        val best = counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        id -> best
      }
    }
    labels
  }

  property("labelPropRounds equals the synchronous reference") =
    Prop.forAll(genGraph, Gen.chooseNum(1, 3)) { (edges, rounds) =>
      import spark.implicits._
      val hasEdges = edges.exists(e => e._1 != e._2)
      !hasEdges || {
        val df = edges.toDF("id_a", "id_b")
        val got = Graphs.labelPropRounds(df, "id_a", "id_b", rounds)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == naiveLabelProp(edges, rounds)
      }
    }

  private def naiveLinkPredict(
      edges: Seq[(Long, Long)], minCommon: Int)
      : Set[(Long, Long, Long, Long)] = {
    val a = adj(edges)
    val ids = a.keys.toSeq.sorted
    (for {
      u <- ids; v <- ids if u < v
      if !a(u).contains(v) // non-adjacent only
      cn = (a(u) intersect a(v)).size.toLong if cn >= minCommon
    } yield (u, v, cn, (a(u) union a(v)).size.toLong)).toSet
  }

  property("linkPredict equals the cubic common-neighbor reference") =
    Prop.forAll(genGraph, Gen.chooseNum(1, 2)) { (edges, minCommon) =>
      import spark.implicits._
      val hasEdges = edges.exists(e => e._1 != e._2)
      !hasEdges || {
        val df = edges.toDF("id_a", "id_b")
        val got = Graphs.linkPredict(df, "id_a", "id_b", minCommon)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        got == naiveLinkPredict(edges, minCommon)
      }
    }

  /** Directed walk counting by brute-force enumeration: pₖ(v) = number
    * of length-k directed walks ending at v over the multigraph
    * (parallel edges count as parallel walks — katzRounds' stated
    * semantics), score = Σ alphaDenom^(K−k)·pₖ.
    */
  private def naiveKatz(
      edges: Seq[(Long, Long)], rounds: Int, alphaDenom: Long)
      : Map[Long, BigInt] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var p: Map[Long, BigInt] = nodes.map(_ -> BigInt(1)).toMap
    var score: Map[Long, BigInt] =
      nodes.map(_ -> BigInt(alphaDenom).pow(rounds)).toMap
    for (k <- 1 to rounds) {
      val next = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => p.getOrElse(e._1, BigInt(0))).sum
      }
      p = nodes.map(v => v -> next.getOrElse(v, BigInt(0))).toMap
      val w = BigInt(alphaDenom).pow(rounds - k)
      score = nodes.map(v => v -> (score(v) + p(v) * w)).toMap
    }
    score
  }

  /** Naive BFS with path counts from one seed: (node -> (hop, sigma))
    * by level expansion over the DIRECTED edge list (multi-edges count
    * as parallel paths — pathCounts' multigraph semantics mirrors
    * katzRounds').
    */
  private def naiveSigma(
      edges: Seq[(Long, Long)], seed: Long, maxHops: Int)
      : Map[Long, (Int, BigInt)] = {
    val out = edges.distinct.groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    var level: Map[Long, BigInt] = Map(seed -> BigInt(1))
    var done: Map[Long, (Int, BigInt)] = Map(seed -> (0, BigInt(1)))
    for (h <- 1 to maxHops if level.nonEmpty) {
      val nxt = scala.collection.mutable.Map.empty[Long, BigInt]
      for ((u, s) <- level; v <- out.getOrElse(u, Nil) if !done.contains(v))
        nxt(v) = nxt.getOrElse(v, BigInt(0)) + s
      done ++= nxt.map { case (v, s) => v -> (h, s) }
      level = nxt.toMap
    }
    done
  }

  property("pathCounts equals the naive level-expansion sigma") =
    Prop.forAll(genGraph, Gen.chooseNum(1, 4)) { (edges, maxHops) =>
      import spark.implicits._
      edges.isEmpty || {
        // dedup edges: pathCounts applies distinct() to the edge list
        val df = edges.toDF("src", "dst")
        val seedIds = edges.map(_._1).distinct.take(2)
        val seeds = seedIds.toDF("id")
        val got = Graphs.pathCounts(df, "src", "dst", seeds, "id", maxHops)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) ->
            (r.getInt(2), BigInt(r.getDecimal(3).toBigInteger)))
          .toMap
        val want = seedIds.flatMap { s =>
          naiveSigma(edges, s, maxHops).map { case (v, hs) => (s, v) -> hs }
        }.toMap
        got == want
      }
    }

  property("katzRounds equals brute-force walk counting") =
    Prop.forAll(genGraph, Gen.chooseNum(1, 3)) { (edges, rounds) =>
      import spark.implicits._
      edges.isEmpty || {
        val df = edges.toDF("src", "dst")
        val got = Graphs.katzRounds(df, "src", "dst", rounds)
          .collect()
          .map(r => r.getLong(0) -> BigInt(r.getLong(1))).toMap
        got == naiveKatz(edges, rounds, 4L)
      }
    }
}
