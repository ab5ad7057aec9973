package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  /** Every message in `t`'s cause chain: a task's failure reaches the
    * driver wrapped in a job-abort exception.
    */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  // a directed path 1→2→3→4→5 plus a detour 1→3 (shortcut) and an
  // unreachable island 9→10
  private def pathEdges = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 3L), (9L, 10L)
  ).toDF("src", "dst")

  test("bfsHops: min-hop wins over a longer path; unreachable absent") {
    val seeds = Seq(1L).toDF("id")
    val out = Graphs.bfsHops(pathEdges, "src", "dst", seeds, "id", maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 3 is 1 hop via the shortcut, not 2 via the path
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
  }

  test("bfsHops: the cap truncates and seeds always report hop 0") {
    val seeds = Seq(1L, 9L).toDF("id")
    val out = Graphs.bfsHops(pathEdges, "src", "dst", seeds, "id", maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 9L -> 0, 2L -> 1, 3L -> 1, 10L -> 1))
    // maxHops = 0: exactly the seed set
    val just = Graphs.bfsHops(pathEdges, "src", "dst", seeds, "id", maxHops = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(just == Map(1L -> 0, 9L -> 0))
  }

  test("bfsHops: multi-source takes the nearest seed") {
    val seeds = Seq(1L, 4L).toDF("id")
    val out = Graphs.bfsHops(pathEdges, "src", "dst", seeds, "id", maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(5L) == 1) // via seed 4, not 4 hops via seed 1
    assert(out(3L) == 1)
  }

  test("kcoreRounds peels a pendant chain off a triangle") {
    // triangle {1,2,3} (2-core) with a pendant path 3-4-5
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    // round 1 drops 5 (deg 1); round 2 drops 4 (deg fell to 1);
    // round 3 confirms the triangle stable at deg 2
    val out = Graphs.kcoreRounds(pairs, "id_a", "id_b", k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2, 2L -> 2, 3L -> 2))
  }

  test("kcoreRounds honors the FIXED round count (not converged-to-fixpoint)") {
    // chain 1-2-3-4-5 at k=2: each round peels both endpoints; after
    // round 1 survivors {2,3,4}, after round 2 {3}, whose degree is then 0
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val r1 = Graphs.kcoreRounds(chain, "id_a", "id_b", k = 2, rounds = 1)
      .collect().map(r => r.getLong(0)).toSet
    assert(r1 == Set(2L, 3L, 4L))
    val r2 = Graphs.kcoreRounds(chain, "id_a", "id_b", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0)).toSet
    assert(r2.isEmpty) // 3 survives the degree cut but keeps no edges
  }

  test("trussRounds keeps the K4 and peels the pendant triangle") {
    // K4 on {1,2,3,4} (each edge sits in 2 triangles) plus a triangle
    // {4,5,6} whose edges have support 1: at k=4 (support >= 2) round 1
    // drops the pendant triangle; K4 survives with support recomputed 2
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Graphs.trussRounds(pairs, "id_a", "id_b", k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    assert(out.values.forall(_ == 2L))
  }

  test("trussRounds honors the fixed round count on a cascading peel") {
    // two triangles sharing edge (2,3), plus pendant edge: at k=4,
    // round 1 keeps only (2,3) (support 2) — which then has support 0.
    // rounds=1 emits (2,3) with recomputed support 0; rounds=2 drops it.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("id_a", "id_b")
    val r1 = Graphs.trussRounds(pairs, "id_a", "id_b", k = 4, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(r1 === Map((2L, 3L) -> 0L))
    val r2 = Graphs.trussRounds(pairs, "id_a", "id_b", k = 4, rounds = 2)
      .collect()
    assert(r2.isEmpty)
  }

  test("joinCounts censuses BB/BW/WW and the free-sampling ratios") {
    // 4 nodes, black = {1,2}; edges (1,2)=BB, (1,3)=BW, (3,4)=WW
    val pairs = Seq((1L, 2L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val nodes = Seq((1L, true), (2L, true), (3L, false), (4L, false))
      .toDF("id", "f")
    val r = Graphs.joinCounts(pairs, "id_a", "id_b", nodes, "id", "f")
      .collect().head
    assert((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_black")) === ((4L, 2L)))
    assert((r.getAs[Long]("bb"), r.getAs[Long]("bw"), r.getAs[Long]("ww")) ===
      ((1L, 1L, 1L)))
    // E[BB] = 3·2·1/(4·3) = 1/2 → ratio 2000; E[BW] = 3·2·2·2/12 = 2 →
    // ratio 500; E[WW] = E[BB] → 2000
    assert(r.getAs[Long]("bb_ratio_pm") === 2000L)
    assert(r.getAs[Long]("bw_ratio_pm") === 500L)
    assert(r.getAs[Long]("ww_ratio_pm") === 2000L)
  }

  test("bellmanFordRounds relaxes the cheaper two-hop path over the direct edge") {
    // 1→2 (5), 2→3 (5), 1→3 (20): direct is pricier than the detour
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 20L), (9L, 10L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    val r1 = Graphs.bellmanFordRounds(edges, "src", "dst", "w", seeds, "id", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 0L, 2L -> 5L, 3L -> 20L)) // 1 round: direct only
    val r2 = Graphs.bellmanFordRounds(edges, "src", "dst", "w", seeds, "id", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 0L, 2L -> 5L, 3L -> 10L)) // detour wins; island absent
  }

  test("bellmanFordRounds fails on a negative or non-integral weight") {
    val seeds = Seq(1L).toDF("id")
    val negative = Seq((1L, 2L, 5L), (2L, 3L, -1L)).toDF("src", "dst", "w")
    val err = intercept[Exception] {
      Graphs.bellmanFordRounds(negative, "src", "dst", "w", seeds, "id", 2).collect()
    }
    assert(messages(err).contains("bellmanFordRounds: negative edge weight"), messages(err))
    val fractional = Seq((1L, 2L, 0.5)).toDF("src", "dst", "w")
    val typeErr = intercept[IllegalArgumentException] {
      Graphs.bellmanFordRounds(fractional, "src", "dst", "w", seeds, "id", 2)
    }
    assert(typeErr.getMessage.contains("bellmanFordRounds needs integral weights, " +
      "got List(DoubleType) — the RDD loop carries them as Long"), typeErr.getMessage)
  }

  test("bellmanFordRounds drops null seeds, ids and weights") {
    val edges = Seq[(Option[Long], Option[Long], Option[Long])](
      (Some(1L), Some(2L), Some(5L)), (Some(2L), Some(3L), Some(5L)),
      (Some(1L), Some(3L), Some(20L)), (Some(2L), None, Some(1L)),
      (Some(1L), Some(4L), None), (None, Some(5L), Some(1L))).toDF("src", "dst", "w")
    val seeds = Seq(Some(1L), None).toDF("id")
    val out = Graphs.bellmanFordRounds(edges, "src", "dst", "w", seeds, "id", 2).collect()
    assert(out.forall(r => !r.isNullAt(0) && !r.isNullAt(1)), out.mkString(", "))
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
  }

  test("katzRounds and bellmanFordRounds keep INT ids INT and emit BIGINT") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val edges = Seq((1, 2, 5), (2, 3, 5)).toDF("src", "dst", "w")
    val katz = Graphs.katzRounds(edges, "src", "dst", rounds = 2)
    assert(katz.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> IntegerType, "katz_num" -> LongType))
    // alphaDenom 4, K = 2: 16 per node, + 4 per in-walk of length 1, + 1 per length 2
    assert(katz.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(1 -> 16L, 2 -> 20L, 3 -> 21L))
    val bf = Graphs.bellmanFordRounds(edges, "src", "dst", "w", Seq(1).toDF("id"), "id", 2)
    assert(bf.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> IntegerType, "dist" -> LongType))
    assert(bf.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(1 -> 0L, 2 -> 5L, 3 -> 10L))
  }

  test("katzRounds fails loudly when only the accumulated sum exceeds BIGINT") {
    // a² fits in BIGINT with 5,928,526,806 to spare: one in-edge adds
    // a = 3,037,000,499 and still fits, two add 2a and overflow
    val a = 3037000499L
    val one = Graphs.katzRounds(Seq((1L, 3L)).toDF("src", "dst"), "src", "dst",
        rounds = 2, alphaDenom = a)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> a * a, 3L -> (a * a + a)))
    val two = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val err = intercept[Exception] {
      Graphs.katzRounds(two, "src", "dst", rounds = 2, alphaDenom = a).collect()
    }
    assert(messages(err).contains("katzRounds: walk-count sum exceeds BIGINT"), messages(err))
  }

  test("katzRounds fails loudly when alphaDenom^rounds exceeds BIGINT") {
    // 2^64 wraps to 0 through BigInt.toLong; it must raise instead
    val err = intercept[Exception] {
      Graphs.katzRounds(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst",
        rounds = 2, alphaDenom = 1L << 32).collect()
    }
    assert(messages(err).contains("katzRounds: walk-count sum exceeds BIGINT"), messages(err))
  }

  test("degreeStats profiles the path graph correctly") {
    // 1→2→3→4→5, shortcut 1→3, island 9→10, plus a mutual pair 4⇄5
    val edges = pathEdges.union(Seq((5L, 4L)).toDF("src", "dst"))
    val r = Graphs.degreeStats(edges, "src", "dst").collect().head
    assert(r.getLong(0) == 7)  // nodes 1..5, 9, 10
    assert(r.getLong(1) == 7)  // 6 path edges + the back edge
    assert(r.getLong(2) == 2)  // 4→5 and 5→4
    assert(r.getLong(3) == 2)  // node 1 out-degree
    assert(r.getLong(4) == 2)  // node 3 in-degree (from 2 and 1)
    assert(r.getLong(5) == 2)  // sources: 1 and 9
    assert(r.getLong(6) == 1)  // sinks: 10 (5 gained an out-edge)
  }

  test("hitsRounds matches the hand-computed integer power iteration") {
    // 1→3, 2→3, 2→4: node 2 links to both authorities (best hub),
    // node 3 is cited by both hubs (best authority)
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val out = Graphs.hitsRounds(edges, "src", "dst", rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // round 1: rawAuth 3←2S, 4←S → a=(S, S/2); rawHub 1←S, 2←1.5S
    //   → h=(666666, S)
    // round 2: rawAuth 3←1666666, 4←1000000 → a=(S, 600000);
    //   rawHub 1←S, 2←1600000 → h=(625000, S)
    assert(out == Map(
      1L -> ((625000L, 0L)),
      2L -> ((1000000L, 0L)),
      3L -> ((0L, 1000000L)),
      4L -> ((0L, 600000L))))
  }

  test("hitsRounds leaves no checkpoint pins behind") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    Graphs.hitsRounds(edges, "src", "dst", rounds = 2).collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1, s"pins leaked: $before -> $after")
  }

  test("kcoreRounds leaves no checkpoint pins behind") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Graphs.kcoreRounds(pairs, "id_a", "id_b", k = 2, rounds = 2)
    out.collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the final round's eager checkpoint may remain
    assert(after <= before + 1, s"pins leaked: $before -> $after")
  }

  test("labelPropRounds: one round adopts the min neighbor id on a path") {
    // path 1-2-3: all neighbor multisets are distinct singletons/pairs,
    // so round 1 is pure min-neighbor-id adoption
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Graphs.labelPropRounds(pairs, "id_a", "id_b", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2, 2L -> 1, 3L -> 2))
  }

  test("labelPropRounds: majority beats the smaller label") {
    // star: node 9 has neighbors {1, 7, 7'}… model with a triangle of
    // 7s: neighbors of 9 are 1, 7, 8 after round 1 all carrying label 7
    // simpler direct case — node 5 adjacent to 1, 7, 8 where 7 and 8
    // are mutually adjacent to 7's label after symmetrization:
    // round 1: labels become min-neighbor; craft counts directly
    // clique {7,8,9} + pendant 5-7, 5-8, 5-1, 1 isolated-ish via 5
    val pairs = Seq(
      (7L, 8L), (8L, 9L), (7L, 9L), // clique
      (5L, 7L), (5L, 8L), (5L, 1L), // 5 sees clique twice + 1 once
      (1L, 5L)
    ).toDF("id_a", "id_b")
    // round 1: N(5) = {1, 7, 8} labels {1, 7, 8} → tie, min = 1
    // round 2: labels after r1: 1→5, 7→5? N(7)={5,8,9} → min 5 …
    // assert just the synchronous determinism of two runs instead of a
    // hand trace for every node, plus the majority case for node 9:
    // N(9) = {7, 8} → round 1 tie min(7,8) = 7
    val r1 = Graphs.labelPropRounds(pairs, "id_a", "id_b", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(9L) == 7L) // tie toward smaller label
    assert(r1(5L) == 1L)
    // round 2 from r1 state: N(5) labels = {l1(1), l1(7), l1(8)} =
    // {5, 5, 5} → majority 5 (prove the COUNT path, not just ties)
    val r2 = Graphs.labelPropRounds(pairs, "id_a", "id_b", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2(5L) == 5L)
  }

  test("labelPropRounds is deterministic across runs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("id_a", "id_b")
    val a = Graphs.labelPropRounds(pairs, "id_a", "id_b", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Graphs.labelPropRounds(pairs, "id_a", "id_b", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("every round-loop operator leaves at most its result pinned") {
    val edges = pathEdges
    val weighted = Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 20L), (3L, 4L, 2L),
      (4L, 5L, 1L), (9L, 10L, 1L)).toDF("src", "dst", "w")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (2L, 4L))
      .toDF("id_a", "id_b")
    val seeds = Seq(1L, 9L).toDF("id")
    // 5 rounds: PageRank pins lazily at round 4 and eagerly at round 5
    val operators: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "integerPageRank" -> (() => PageRank.integerPageRank(edges, "src", "dst", iters = 5)),
      "weightedPageRank" -> (() =>
        PageRank.weightedPageRank(weighted, "src", "dst", "w", iters = 5)),
      "personalizedPageRank" -> (() =>
        PageRank.personalizedPageRank(edges, "src", "dst", seeds, "id", iters = 5)),
      "bellmanFordRounds" -> (() =>
        Graphs.bellmanFordRounds(weighted, "src", "dst", "w", seeds, "id", 3)),
      "katzRounds" -> (() => Graphs.katzRounds(edges, "src", "dst", rounds = 3)),
      "trussRounds" -> (() => Graphs.trussRounds(pairs, "id_a", "id_b", k = 3, rounds = 2)),
      "kcoreRounds" -> (() => Graphs.kcoreRounds(pairs, "id_a", "id_b", k = 2, rounds = 2)),
      "labelPropRounds" -> (() => Graphs.labelPropRounds(pairs, "id_a", "id_b", rounds = 3)),
      "hitsRounds" -> (() => Graphs.hitsRounds(edges, "src", "dst", rounds = 2)),
      "minLabel" -> (() => Components.minLabel(pairs)),
      "bfsHops" -> (() => Graphs.bfsHops(edges, "src", "dst", seeds, "id", maxHops = 3)),
      "multiSourceBfs" -> (() =>
        Graphs.multiSourceBfs(edges, "src", "dst", seeds, "id", maxHops = 3)),
      "pathCounts" -> (() => Graphs.pathCounts(edges, "src", "dst", seeds, "id", maxHops = 3)),
      "boruvkaMsf" -> (() => Graphs.boruvkaMsf(weighted, "src", "dst", "w")))
    for ((name, run) <- operators) {
      val before = spark.sparkContext.getPersistentRDDs.size
      assert(run().collect().nonEmpty, name)
      val after = spark.sparkContext.getPersistentRDDs.size
      // only the final eager checkpoint may remain
      assert(after <= before + 1, s"$name leaked pins: $before -> $after")
    }
  }

  test("linkPredict finds the open wedge pair with exact witnesses") {
    // path 1-2-3 plus 2-4: non-adjacent pairs through 2: (1,3), (1,4),
    // (3,4) each share exactly the neighbor 2
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("id_a", "id_b")
    val out = Graphs.linkPredict(pairs, "id_a", "id_b", minCommon = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // deg: 1→1, 2→3, 3→1, 4→1; each candidate pair: cn=1, uni=1+1−1=1
    assert(out.keySet == Set((1L, 3L), (1L, 4L), (3L, 4L)))
    assert(out((1L, 3L)) == ((1L, 1L, 1.0)))
  }

  test("linkPredict excludes adjacent pairs and honors minCommon") {
    // square 1-2-3-4-1 with diagonal 1-3: (2,4) share {1,3} → cn 2;
    // (1,3) are ADJACENT → excluded despite cn 2
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("id_a", "id_b")
    val out = Graphs.linkPredict(pairs, "id_a", "id_b", minCommon = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // deg: 1→3, 2→2, 3→3, 4→2; (2,4): cn=2, uni=2+2−2=2, jaccard 1.0
    assert(out == Map((2L, 4L) -> ((2L, 2L, 1.0))))
  }

  test("localClustering: triangle with a pendant, hand-checked lcc") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val out = Graphs.localClustering(pairs).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("n_tri"), r.getAs[Long]("lcc_pm")))
      .toMap
    assert(out(1L) === ((2L, 1L, 1000L)))
    assert(out(2L) === ((2L, 1L, 1000L)))
    assert(out(3L) === ((3L, 1L, 333L))) // 2000 div 6
    assert(out(4L) === ((1L, 0L, 0L)))   // degree < 2 -> defined 0
  }

  test("assortativity: a star is perfectly disassortative") {
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val r = Graphs.assortativity(star).collect().head
    assert(r.getAs[Long]("n_ends") === 6L)
    assert(math.abs(r.getAs[Double]("assortativity") + 1.0) < 1e-12)
  }

  test("harmonicCentrality: hand-computed path graph, multi-seed, hop cap") {
    import spark.implicits._
    // undirected path 1-2-3-4 (+ isolated 9)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 3L, 9L).toDF("id")
    val out = Graphs.harmonicCentrality(edges, "src", "dst", seeds, "id", maxHops = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // seed 1: d = 1,2,3 -> 2520 + 1260 + 840 = 4620
    assert(out(1L) === ((3L, 4620L)))
    // seed 3: d(2)=1, d(4)=1, d(1)=2 -> 2520+2520+1260 = 6300
    assert(out(3L) === ((3L, 6300L)))
    // isolated seed reaches nothing -> absent (contributes no row)
    assert(!out.contains(9L))
    // hop cap: maxHops = 1 sees only direct neighbors
    val capped = Graphs.harmonicCentrality(edges, "src", "dst", seeds, "id", maxHops = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(capped(1L) === ((1L, 2520L)))
    assert(capped(3L) === ((2L, 5040L)))
  }
}
