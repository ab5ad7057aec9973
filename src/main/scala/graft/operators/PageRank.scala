package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** PageRank in pure integer arithmetic (Page et al. 1999, with scores as
  * fixed-point integers): score(v) ← (S·15) div 100 + (85·Σ_{u→v}
  * (score(u) div deg(u))) div 100, where S is the fixed-point scale.
  * Every operation is an integer floor-division or sum — no float
  * anywhere — so any engine replays the iteration bit-identically and a
  * fixed iteration count is a well-defined, oracle-checkable result
  * (float PageRank differs in the last ulps across engines and
  * summation orders; integer PageRank cannot).
  *
  * 100 TB shape: the edge list (pre-joined with out-degrees, hash-
  * partitioned on `src` and checkpointed once) is the only corpus-sized
  * state; each iteration is ONE shuffle — messages grouped by
  * destination, map-side-combined; the scores side co-partitions onto
  * the pinned `src` layout, so the edge list never re-exchanges. There
  * is NO per-round node-spine join: every aggregation key is a node
  * with in-edges, and nodes WITHOUT in-edges sit at the constant
  * teleport floor every round, so the full spine is just the union of
  * the round's aggregate with that precomputed constant slice. Every 4th
  * round's scores are pinned lazily (no blocking job per round) so the
  * logical plan stays flat; the FINAL round is checkpointed eagerly —
  * one action materializes the whole iteration — and every intermediate
  * pin (round spines, the edge list, the floor slice) is unpersisted
  * before returning ([[Checkpoints.fixedRounds]]), so repeated calls in
  * one session hold only the final node-spine-sized result, not
  * O(iters · |V|) of history.
  *
  * PRECONDITION (the NaN-precondition discipline of [[Stats]]): message
  * sums accumulate in DECIMAL(38,0) — safe to ~1e36 — but the damped
  * jump `(in_sum·85) div 100` lands back in a 64-bit score, so
  * max-in-degree·S must stay below ~1.08e19 (at the default S=1e12,
  * hubs up to ~10.8M in-edges). Beyond that the jump goes NULL rather
  * than wrapping, and the NULL propagates into a NULL score — loud
  * corruption, never a silently-wrong rank; shrink S for hubbier graphs.
  */
object PageRank {

  /** The round every variant shares, over the pinned edge list `ewd`
    * (`src`, `dst` and whatever `msg` and `carry` read): the message
    * `msg` of each edge's source score, summed per destination in
    * DECIMAL(38,0); the damped jump `teleport + (in_sum·85) div 100`;
    * then the constant `floor` slice of the nodes without in-edges.
    * `carry` columns are functionally dependent on `dst` and ride the
    * grouping so `teleport` may read them. An overflow NULL from the
    * damped jump propagates into a NULL score (a hub past the
    * precondition never silently ranks).
    *
    * Every 4th round pins, not every round: each lazy pin costs a full
    * Catalyst pass (~0.25 s driver, the boruvkaMsf lesson), which
    * DOMINATED the 3-round queries at bench scale (r17 profile: wall 2-3×
    * summed task time). A ≤4-deep unpinned join-agg chain plans once and
    * keeps carried stats ≤ 2^4 factors. `ewd`, `floor` and `extraPins`
    * release once the final round is materialized.
    */
  private def rankRounds(
      ewd: DataFrame,
      floor: DataFrame,
      init: DataFrame,
      iters: Int,
      msg: Column,
      teleport: Column,
      carry: Seq[Column] = Nil,
      extraPins: Seq[DataFrame] = Nil): DataFrame =
    Checkpoints.fixedRounds(init, iters, every = 4, Seq(ewd, floor) ++ extraPins) { scores =>
      ewd.join(scores, col("src") === col("id"))
        .select((col("dst").as("to") +: carry :+ msg.as("c")): _*)
        .groupBy((col("to") +: carry): _*)
        .agg(sum(col("c").cast(DecimalType(38, 0))).as("in_sum"))
        .select(col("to").as("id"), (teleport + expr("(in_sum * 85) div 100")).as("score"))
        .union(floor)
    }

  /** Nodes with in-edges — exactly the aggregation keys of every round —
    * and the rest of `srcs`' `src` ids, which never receive mass and sit
    * at their teleport term from round 1 on (a constant slice).
    */
  private def splitNodes(ewd: DataFrame, srcs: DataFrame): (DataFrame, DataFrame) = {
    val dstNodes = ewd.select(col("dst").as("id")).distinct()
    (dstNodes, srcs.select(col("src").as("id")).join(dstNodes, Seq("id"), "left_anti"))
  }

  /** Ranks after exactly `iters` rounds over the directed edge list
    * (`srcCol`, `dstCol`). Nodes = every endpoint; a node with no
    * out-edges contributes nothing (its mass evaporates — the standard
    * non-normalizing treatment); a node with no in-edges settles at the
    * teleport floor (S·15) div 100.
    */
  def integerPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 100, s"scale must be >= 100, got $scale")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // pin the message-side layout once: hash-partitioned on src, so the
    // per-round join only exchanges the (node-spine-sized) scores side
    val ewd = e.join(deg, Seq("src")).repartition(col("src"))
      .transform(Checkpoints.pin(_, eager = false))
    val teleport = (scale * 15L) / 100L
    val (dstNodes, floorNodes) = splitNodes(ewd, deg)
    val floorScores = floorNodes.select(col("id"), lit(teleport).as("score"))
      .transform(Checkpoints.pin(_, eager = false))
    rankRounds(ewd, floorScores,
      dstNodes.union(floorNodes).select(col("id"), lit(scale).as("score")),
      iters, expr("score div deg"), lit(teleport))
  }

  /** Weighted PageRank (the edge-weighted generalization in Xing &
    * Ghorbani 2004): mass leaves each node proportionally to edge
    * weight — message along (u→v, w) is `(score(u)·w) div W_u` with
    * `W_u = Σ out-weights of u` — instead of the uniform
    * `score div deg`. The natural form when edges carry multiplicity
    * (co-occurrence counts, link frequencies): collapsing a multigraph
    * to distinct edges and ranking unweighted throws that signal away.
    * Same integer determinism contract as [[integerPageRank]] (the
    * per-edge product runs in DECIMAL(38,0) before the floor-division,
    * so weight·score cannot silently wrap), same one-shuffle round
    * shape, same constant teleport floor for in-edge-less nodes, same
    * pin-release discipline. Weights must be >= 1.
    */
  def weightedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 100, s"scale must be >= 100, got $scale")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).as("w"))
    val wout = e.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    val ewd = e.join(wout, Seq("src")).repartition(col("src"))
      .transform(Checkpoints.pin(_, eager = false))
    val teleport = (scale * 15L) / 100L
    val (dstNodes, floorNodes) = splitNodes(ewd, wout)
    val floorScores = floorNodes.select(col("id"), lit(teleport).as("score"))
      .transform(Checkpoints.pin(_, eager = false))
    rankRounds(ewd, floorScores,
      dstNodes.union(floorNodes).select(col("id"), lit(scale).as("score")),
      iters, expr("(CAST(score AS DECIMAL(38,0)) * w) div wsum"), lit(teleport))
  }

  /** Personalized PageRank (Haveliwala 2002): identical fixed-point
    * integer iteration, but teleport mass lands ONLY on the seed set —
    * scores measure proximity to the seeds, the related-item /
    * recommendation primitive. Init: seeds at full scale, everything
    * else 0; per round: score(v) = (v∈seeds ? (S·15) div 100 : 0) +
    * (85·Σ msgs) div 100. Seed membership is a static property of the
    * NODE, not of the round, so the destination's per-node teleport term
    * `dst_tp` is folded into the pinned edge list ONCE (one broadcast
    * join at build time) and simply rides the per-round aggregation as
    * an extra grouping column functionally dependent on the key — each
    * round is then exactly [[integerPageRank]]'s shape: one shuffle,
    * zero joins or broadcasts beyond the co-partitioned score join.
    * A node with no in-edges is constant at its teleport term (seed
    * floor or hard 0), precomputed once.
    */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 100, s"scale must be >= 100, got $scale")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val teleport = (scale * 15L) / 100L
    val seedSet = seeds.select(col(seedCol).as("id"), lit(1L).as("__seed"))
      .distinct().transform(Checkpoints.pin(_, eager = false))
    def seedFlag(df: DataFrame): DataFrame =
      df.join(broadcast(seedSet), Seq("id"), "left")
    // the static per-destination teleport term, carried on the edge side
    val ewd = e.join(deg, Seq("src"))
      .join(broadcast(seedSet.withColumnRenamed("id", "dst")), Seq("dst"), "left")
      .select(col("src"), col("dst"), col("deg"),
        when(col("__seed").isNotNull, lit(teleport)).otherwise(lit(0L))
          .as("dst_tp"))
      .repartition(col("src"))
      .transform(Checkpoints.pin(_, eager = false))
    val (dstNodes, floorNodes) = splitNodes(ewd, deg)
    val floorScores = seedFlag(floorNodes)
      .select(col("id"),
        when(col("__seed").isNotNull, lit(teleport)).otherwise(lit(0L))
          .as("score"))
      .transform(Checkpoints.pin(_, eager = false))
    rankRounds(ewd, floorScores,
      seedFlag(dstNodes.union(floorNodes)).select(col("id"),
        when(col("__seed").isNotNull, lit(scale)).otherwise(lit(0L)).as("score")),
      iters, expr("score div deg"), col("dst_tp"),
      carry = Seq(col("dst_tp")), extraPins = Seq(seedSet))
  }
}
