package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, StructField, StructType}

/** Graph primitives beyond ranking ([[PageRank]]) and clustering
  * ([[Components]]): BFS hops and path counts, shortest paths, Katz,
  * k-core and truss peeling, label propagation, the minimum spanning
  * forest and structural censuses. The iterative ones are pure integer
  * computations with a fixed round count, so any engine replays them
  * bit-identically — the [[PageRank]] determinism discipline.
  *
  * 100 TB shape: the edge list is set up once, hash-partitioned on
  * `src`, and every round shuffles node-spine-sized data only. Loops
  * whose rounds are pure (key, value) joins run at the RDD layer over
  * [[Checkpoints.withWeightedEdgeRdd]]; the rest pin their rounds
  * through [[Checkpoints.fixedRounds]].
  */
object Graphs {

  /** The seed ids of the RDD-layer loops (the BFS family, Bellman-Ford),
    * nulls dropped. These loops run below Catalyst (r18): the DataFrame
    * rendering paid a full Catalyst pass + AQE stages PER lazy round-pin
    * (~40-50 jobs on q_ecc_pivots); RDD self-joins plan nothing, and the
    * whole chain materializes in ONE action.
    */
  private def seedIds(seeds: DataFrame, seedCol: String): RDD[Long] =
    seeds.select(col(seedCol).cast("long")).rdd
      .flatMap(r => if (r.isNullAt(0)) Iterator.empty else Iterator(r.getLong(0)))

  /** Minimum hop count from any seed, following directed edges, capped
    * at `maxHops`: `(id, hop)` for every node reachable in <= maxHops
    * hops (seeds themselves at hop 0; unreachable nodes absent).
    * Exactly `maxHops` rounds run — once a frontier empties the
    * remaining rounds are empty-frame no-ops, cheaper than the
    * per-round driver job an early-exit count costs (r17, measured).
    * Each round: one join of the pinned edge list against the frontier
    * (frontier ids only), one distinct, one anti-join against the
    * settled set — all node-spine-sized shuffles. Ids must be integral.
    */
  def bfsHops(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val outType = Checkpoints.idType("bfsHops", "ids", Seq(edges.schema(srcCol).dataType,
      edges.schema(dstCol).dataType, seeds.schema(seedCol).dataType))
    Checkpoints.withEdgeRdd(edges, srcCol, dstCol) { (e, part) =>
      val seed0 = seedIds(seeds, seedCol).map(s => (s, 0))
        .reduceByKey(part, (a, _) => a) // distinct, co-partitioned with e
      var dist = seed0
      var frontier = seed0
      // blind fixed rounds (r17): an emptied frontier makes every later
      // round an empty no-op, so running the cap blind is
      // result-identical — callers bound maxHops (3-6). first-visit-wins
      // IS min-hop: a node enters `dist` in the round of its shortest
      // path and the subtract blocks every later visit. Every per-round
      // op is co-partitioned on `part` (narrow), so each hop costs ONE
      // shuffle (the dst re-key) and ZERO driver jobs.
      for (h <- 1 to maxHops) {
        val nxt = e.join(frontier, part)
          .map { case (_, (dst, _)) => (dst, h) }
          .reduceByKey(part, (a, _) => a)
          .subtractByKey(dist, part)
        dist = dist.union(nxt) // partitioner-aware union: same partitioner
        frontier = nxt
      }
      Checkpoints.pinRows(edges.sparkSession, dist.map { case (v, h) => Row(v, h) },
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("hop", IntegerType, nullable = false))),
        Map("id" -> outType))
    }
  }

  /** Multi-source labeled BFS: min-hop distances (seed, id, hop) from
    * EVERY seed simultaneously — one shared frontier loop instead of
    * |seeds| sequential [[bfsHops]] runs, so the edge scan per round is
    * paid once however many sources there are. State is (seed, id)
    * pairs, bounded by |seeds|·|reachable| — callers bound the seed
    * set (a probe cohort, not the corpus). Same first-visit-wins
    * anti-join and bounded-rounds discipline as [[bfsHops]].
    */
  def multiSourceBfs(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val outType = Checkpoints.idType("multiSourceBfs", "ids", Seq(edges.schema(srcCol).dataType,
      edges.schema(dstCol).dataType, seeds.schema(seedCol).dataType))
    Checkpoints.withEdgeRdd(edges, srcCol, dstCol) { (e, part) =>
      // state is (seed, id)-keyed; its own partitioner of the same width
      val pairPart = new HashPartitioner(part.numPartitions)
      val seed0 = seedIds(seeds, seedCol).map(s => ((s, s), 0))
        .reduceByKey(pairPart, (a, _) => a) // distinct seeds at hop 0
      var dist = seed0
      // frontier keyed by vertex for the edge join: (id, seed)
      var frontier = seed0.map { case ((seed, id), _) => (id, seed) }
        .partitionBy(part)
      // blind fixed rounds, RDD layer — see bfsHops. Per round: one
      // (seed,dst) re-key shuffle + one frontier-by-vertex re-key; the
      // edge join and the subtract are narrow (co-partitioned).
      for (h <- 1 to maxHops) {
        val nxt = e.join(frontier, part)
          .map { case (_, (dst, seed)) => ((seed, dst), h) }
          .reduceByKey(pairPart, (a, _) => a)
          .subtractByKey(dist, pairPart)
        dist = dist.union(nxt)
        frontier = nxt.map { case ((seed, id), _) => (id, seed) }
          .partitionBy(part)
      }
      Checkpoints.pinRows(edges.sparkSession,
        dist.map { case ((s0, v), h) => Row(s0, v, h) },
        StructType(Seq(StructField("seed", LongType, nullable = false),
          StructField("id", LongType, nullable = false),
          StructField("hop", IntegerType, nullable = false))),
        Map("seed" -> outType, "id" -> outType))
    }
  }

  /** Multi-source BFS with SHORTEST-PATH COUNTS — the σ half of
    * Brandes' betweenness: for every seed s and reached node v,
    * `(seed, id, hop, sigma)` where hop = d(s, v) and sigma = the
    * number of distinct shortest s→v paths. Counting rides the same
    * first-visit-wins frontier loop as [[multiSourceBfs]]: a node
    * entering at hop h takes σ = Σ σ(u) over ALL its hop-(h−1)
    * predecessors (the frontier-join groupBy sums them in one pass),
    * and the anti-join blocks every longer path. σ is combinatorial —
    * it multiplies along dense layers — so it rides DECIMAL(38,0) and
    * RAISES loudly past 10³⁶ (a silent wrap would corrupt every
    * downstream ratio); the caller bounds seeds and maxHops.
    */
  def pathCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val outType = Checkpoints.idType("pathCounts", "ids", Seq(edges.schema(srcCol).dataType,
      edges.schema(dstCol).dataType, seeds.schema(seedCol).dataType))
    // σ rides BigInt at the RDD layer — integer-exact like the
    // DECIMAL(38,0) sums it replaces (a DECIMAL sum of integers IS the
    // integer sum while under 38 digits, and the 10^36 cap below
    // raises loudly well before that), so the emitted DECIMAL(38,0)
    // column is bit-identical to the DataFrame rendering's
    val sigmaCap = BigInt("9" * 36)
    Checkpoints.withEdgeRdd(edges, srcCol, dstCol) { (e, part) =>
      val pairPart = new HashPartitioner(part.numPartitions)
      val seed0 = seedIds(seeds, seedCol).map(s => ((s, s), (0, BigInt(1))))
        .reduceByKey(pairPart, (a, _) => a)
      var dist = seed0
      // frontier keyed by vertex: (id, (seed, sigma))
      var frontier = seed0.map { case ((seed, id), (_, sig)) => (id, (seed, sig)) }
        .partitionBy(part)
      // blind fixed rounds, RDD layer — see bfsHops. A node entering at
      // hop h takes σ = Σ σ(u) over ALL its hop-(h−1) predecessors (the
      // reduceByKey sums them map-side); the subtract blocks every
      // longer path.
      for (h <- 1 to maxHops) {
        val nxt = e.join(frontier, part)
          .map { case (_, (dst, (seed, sig))) => ((seed, dst), sig) }
          .reduceByKey(pairPart, (a: BigInt, b: BigInt) => a + b)
          .subtractByKey(dist, pairPart)
          .mapValues { sig =>
            if (sig > sigmaCap) throw new IllegalStateException(
              "pathCounts: sigma exceeds the 10^36 DECIMAL envelope — " +
                "bound seeds/maxHops")
            (h, sig)
          }
        dist = dist.union(nxt)
        frontier = nxt.map { case ((seed, id), (_, sig)) => (id, (seed, sig)) }
          .partitionBy(part)
      }
      Checkpoints.pinRows(edges.sparkSession,
        dist.map { case ((s0, v), (h, sig)) =>
          Row(s0, v, h, new java.math.BigDecimal(sig.bigInteger))
        },
        StructType(Seq(StructField("seed", LongType, nullable = false),
          StructField("id", LongType, nullable = false),
          StructField("hop", IntegerType, nullable = false),
          StructField("sigma", DecimalType(38, 0), nullable = true))),
        Map("seed" -> outType, "id" -> outType))
    }
  }

  /** Pivot betweenness (Brandes & Pich 2007, "Centrality estimation in
    * large networks"): betweenness restricted to shortest paths
    * BETWEEN pivot pairs — the standard bounded-cost estimator when
    * all-pairs Brandes is off the table. For every non-pivot node v
    * and unordered pivot pair (s, t) with d(s,v) + d(v,t) = d(s,t),
    * the pair contributes ⌊1000·σ_sv·σ_vt / σ_st⌋ (the fraction of
    * shortest s–t paths through v, per-mille, floored PER PAIR — a
    * deterministic rendering any engine replays); `bc_x1000` sums the
    * contributions and `n_pairs` counts them. σ_sv·σ_vt counts the
    * s→v→t shortest paths, a SUBSET of all shortest s–t paths, so
    * every contribution is ≤ 1000 and the arithmetic never leaves the
    * guarded σ envelope (per-side σ ≤ 10¹⁶ checked loudly before the
    * product). Assumes an UNDIRECTED (symmetrized) edge list — pairs
    * dedup by s < t, which needs d(s,t) = d(t,s).
    *
    * Cost: one [[pathCounts]] run (pivots × reachable frontier
    * rounds), then joins of size |pivots|²·|V| — pivots are a stated
    * bounded cohort, never the corpus.
    */
  def pivotBetweenness(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      pivots: DataFrame,
      pivotCol: String,
      maxHops: Int): DataFrame = {
    val dec = DecimalType(38, 0)
    val sideCap = lit(BigDecimal("1" + "0" * 16).bigDecimal).cast(dec)
    def guard(c: Column): Column =
      when(c > sideCap, raise_error(lit(
        "pivotBetweenness: sigma exceeds the 10^16 per-side product " +
          "envelope — bound pivots/maxHops")).cast(dec)).otherwise(c)
    val pc = pathCounts(edges, srcCol, dstCol, pivots, pivotCol, maxHops)
    val pvt = pivots.select(col(pivotCol).as("__t")).distinct()
    val stPairs = pc.join(pvt, pc("id") === pvt("__t"))
      .filter(col("seed") < col("__t"))
      .select(col("seed").as("__s"), col("__t"),
        col("hop").as("__dst"), col("sigma").as("__sst"))
    val aSide = pc.select(col("seed").as("__s"), col("id").as("__v"),
      col("hop").as("__ha"), guard(col("sigma")).as("__sa"))
    val bSide = pc.select(col("seed").as("__t"), col("id").as("__v"),
      col("hop").as("__hb"), guard(col("sigma")).as("__sb"))
    stPairs.join(aSide, Seq("__s"))
      .join(bSide, Seq("__t", "__v"))
      .filter(col("__ha") + col("__hb") === col("__dst") &&
        col("__v") =!= col("__s") && col("__v") =!= col("__t"))
      .withColumn("__contrib",
        expr("(1000 * __sa * __sb) div __sst").cast("long"))
      .groupBy(col("__v").as("id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__contrib")).as("bc_x1000"))
  }

  /** Harmonic centrality of a bounded seed cohort within `maxHops`:
    * H(s) = Σ_{v reached, v ≠ s} 1/d(s, v), the closeness variant that
    * handles disconnection gracefully (unreached nodes contribute 0,
    * no infinite-distance special case — Boldi & Vigna 2014). EXACT:
    * every reciprocal is `2520 div hop` (2520 = lcm(1..10), so hops
    * ≤ 10 lose nothing) — `harm_x2520` is an integer both engines
    * replay. One [[multiSourceBfs]] + one aggregate.
    */
  def harmonicCentrality(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 10,
      s"maxHops must be in [1, 10] for the exact 2520 rendering, got $maxHops")
    multiSourceBfs(edges, srcCol, dstCol, seeds, seedCol, maxHops)
      .filter(col("hop") > 0)
      .groupBy(col("seed").as("id"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("2520 div hop")).as("harm_x2520"))
  }

  /** One-row structural profile of a directed graph — the census a
    * link-graph pipeline runs before committing to PageRank/HITS
    * parameters: node/edge counts, reciprocity (edges whose reverse
    * exists — the spam-ring / mutual-link signal), max in/out degree
    * (the hub precondition for [[PageRank]]'s overflow bound), and
    * source/sink counts (teleport-floor mass). All integer aggregates.
    *
    * Scale shape: the deduped edge list pins once; every stat is one
    * map-side-combined aggregate (the reciprocity check is a left-semi
    * self-join on the reversed key); the single-row frames compose via
    * the documented bounded single-row crossJoin shape, and the result
    * eager-checkpoints before the edge pin releases.
    */
  def degreeStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val inDeg = e.groupBy(col("dst")).agg(count(lit(1)).as("d"))
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val result = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(nodes.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(e.join(rev, Seq("src", "dst"), "left_semi")
        .agg(count(lit(1)).as("n_reciprocal")))
      .crossJoin(outDeg.agg(max(col("d")).as("max_out_deg")))
      .crossJoin(inDeg.agg(max(col("d")).as("max_in_deg")))
      .crossJoin(nodes.join(inDeg.select(col("dst").as("id")), Seq("id"), "left_anti")
        .agg(count(lit(1)).as("n_sources")))
      .crossJoin(nodes.join(outDeg.select(col("src").as("id")), Seq("id"), "left_anti")
        .agg(count(lit(1)).as("n_sinks")))
      .select(col("n_nodes"), col("n_edges"), col("n_reciprocal"),
        col("max_out_deg"), col("max_in_deg"), col("n_sources"), col("n_sinks"))
      .localCheckpoint(true)
    Checkpoints.release(Seq(e))
    result
  }

  /** Per-node local clustering coefficient over an UNDIRECTED pair
    * list: lcc(v) = closed neighbor pairs / all neighbor pairs,
    * emitted exactly as `lcc_pm` = (2000·t_v) div (d_v·(d_v−1)) with
    * t_v the triangles through v (canonical u<w neighbor pairs joined
    * against the canonical edge set). The node-level texture the
    * global [[graft.operators.Components.triangleCount]] flattens out
    * — high-lcc nodes sit in near-cliques (boilerplate families,
    * template clusters), low-lcc high-degree nodes are hubs bridging
    * unrelated docs.
    *
    * Scale shape: wedges are Σ deg² — the standard triangle-counting
    * cost, bounded only when the pairing upstream caps degrees
    * (blocked dedup graphs do by construction; cap hubs first on
    * power-law graphs). Edges pin once; every join is an equi-join on
    * ids.
    */
  def localClustering(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    val p = pairs.select(col(idA).as("a"), col(idB).as("b"))
      .filter(col("a") =!= col("b")).localCheckpoint(true)
    val und = p.union(p.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint(true)
    Checkpoints.release(Seq(p))
    val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("degree"))
    val canon = und.filter(col("a") < col("b"))
      .select(col("a").as("u"), col("b").as("w"))
    val wedges = und.select(col("a").as("v"), col("b").as("u"))
      .join(und.select(col("a").as("v"), col("b").as("w")), "v")
      .filter(col("u") < col("w"))
    val tri = wedges.join(canon, Seq("u", "w"))
      .groupBy(col("v").as("id")).agg(count(lit(1)).as("n_tri"))
    deg.join(tri, Seq("id"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("lcc_pm",
        when(col("degree") < 2, 0L).otherwise(
          expr("(2000 * n_tri) div (degree * (degree - 1))")))
  }

  /** Degree assortativity (Newman 2002) over an undirected pair list:
    * the Pearson correlation of endpoint degrees across (symmetrized)
    * edges — positive means hubs link hubs (social-graph texture),
    * negative means hubs link leaves (star/boilerplate texture). Rides
    * [[graft.operators.Stats.regression]]'s exact-moment machinery:
    * integer degree sums in DECIMAL, ONE fixed double tree, bitwise
    * oracle-replayable. Output: (n_ends, assortativity).
    */
  def assortativity(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    val p = pairs.select(col(idA).as("a"), col(idB).as("b"))
      .filter(col("a") =!= col("b")).localCheckpoint(true)
    val und = p.union(p.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint(true)
    Checkpoints.release(Seq(p))
    val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("degree"))
    val ends = und
      .join(deg.select(col("id").as("a"), col("degree").as("deg_a")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("deg_b")), "b")
      .withColumn("__g", lit(1))
    Stats.regression(ends, Seq("__g"), "deg_a", "deg_b")
      .select(col("n").as("n_ends"), col("corr").as("assortativity"))
  }

  /** Fixed-round HITS (Kleinberg 1999, "Authoritative sources in a
    * hyperlinked environment") in pure integer arithmetic: per round,
    * raw authority(v) = Σ_{u→v} hub(u) and raw hub(u) = Σ_{u→v}
    * auth(v), each renormalized onto the fixed-point scale by integer
    * division against the round's MAXIMUM raw score — `(raw·S) div
    * max_raw` — instead of the float L2 norm, so any engine replays
    * every round bit-identically (the [[PageRank.integerPageRank]]
    * determinism contract; max-normalization preserves the ranking and
    * the fixed point of the power iteration, which is scale-invariant).
    * Exactly `rounds` rounds run; hubs start at S. Nodes with no
    * in-edges hold authority 0, nodes with no out-edges hold hub 0.
    *
    * Result: `(id, hub, auth)` over all endpoints, both BIGINT in
    * [0, S].
    *
    * 100 TB shape: the edge list pins once; each half-round is ONE
    * shuffle (messages map-side-combined onto dst resp. src) plus a
    * single-row max aggregate broadcast back (the documented
    * bounded-broadcast stat shape). Sums run in DECIMAL(38,0): with
    * S = 1e6 a raw score stays ≤ maxDeg·1e6 and the renorm product
    * ≤ maxDeg·1e12 — overflow at maxDeg ~1e26, far past any corpus,
    * and past it the DECIMAL goes NULL loudly rather than wrapping.
    */
  def hitsRounds(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int,
      scale: Long = 1000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(scale >= 100, s"scale must be >= 100, got $scale")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().repartition(col("src")).transform(Checkpoints.pin(_, eager = false))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .transform(Checkpoints.pin(_, eager = false))
    val pins = scala.collection.mutable.Buffer[DataFrame](e, nodes)
    // renormalize raw integer sums onto [0, S] by the round's max —
    // the integer-exact stand-in for the L2 norm of float HITS.
    // r17: the max is COLLECTED as a scalar off the lazily-pinned raw
    // frame instead of riding a broadcast cross join. The broadcast
    // form referenced `raw` twice (max build + probe), so every
    // half-round evaluated its whole message aggregation twice (once
    // for the broadcast job, once when the pinned result
    // materialized); the one-row collect is the round's single action,
    // it materializes the pin, and the renormed frame is then a plain
    // projection over the checkpoint — half the work, one job per
    // half-round, and a linear plan chain (bounded-broadcast stat
    // shape unchanged: one row still crosses the driver).
    def renorm(raw: DataFrame): DataFrame = {
      val rawPinned = Checkpoints.pin(raw, eager = false)
      pins += rawPinned
      val mx = rawPinned.agg(max(col("raw")).as("mx")).head.getDecimal(0)
      // mx is null only when raw is empty; any literal divisor leaves
      // the empty projection empty, so 1 is safe
      val mxLit = if (mx == null) "1" else mx.toBigInteger.toString
      rawPinned.select(col("id"),
        expr(s"CAST((CAST(raw AS DECIMAL(38,0)) * $scale) div " +
          s"CAST($mxLit AS DECIMAL(38,0)) AS BIGINT)").as("score"))
    }
    var hub = nodes.select(col("id"), lit(scale).as("score"))
    var auth: DataFrame = null
    for (r <- 1 to rounds) {
      val rawAuth = e.join(hub, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(sum(col("score").cast(DecimalType(38, 0))).as("raw"))
        .select(col("dst").as("id"), col("raw"))
      val a = renorm(rawAuth)
      auth = a
      val rawHub = e.join(a, col("dst") === col("id"))
        .groupBy(col("src"))
        .agg(sum(col("score").cast(DecimalType(38, 0))).as("raw"))
        .select(col("src").as("id"), col("raw"))
      val h = renorm(rawHub)
      hub = h
    }
    val result = Checkpoints.pin(nodes
      .join(hub.select(col("id"), col("score").as("hub")), Seq("id"), "left")
      .join(auth.select(col("id"), col("score").as("auth")), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth")))
    Checkpoints.release(pins.toSeq)
    result
  }

  /** Fixed-round Bellman-Ford (Bellman 1958) from a seed set over a
    * weighted directed graph: after exactly `rounds` relaxation rounds,
    * `(id, dist)` holds the exact shortest weighted distance for every
    * node reachable within `rounds` edges (Bellman-Ford's invariant),
    * seeds at 0. The weighted complement of [[bfsHops]] — hop counts
    * treat every edge equally; this is the cost-aware proximity
    * (routing, weighted trust propagation). Integer weights make every
    * round replayable bit-identically; `rounds` >= graph diameter gives
    * the full single-source-shortest-path answer. Ids and weights must
    * be integral; a negative weight fails the job (negative cycles
    * would make a fixed-round answer path-length-dependent). Edges and
    * seeds with a null id or weight drop, so no row has a null id.
    *
    * 100 TB shape: each (src, dst) pair keeps its cheapest weight,
    * hash-partitioned on `src` once; each round is a co-partitioned join
    * plus one node-spine-sized min re-key at the RDD layer, planning
    * and pinning nothing.
    */
  def bellmanFordRounds(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      seeds: DataFrame,
      seedCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val outType = Checkpoints.idType("bellmanFordRounds", "ids", Seq(edges.schema(srcCol).dataType,
      edges.schema(dstCol).dataType, seeds.schema(seedCol).dataType))
    Checkpoints.idType("bellmanFordRounds", "weights", Seq(edges.schema(weightCol).dataType))
    val weight = col(weightCol)
    val checked = when(weight < 0, raise_error(lit(
      "bellmanFordRounds: negative edge weight — fixed rounds need weights >= 0")))
      .otherwise(weight)
    Checkpoints.withWeightedEdgeRdd(edges, srcCol, dstCol, checked)(math.min(_, _)) { (e, part, _) =>
      var dist = seedIds(seeds, seedCol).map(s => (s, 0L)).reduceByKey(part, (a, _) => a)
      for (_ <- 1 to rounds) {
        val relaxed = e.join(dist, part)
          .map { case (_, ((dst, w), d)) => (dst, Math.addExact(d, w)) }
        dist = dist.union(relaxed).reduceByKey(part, math.min(_, _))
      }
      Checkpoints.pinRows(edges.sparkSession, dist.map { case (v, d) => Row(v, d) },
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("dist", LongType, nullable = false))),
        Map("id" -> outType))
    }
  }

  /** Fixed-horizon Katz centrality (Katz 1953) with a DYADIC damping
    * factor — the walk-counting member of the centrality row:
    * PageRank divides by out-degree every hop (prestige diffuses),
    * Katz counts ALL incoming walks, damped α per hop. With α =
    * 1/`alphaDenom` and horizon K = `rounds`, the truncated series
    * Σ_{k≤K} αᵏ(Aᵏ1)(v) is emitted ×alphaDenom^K — i.e.
    * `katz_num`(v) = Σ_{k=0}^{K} alphaDenom^{K−k} · pₖ(v), where
    * pₖ(v) = #walks of length k ending at v — so the whole computation
    * is INTEGER walk counting with zero divisions (contrast
    * [[PageRank.integerPageRank]]'s per-round floored shares, which
    * need renormalization pins). Walk counts ride exact Long
    * arithmetic: pₖ ≤ (max in-degree)ᵏ·|V| grows fast, and a silent
    * BIGINT wrap would be an ordering bug, not noise. Every term is
    * non-negative, so an overflowing term or partial sum means the
    * result exceeds BIGINT: the job fails loudly.
    *
    * 100 TB shape: the edges reduce to one (src, dst, multiplicity) row
    * per pair, hash-partitioned on `src` once; each of the K rounds is
    * a co-partitioned join plus ONE node-spine-sized shuffle (the
    * (dst, walk-count) sum, map-side combined) and a Horner fold into a
    * co-partitioned running total — at the RDD layer, planning and
    * pinning nothing. K is a stated horizon (the α-damped tail beyond
    * K is bounded by (α·d_max)^K), so cost is K shuffles whatever |V|.
    *
    * Multi-edges count as parallel walks (multigraph semantics);
    * callers wanting simple-graph Katz dedup the edge list first.
    * Edges with a null endpoint drop.
    */
  def katzRounds(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int,
      alphaDenom: Long = 4L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(alphaDenom >= 2, s"alphaDenom must be >= 2, got $alphaDenom")
    val outType = Checkpoints.idType("katzRounds", "ids",
      Seq(edges.schema(srcCol).dataType, edges.schema(dstCol).dataType))
    def exact(f: => Long): Long = try f catch { case _: ArithmeticException =>
      throw new ArithmeticException("katzRounds: walk-count sum exceeds BIGINT") }
    val add = (a: Long, b: Long) => exact(Math.addExact(a, b))
    // parallel edges add up: a pair's multiplicity is its walk count
    Checkpoints.withWeightedEdgeRdd(edges, srcCol, dstCol, lit(1L))(_ + _) { (e, part, _) =>
      var p = e.flatMap { case (s, (d, _)) => Iterator((s, 1L), (d, 1L)) }
        .reduceByKey(part, (a, _) => a)
      // p_0 = 1 per node; Horner: acc_k = alphaDenom·acc_{k−1} + p_k
      var acc = p
      for (_ <- 1 to rounds) {
        p = e.join(p, part)
          .map { case (_, ((dst, m), pk)) => (dst, exact(Math.multiplyExact(m, pk))) }
          .reduceByKey(part, add)
        acc = acc.mapValues(a => exact(Math.multiplyExact(a, alphaDenom)))
          .union(p).reduceByKey(part, add)
      }
      Checkpoints.pinRows(edges.sparkSession, acc.map { case (v, k) => Row(v, k) },
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("katz_num", LongType, nullable = false))),
        Map("id" -> outType))
    }
  }

  /** Fixed-round synchronous label propagation (Raghavan, Albert &
    * Kumara 2007, "Near linear time algorithm to detect community
    * structures") over the undirected graph of `pairs`: every node
    * starts labeled with its own id; each round EVERY node
    * simultaneously adopts the most frequent label among its
    * neighbors, ties broken toward the SMALLEST label. The
    * deterministic synchronous variant (the classic async sweep is
    * order-dependent and cannot be oracle-replayed); a fixed small
    * round count is the bounded-cost community sweep a corpus-scale
    * near-dup/topic pipeline runs, and keeps the cross-engine replay a
    * straight-line CTE chain (the [[PageRank]] fixed-iteration
    * contract). Result: `(id, label)` for every endpoint.
    *
    * 100 TB shape: the symmetrized edge list pins once (hash-
    * partitioned on `src`); each round is ONE data-sized shuffle (the
    * (dst, label) count, map-side combined) plus a node-spine-sized
    * window rank on the same keys; superseded label frames release
    * after the round's action ([[Checkpoints]]).
    */
  def labelPropRounds(
      pairs: DataFrame,
      idA: String,
      idB: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val p = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .filter(col("src") =!= col("dst"))
    val e = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("src")).transform(Checkpoints.pin(_, eager = false))
    // every endpoint appears as src after symmetrization
    val labels0 = e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    val w = Window.partitionBy(col("id")).orderBy(col("cnt").desc, col("label").asc)
    // every-2nd-round pin: see Checkpoints.fixedRounds
    Checkpoints.fixedRounds(labels0, rounds, every = 2, buildPins = Seq(e)) { labels =>
      e.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("id"), col("label"))
    }
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003,
    * "The link prediction problem for social networks") over the
    * undirected graph of `pairs`: for every NON-adjacent pair (u, v)
    * sharing at least `minCommon` neighbors, emit the integer witness —
    * `cn` = |N(u) ∩ N(v)|, `uni` = |N(u) ∪ N(v)| = deg(u)+deg(v)−cn —
    * and the neighborhood-Jaccard score as their single IEEE division
    * (the cross-engine determinism discipline: an engine compares the
    * exact integers; the float exists only for ranking downstream).
    * Canonical orientation id_a < id_b.
    *
    * 100 TB shape: the wedge join (e ⋈ e on the shared neighbor) is
    * the one data-shaped cost, quadratic in the hottest node's degree —
    * the standard mitigation at corpus scale is a degree cap on the
    * wedge pivot (drop pivots above a percentile before joining; a
    * celebrity node predicts links for everyone and informs nothing),
    * the same hot-key discipline as the LSH hot-bucket caps. Degrees
    * broadcast-join back onto candidate pairs (node-spine-sized).
    */
  def linkPredict(
      pairs: DataFrame,
      idA: String,
      idB: String,
      minCommon: Int): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val p = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .filter(col("src") =!= col("dst"))
    val e = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("src")).localCheckpoint(false)
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val cn = e.select(col("src").as("w"), col("dst").as("u"))
      .join(e.select(col("src").as("w"), col("dst").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
    val result = cn
      .join(e.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(col("u").as("id_a"), col("v").as("id_b"), col("cn"),
        (col("du") + col("dv") - col("cn")).as("uni"),
        (col("cn").cast("double") /
          (col("du") + col("dv") - col("cn")).cast("double")).as("jaccard"))
      .localCheckpoint(true)
    Checkpoints.release(Seq(e))
    result
  }

  /** Fixed-round k-truss peel (Cohen 2008) — the EDGE-level cohesion
    * filter [[kcoreRounds]]'s degree test only approximates: each
    * round drops canonical edges whose triangle support (common
    * neighbors of the endpoints) is below k−2, so surviving edges sit
    * in overlapping triangles — the near-clique backbone, the
    * community-core extractor that ignores degree-inflated hubs.
    * Fixed `rounds` keep the DuckDB replay a straight-line CTE chain
    * (the kcore/Bellman-Ford contract; a converged peel is certified
    * by unchanged output under rounds+1). Support recomputes per
    * round via one wedge self-join of the symmetrized adjacency
    * joined back to the canonical edge list — never an explicit
    * triangle materialization per node — and the emitted `support`
    * is measured on the FINAL surviving subgraph. Edges per round
    * pin via localCheckpoint (the iterative-lineage law).
    */
  def trussRounds(
      pairs: DataFrame,
      idA: String,
      idB: String,
      k: Int,
      rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val p = pairs.select(col(idA).as("u"), col(idB).as("w"))
      .filter(col("u") =!= col("w"))
    val canon0 = p.select(least(col("u"), col("w")).as("u"),
        greatest(col("u"), col("w")).as("w"))
      .distinct().transform(Checkpoints.pin(_, eager = false))
    def support(c: DataFrame): DataFrame = {
      val und = c.union(c.select(col("w").as("u"), col("u").as("w")))
        .select(col("u").as("a"), col("w").as("b"))
      und.select(col("a").as("v"), col("b").as("tu"))
        .join(und.select(col("a").as("v"), col("b").as("tw")), Seq("v"))
        .filter(col("tu") < col("tw"))
        .select(col("tu").as("u"), col("tw").as("w"))
        .join(c, Seq("u", "w"), "left_semi")
        .groupBy(col("u"), col("w")).agg(count(lit(1)).as("supp"))
    }
    val canon = Checkpoints.fixedRounds(canon0, rounds, every = 1,
        buildPins = Seq(canon0)) { c =>
      c.join(support(c), Seq("u", "w"), "left")
        .na.fill(0L, Seq("supp"))
        .filter(col("supp") >= (k - 2).toLong)
        .select("u", "w")
    }
    canon.join(support(canon), Seq("u", "w"), "left")
      .na.fill(0L, Seq("supp"))
      .select(col("u").as("id_a"), col("w").as("id_b"),
        col("supp").as("support"))
  }

  /** Join-count statistics (Moran 1948) for a BINARY node attribute
    * over an undirected edge list — the categorical autocorrelation
    * census: how many edges join black–black, black–white,
    * white–white, against the free-sampling expectation E[BB] =
    * E·n_b(n_b−1)/(V(V−1)), E[BW] = 2E·n_b·n_w/(V(V−1)). Emitted as
    * exact observed counts plus per-mille observed/expected ratios by
    * cross-multiplication (ratio > 1000 on BB = like links like =
    * homophily; BW below 1000 says the attribute segregates). V and
    * n_b count over the SUPPLIED node frame (the sampling universe —
    * stated, not inferred from edge incidence). One edge join to the
    * broadcast node flags + one census aggregate.
    */
  def joinCounts(
      pairs: DataFrame,
      idA: String,
      idB: String,
      nodes: DataFrame,
      nodeIdCol: String,
      flagCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val flags = nodes.select(col(nodeIdCol).as("__id"), col(flagCol).as("__f"))
    val nn = flags.agg(count(lit(1)).as("n_nodes"),
      sum(when(col("__f"), 1L).otherwise(0L)).as("n_black"))
    val e = pairs.select(col(idA).as("__a"), col(idB).as("__b"))
      .filter(col("__a") =!= col("__b"))
      .join(flags.select(col("__id").as("__a"), col("__f").as("__fa")), Seq("__a"))
      .join(flags.select(col("__id").as("__b"), col("__f").as("__fb")), Seq("__b"))
    val obs = e.agg(count(lit(1)).as("n_edges"),
      sum(when(col("__fa") && col("__fb"), 1L).otherwise(0L)).as("bb"),
      sum(when(col("__fa") =!= col("__fb"), 1L).otherwise(0L)).as("bw"),
      sum(when(!col("__fa") && !col("__fb"), 1L).otherwise(0L)).as("ww"))
    def ratio(o: Column, expNum: Column, what: String): Column =
      when(expNum === 0, 0L).otherwise(loudDecToLong(
        (o.cast(dec) * col("n_nodes") * (col("n_nodes") - 1) * 1000
          - o.cast(dec) * col("n_nodes") * (col("n_nodes") - 1) * 1000
            % expNum) / expNum, what))
    obs.crossJoin(broadcast(nn))
      .withColumn("bb_ratio_pm",
        ratio(col("bb"),
          col("n_edges").cast(dec) * col("n_black") * (col("n_black") - 1),
          "joinCounts.bb_ratio_pm"))
      .withColumn("bw_ratio_pm",
        ratio(col("bw"),
          col("n_edges").cast(dec) * col("n_black")
            * (col("n_nodes") - col("n_black")) * 2,
          "joinCounts.bw_ratio_pm"))
      .withColumn("ww_ratio_pm",
        ratio(col("ww"),
          col("n_edges").cast(dec) * (col("n_nodes") - col("n_black"))
            * (col("n_nodes") - col("n_black") - 1),
          "joinCounts.ww_ratio_pm"))
      .select(col("n_nodes"), col("n_black"), col("n_edges"),
        col("bb"), col("bw"), col("ww"),
        col("bb_ratio_pm"), col("bw_ratio_pm"), col("ww_ratio_pm"))
  }

  private def loudDecToLong(c: Column, what: String): Column = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val d = c.cast(dec)
    when(d.isNull || abs(d) > lit(Long.MaxValue).cast(dec),
      raise_error(lit(s"$what exceeds BIGINT — exact value needs a wider type"))
        .cast("long"))
      .otherwise(d.cast("long"))
  }

  /** Fixed-round k-core peeling over the undirected graph of `pairs`:
    * each round drops every node whose degree in the surviving subgraph
    * is < k, then restricts the edges to survivors. Exactly `rounds`
    * rounds run (converged or not — the [[PageRank]] fixed-iteration
    * replay contract); the result is `(id, deg)` for surviving nodes
    * with their degree inside the FINAL surviving subgraph. With enough
    * rounds this is the k-core (Seidman 1983); a fixed small count is
    * the bounded-cost variant a corpus-scale spam sweep runs.
    */
  def kcoreRounds(
      pairs: DataFrame,
      idA: String,
      idB: String,
      k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val p = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    val e0 = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().transform(Checkpoints.pin(_, eager = false))
    val e = Checkpoints.fixedRounds(e0, rounds, every = 1, buildPins = Seq(e0)) { e =>
      val surv = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("id"))
      e.join(surv.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(surv.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
  }

  /** Fixed-round densest-subgraph peeling (Bahmani, Kumar &
    * Vassilvitskii 2012) — the MapReduce-native 2(1+ε)-approximation:
    * each round removes EVERY node whose degree is below (1+ε) times
    * the current average degree (batch peel — that is what makes it
    * O(log n) rounds instead of Charikar's O(n) one-at-a-time), and
    * the densest prefix of the trajectory is the answer. Density is
    * never a float: the peel test cross-multiplies
    * (deg·n·1000 < 2m·(1000+epsPm)) and each round's density emits as
    * ONE floored (1000·m) div n. Fixed `rounds` keeps the DuckDB
    * replay a straight-line CTE chain (the kcoreRounds contract).
    *
    * Output: one row per round 0..rounds — (round, n_nodes, n_edges,
    * density_x1000, is_best) — the whole peel trajectory, with the
    * best round flagged (ties → earliest). Scale shape: each round is
    * one degree aggregate + two semi-joins, localCheckpoint-pinned;
    * rounds × shuffle like every iterative-graph member.
    */
  def densestRounds(
      pairs: DataFrame,
      idA: String,
      idB: String,
      epsPm: Long,
      rounds: Int): DataFrame = {
    require(epsPm >= 0, s"epsPm must be >= 0, got $epsPm")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val p = pairs.select(col(idA).as("u"), col(idB).as("w"))
      .filter(col("u") =!= col("w"))
      .select(least(col("u"), col("w")).as("u"),
        greatest(col("u"), col("w")).as("w"))
      .distinct()
    var e = Checkpoints.pin(p, eager = false)
    val pins = scala.collection.mutable.Buffer[DataFrame](e)
    val snaps = scala.collection.mutable.Buffer[DataFrame]()
    for (r <- 0 to rounds) {
      val und = e.union(e.select(col("w").as("u"), col("u").as("w")))
      val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
      val stats = deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"),
          when(col("n_nodes") === 0, 0L)
            .otherwise(expr("(1000 * n_edges) div n_nodes"))
            .as("density_x1000"))
      snaps += stats
      if (r < rounds) {
        val surv = deg.crossJoin(broadcast(
            deg.agg(count(lit(1)).as("__n"))
              .crossJoin(e.agg(count(lit(1)).as("__m")))))
          .filter(expr(s"deg * __n * 1000 >= 2 * __m * ${1000 + epsPm}"))
          .select(col("id"))
        val next = e
          .join(surv.select(col("id").as("u")), Seq("u"), "left_semi")
          .join(surv.select(col("id").as("w")), Seq("w"), "left_semi")
          .select("u", "w")
        e = Checkpoints.pin(next, eager = false)
        pins += e
      }
    }
    val traj = Checkpoints.pin(snaps.reduce(_ unionAll _))
    Checkpoints.release(pins.toSeq)
    val wBest = Window.orderBy(col("density_x1000").desc, col("round").asc)
    traj
      .withColumn("is_best", row_number().over(wBest) === 1) // ≤rounds+1 rows
      .orderBy("round")
  }

  /** Distributed minimum spanning forest — Borůvka (1926), the graph
    * algorithm that is NATIVELY round-parallel: every round EVERY
    * component simultaneously grabs its lightest outgoing edge, the
    * chosen edges merge components, and the component count at least
    * halves — O(log |V|) rounds total, each round two data-sized
    * shuffles (the component labeling join + the per-component min).
    * Contrast Kruskal (a sequential edge scan through a global sort —
    * inherently driver-ordered) and Prim (one frontier, no
    * parallelism): at 100 TB Borůvka is the only member of the MST
    * row whose round count doesn't scale with the data.
    *
    * Determinism: edges are totally ordered by struct(w, u, v)
    * lexicographic min — the canonical distinct-weight surrogate — so
    * the forest is UNIQUE and both engines (Spark min(struct), DuckDB
    * Kruskal under the same order) agree edge-for-edge. Contraction
    * runs [[Components.minLabel]] over the per-round COMPONENT merge
    * graph (one node per live component, one edge per chosen merge —
    * halving every round), then composes the labels into the vertex
    * map with one join — never re-solving the accumulated forest,
    * whose diameter (and hence minLabel iteration count) GROWS with
    * rounds. Self-loops drop;
    * parallel edges keep their (w, u, v)-min. Unfinished after
    * `maxRounds` (crossing edges remain) raises loudly — a partial
    * forest would silently read as "these components are
    * disconnected".
    *
    * Emits the forest edge list (u, v, w).
    */
  def boruvkaMsf(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      maxRounds: Int = 12): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // The round loop runs at the RDD layer (r18; the DataFrame
    // rendering paid ~60 jobs on q_mst): each round is pure (key, value)
    // joins over the canonical edge set, and its ONE action is the
    // crossing count the convergence check needs anyway. Ids and weights
    // must be integral — Long total order IS the SQL (w, u, v) struct
    // order, so the chosen forest is bit-identical.
    val spark = edges.sparkSession
    // the id columns share the two inputs' common (widest) type, as in
    // the old least/greatest/min(w) rendering
    val idT = Checkpoints.idType("boruvkaMsf", "ids",
      Seq(edges.schema(srcCol).dataType, edges.schema(dstCol).dataType))
    val wT = Checkpoints.idType("boruvkaMsf", "weights", Seq(edges.schema(weightCol).dataType))
    // canonical simple graph: u<v, min w per pair; null ids never
    // pass the u =!= v filter
    val canonical = edges.filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"), col(weightCol).as("w"))
    Checkpoints.withWeightedEdgeRdd(canonical, "u", "v", col("w"))(math.min(_, _)) {
        (canon, part, nEdges) =>
      val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      var comp = canon.mapValues(_._1)
        .flatMap { case (u, v) => Iterator((u, u), (v, v)) }
        .reduceByKey(part, (a, _) => a) // vertex spine, comp = self
        .persist(storage)
      // persisted RDDs superseded in earlier rounds: releasable only once
      // a LATER count proves the chain no longer recomputes through them
      // (chosen_{r-1} caches during the round-r count, which is what makes
      // cross_{r-1}/comp_{r-1} unreachable — the minLabel discipline)
      var prevComp = comp
      var prevCross: org.apache.spark.rdd.RDD[(Long, Long, Long, Long, Long)] = null
      // per-round chosen edges stay persisted until the forest
      // materializes at the end — they feed BOTH the next round's
      // contraction and the final union
      val chosenBuf = scala.collection.mutable.Buffer
        .empty[org.apache.spark.rdd.RDD[(Long, (Long, Long, Long, Long, Long))]]
      var crossing = 1L
      var round = 0
      // pointer-jump budget for the contraction step: jumping halves the
      // hooking forest's depth each time, and depth can never exceed the
      // component count ≤ |V| ≤ 2·nEdges, so ceil(log2(2·nEdges)) + 1
      // lazy jumps always compress fully — no per-jump action (an
      // UNDER-compressed map would be a correctness bug: a later round
      // would see one merged component under two labels and could add a
      // cycle edge to the forest)
      val jumps = math.max(1,
        65 - java.lang.Long.numberOfLeadingZeros(math.max(2L, nEdges)))
      while (crossing > 0 && round < maxRounds) {
        // label both endpoints with their components; keep crossing edges
        val cross = canon.join(comp, part)
          .map { case (u, ((v, w), cu)) => (v, (u, w, cu)) }
          .join(comp) // v-keyed side is freshly re-keyed: one shuffle
          .flatMap { case (v, ((u, w, cu), cv)) =>
            if (cu == cv) Iterator.empty else Iterator((u, v, w, cu, cv))
          }
          .persist(storage)
        crossing = cross.count() // the round's ONE action
        // this count materialized comp (and, through its lineage, the
        // previous round's chosen) — the previous round's cross/comp are
        // now provably unreachable
        if (prevCross != null) prevCross.unpersist(blocking = false)
        prevCross = cross
        if (prevComp ne comp) { prevComp.unpersist(blocking = false); prevComp = comp }
        if (crossing > 0) {
          // (w, u, v) total order picks the canonical lightest edge per
          // component; cu/cv ride along to name the merge
          val chosen = cross
            .flatMap { case (u, v, w, cu, cv) =>
              Iterator((cu, (w, u, v, cu, cv)), (cv, (w, u, v, cu, cv)))
            }
            .reduceByKey { (x, y) =>
              if (x._1 < y._1 || (x._1 == y._1 && (x._2 < y._2 ||
                (x._2 == y._2 && x._3 <= y._3)))) x else y
            }
            .persist(storage)
          chosenBuf += chosen
          // contraction: the merge graph is a functional pseudo-forest —
          // every tree hangs off one mutual-min 2-cycle. Break the
          // 2-cycle to its least member (the only root), then chained
          // p∘p pointer jumps; the budget shrinks by one per round
          // (components at least halve).
          val parent0 = chosen.map { case (c, (_, _, _, cu, cv)) =>
            (c, if (c == cu) cv else cu)
          }
          val p1 = parent0.map { case (c, p) => (p, c) }
            .join(parent0)
            .map { case (p, (c, pp)) =>
              (c, if (pp == c) math.min(c, p) else p)
            }
          var pk = p1
          val roundJumps = math.max(1, jumps - round)
          for (_ <- 1 to roundJumps)
            pk = pk.map { case (c, pv) => (pv, c) }
              .leftOuterJoin(pk)
              .map { case (pv, (c, pj)) => (c, pj.getOrElse(pv)) }
          comp = comp.map { case (id, cm) => (cm, id) }
            .leftOuterJoin(pk)
            .map { case (cm, (id, l)) => (id, l.getOrElse(cm)) }
            .partitionBy(part)
            .persist(storage)
        }
        round += 1
      }
      def releaseAll(): Unit = {
        comp.unpersist(blocking = false)
        if (prevComp ne comp) prevComp.unpersist(blocking = false)
        if (prevCross != null) prevCross.unpersist(blocking = false)
        chosenBuf.foreach(_.unpersist(blocking = false))
      }
      if (crossing > 0) {
        releaseAll()
        throw new IllegalStateException(
          s"boruvkaMsf did not finish within $maxRounds rounds " +
            s"($crossing crossing edges remain) — raise maxRounds; a " +
            "partial forest would silently read as disconnection")
      }
      // one distinct over the union replays the per-round dedup (both
      // endpoint components choosing the same edge); cross-round dups
      // cannot exist (a forest edge is intra-component ever after)
      val forest =
        if (chosenBuf.isEmpty) spark.sparkContext.emptyRDD[(Long, Long, Long)]
        else spark.sparkContext
          .union(chosenBuf.toSeq.map(_.map { case (_, (w, u, v, _, _)) => (u, v, w) }))
          .distinct()
      // the eager pin materializes the forest off the still-persisted
      // chosen rounds BEFORE their storage releases
      val msf = Checkpoints.pinRows(spark,
        forest.map { case (u, v, w) => Row(u, v, w) },
        StructType(Seq(StructField("u", LongType, nullable = false),
          StructField("v", LongType, nullable = false),
          StructField("w", LongType, nullable = false))),
        Map("u" -> idT, "v" -> idT, "w" -> wT))
      releaseAll()
      msf
    }
  }

  /** Rich-club coefficient (Zhou & Mondragón 2004) at each degree cut
    * k: among the nodes with degree STRICTLY above k, what fraction of
    * their possible edges exist — φ(k) = 2·E_k / (n_k·(n_k−1)),
    * emitted as one floored per-mille. Rising φ(k) with k = the
    * highly-connected elite wires to itself (the hub-oligarchy read
    * next to [[assortativity]]'s single correlation number). ONE pass:
    * the edge list joins the degree table once, then every cut is a
    * conditional sum — cuts cost columns, not scans. Output one row
    * per cut: (k, n_k, e_k, rc_pm).
    */
  def richClub(
      pairs: DataFrame,
      idA: String,
      idB: String,
      cuts: Seq[Int]): DataFrame = {
    require(cuts.nonEmpty, "richClub: need at least one degree cut")
    val e = pairs.select(col(idA).as("u"), col(idB).as("w"))
      .filter(col("u") =!= col("w"))
      .select(least(col("u"), col("w")).as("u"),
        greatest(col("u"), col("w")).as("w"))
      .distinct()
      .localCheckpoint(true) // degree + edge legs share the canonical set
    val und = e.union(e.select(col("w").as("u"), col("u").as("w")))
    val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true) // id-spine; edge join + every cut census read it
    val ej = e
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("w"), col("d").as("dw")), Seq("w"))
    val eAggCols = cuts.map(k =>
      sum(when(col("du") > k && col("dw") > k, 1L).otherwise(0L)).as(s"e$k"))
    val nAggCols = cuts.map(k =>
      sum(when(col("d") > k, 1L).otherwise(0L)).as(s"n$k"))
    val eAgg = ej.agg(eAggCols.head, eAggCols.tail: _*)
    val nAgg = deg.agg(nAggCols.head, nAggCols.tail: _*)
    val both = eAgg.crossJoin(broadcast(nAgg))
      .localCheckpoint(true) // 1 row; every per-cut select reads it
    cuts.map { k =>
      both.select(lit(k.toLong).as("k"), col(s"n$k").as("n_k"),
        col(s"e$k").as("e_k"),
        when(col(s"n$k") < 2, 0L).otherwise(expr(
          s"(CAST(2000 AS DECIMAL(38,0)) * e$k) div (CAST(n$k AS DECIMAL(38,0)) * (n$k - 1))"))
          .as("rc_pm"))
    }.reduce(_ unionAll _).orderBy("k")
  }

  /** Undirected triad census from closed forms — no triple ever
    * materializes: with n nodes (vertices of the edge set), m edges,
    * W = Σ_v C(d_v, 2) wedges, and T triangles (the one genuinely
    * combinatorial input, counted by the ordered wedge-edge closure
    * join like [[graft.operators.Components.triangleCount]]),
    *   t3 = T,   t2 = W − 3T,   t1 = m(n−2) − 2W + 3T,
    *   t0 = C(n,3) − t1 − t2 − t3.
    * The structural fingerprint behind the global clustering
    * coefficient (3·t3/(3·t3 + t2)) — all exact integers, one degree
    * aggregate + one triangle join.
    */
  def triadCensus(
      pairs: DataFrame,
      idA: String,
      idB: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val e = pairs.select(col(idA).as("u"), col(idB).as("w"))
      .filter(col("u") =!= col("w"))
      .select(least(col("u"), col("w")).as("u"),
        greatest(col("u"), col("w")).as("w"))
      .distinct()
      .localCheckpoint(true) // degree, wedge, and triangle legs share it
    val und = e.union(e.select(col("w").as("u"), col("u").as("w")))
    val degAgg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("__d2m"),
        sum(col("d").cast(dec) * (col("d") - 1)).as("__w2"))
    val tri = e.select(col("u").as("a"), col("w").as("b"))
      .join(e.select(col("u").as("b"), col("w").as("c")), "b")
      .join(e.select(col("u").as("a"), col("w").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("t3"))
    degAgg.crossJoin(broadcast(tri))
      .withColumn("m", expr("__d2m div 2"))
      .withColumn("wedges", expr("__w2 div 2"))
      .withColumn("t2", col("wedges") - col("t3") * 3)
      .withColumn("t1",
        expr("m * (n - 2) - 2 * wedges + 3 * t3"))
      .withColumn("t0", expr(
        "(CAST(n AS DECIMAL(38,0)) * (n - 1) * (n - 2)) div 6")
        .minus(col("t1") + col("t2") + col("t3")))
      .select(col("n").as("n_nodes"), col("m").as("n_edges"), col("wedges"),
        col("t0"), col("t1"), col("t2"), col("t3"))
  }
}
