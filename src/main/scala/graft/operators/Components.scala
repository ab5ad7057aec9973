package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed connected components — the clustering backbone of near-dup
  * deduplication: LSH emits PAIRS, but the unit of removal is the
  * connected COMPONENT (a doc may pair with several others; keeping one
  * representative per component needs the transitive closure).
  *
  * [[minLabel]] runs min-label propagation with pointer jumping: each
  * round (1) every vertex takes the min label over its neighbors (edge
  * join + map-side-combined min agg) and (2) labels compress through
  * themselves (label(v) := label(label(v)), a self-join) — the classic
  * two-step that converges in O(log diameter) rounds rather than
  * O(diameter) for plain propagation. Per round the shuffles carry only
  * (id, label) pairs and the edge list; the driver sees one scalar
  * (the changed-count) per round.
  */
object Components {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Triangle count over an undirected edge list given as (id_a < id_b)
    * pairs: the canonical two-join counting shape — for every wedge
    * a<b<c with edges (a,b) and (b,c), probe for the closing edge (a,c).
    * Each join is hash-partitioned on its key; at web scale, order
    * vertices by degree first (the node-iterator optimization) so hubs
    * don't dominate the wedge join — noted, not needed at oracle scale.
    */
  def triangleCount(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val e = pairs.select(col(idA).as("a"), col(idB).as("b"))
    val wedges = e.select(col("a"), col("b"))
      .join(e.select(col("a").as("b"), col("b").as("c")), "b")
    wedges.join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** `(id, label)` for every vertex in `pairs` (columns idA, idB),
    * where `label` is the minimum vertex id reachable from `id`.
    * Ids must be integral (every caller keys on BIGINT doc/part keys).
    */
  def minLabel(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 25): DataFrame = {
    // The loop runs at the RDD layer (r17): each round is pure
    // (key, value) joins over the pinned edge list, and a DataFrame
    // rendering of it pays a full Catalyst analyze/optimize/plan pass
    // per round-pin (~0.25 s of DRIVER time each, measured) plus AQE
    // re-planning per materialized exchange — at bench scale the
    // six minLabel consumers were driver-bound (50-62 jobs, wall 3-5x
    // summed task time). RDD self-joins plan nothing; with every frame
    // hash-partitioned by the SAME partitioner the per-round shape is
    // exactly three shuffles (neighbor-min re-key, jump re-key, re-key
    // back to id), all carrying only (id, label) pairs, and the one
    // count() action per round both materializes the round and reads
    // convergence — the boruvkaMsf pointer-jump precedent extended to
    // the whole loop. Labels are compared with Long min, which matches
    // the DataFrame `least` on the same values bit-for-bit.
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val outType = Checkpoints.idType("minLabel",
      Seq(pairs.schema(idA).dataType, pairs.schema(idB).dataType))
    Checkpoints.withEdgeRdd(pairs, idA, idB, symmetric = true) { (edges, part) =>
      // vertex spine: edges are symmetric, so keys cover every endpoint;
      // the partitioner puts all copies of a key in one partition, so a
      // same-partitioner reduceByKey IS the global distinct with NO
      // shuffle — and unlike a per-partition toSet (which holds every
      // distinct key of the partition boxed on heap at once: width is
      // capped at defaultParallelism, so keys-per-partition grows with
      // the graph), the reduce aggregator spills to disk under pressure
      var labels = edges.mapValues(_ => ())
        .reduceByKey(part, (a, _) => a)
        .mapPartitions(it => it.map { case (v, _) => (v, v) },
          preservesPartitioning = true)
      var prevRound: org.apache.spark.rdd.RDD[(Long, (Long, Long))] = null
      var iter = 0
      var changed = 1L
      while (changed > 0 && iter < maxIters) {
        // (1) neighbor min: the smallest label in each vertex's
        // neighborhood (map-side-combined reduceByKey)
        val msgs = edges.join(labels, part)
          .map { case (_, (dst, lu)) => (dst, lu) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        // old label rides along so convergence reads off the persisted
        // rows with a plain filter+count, not another join
        val prop = labels.leftOuterJoin(msgs, part)
          .mapValues { case (l, m) => (l, math.min(l, m.getOrElse(l))) }
        // (2) pointer jumping: label(v) := min(label(v), label(label(v)))
        val byLabel = prop.map { case (v, (old, lab)) => (lab, (v, old)) }
        val labelOf = prop.mapValues(_._2)
        val next = byLabel.leftOuterJoin(labelOf, part)
          .map { case (lab, ((v, old), ll)) => (v, (old, math.min(lab, ll.getOrElse(lab)))) }
          .partitionBy(part)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        changed = next.filter { case (_, (old, lab)) => lab < old }.count()
        // only the current round stays persisted; the count() above is
        // the action that materialized `next`, so the superseded round
        // is provably no longer needed
        if (prevRound != null) prevRound.unpersist(blocking = false)
        prevRound = next
        labels = next.mapValues(_._2)
        iter += 1
      }
      log.info(s"minLabel ran $iter rounds (the last confirming quiescence)")
      try {
        if (changed > 0) throw new IllegalStateException(
          s"connected components did not converge within $maxIters rounds " +
            s"($changed labels still changing) — raise maxIters; returning " +
            "partial labels would silently keep duplicate representatives")
        Checkpoints.pinRows(pairs.sparkSession,
          labels.map { case (v, l) => Row(v, l) },
          StructType(Seq(StructField("id", LongType, nullable = false),
            StructField("label", LongType, nullable = false))),
          Map("id" -> outType, "label" -> outType))
      } finally if (prevRound != null) prevRound.unpersist(blocking = false)
    }
  }

  /** Dedup by component: keep only the min-id representative of every
    * connected component of `pairs`; rows not in any pair survive.
    */
  def dedupByComponent(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    val drops = minLabel(pairs, idA, idB)
      .filter(col("label") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }
}
