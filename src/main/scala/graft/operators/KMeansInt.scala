package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-round Lloyd k-means (Lloyd 1982) over INTEGER vectors, the
  * clustering step of corpus-curation pipelines (SemDeDup-style cluster-
  * then-prune, domain discovery, stratified mixing) made exactly
  * replayable: distances are integer squared-L2, centroid updates are
  * element-wise FLOOR-MEANS (`sum div count`), ties in the argmin break
  * to the smallest centroid id, and seeding is the k smallest-id input
  * vectors — so a fixed round count is a bit-identical, oracle-checkable
  * result on any engine. Float k-means cannot be hash-compared across
  * engines (accumulation-order ulps move points across Voronoi
  * boundaries); integer k-means converges the same way (each round still
  * minimizes within-cluster SSE up to the floor) and CAN.
  *
  * Callers quantize float embeddings first — a power-of-two scale
  * (`round(x·2^b)`, optionally shifted non-negative) keeps the
  * quantization itself exact in IEEE arithmetic.
  *
  * Semantics per round: assign every vector to the nearest CURRENT
  * centroid, then recompute centroids from the assignment; the result is
  * the LAST round's assignment `(id, cid, dist)` (against the round's
  * incoming centroids — the classic "E-step output" of a fixed-budget
  * Lloyd run). A cluster that empties simply drops (its cid vanishes;
  * deterministic, and mirrored exactly by any replay).
  *
  * 100 TB shape: the corpus pins once; each round is one broadcast of
  * the k×dim centroid table against the corpus (a narrow codegen
  * zip_with/aggregate projection — no shuffle for distances), one
  * map-side-combined argmin aggregate (`min(struct(dist, cid))` — k·N
  * rows reduce to N before the exchange), and one posexplode partial
  * aggregate for the update whose final state is k·dim rows. Driver
  * state is zero; centroid frames are k rows, eagerly checkpointed per
  * round (a bounded action) and released after the final assignment.
  */
object KMeansInt {

  /** `rounds` Lloyd rounds at `k` over `(idCol, vecCol: array<long>)`;
    * all vectors must share one dimension (zip_with silently truncates
    * otherwise — enforce upstream). Returns `(id, cid, dist)`.
    */
  def lloydRounds(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int): DataFrame = {
    val (assign, cents) = lloydRoundsFull(df, idCol, vecCol, k, rounds)
    Checkpoints.release(Seq(cents)) // codebook unused by this caller
    assign
  }

  /** [[lloydRounds]] plus the codebook: returns `(assignment,
    * centroids)` where `centroids` is `(cid, cv: array<long>)` — the
    * table the FINAL assignment was scored against (the model a
    * product-quantization encoder or a serving-time cell router needs
    * alongside the codes). Both frames are eagerly checkpointed;
    * intermediates are released.
    */
  def lloydRoundsFull(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int): (DataFrame, DataFrame) = {
    // one training = the grouped loop over a single constant group
    val (assign, cents) = lloydRoundsGrouped(
      df.select(lit(0).as("g"), col(idCol).as("id"), col(vecCol).as("v")),
      "g", "id", "v", k, rounds)
    (assign.drop("g"), cents.drop("g"))
  }

  /** The one Lloyd loop, for MANY INDEPENDENT trainings at once:
    * `gCol` names the training group (e.g. the PQ subspace index) and
    * every group runs the same fixed-round Lloyd — seeding, floor-mean
    * updates, and argmin tie-breaks all scoped per group, so the
    * result is row-identical to |groups| separate [[lloydRoundsFull]]
    * runs (which is this loop over one group). Every frame pins
    * through [[Checkpoints.pin]]. The point is the ACTION count: per-subspace training paid
    * one eager centroid pin per (group × round) — concurrent futures
    * overlap the jobs but not the driver's planning — while this loop
    * pays one per round for all groups together (r17; the PQ families
    * were job-count-bound at 48-82 jobs each). Returns
    * `(assignment (g, id, cid, dist), centroids (g, cid, cv))`.
    */
  def lloydRoundsGrouped(
      df: DataFrame,
      gCol: String,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val base = Checkpoints.pin(
      df.select(col(gCol).as("g"), col(idCol).as("id"), col(vecCol).as("v")), eager = false)
    val pins = scala.collection.mutable.Buffer[DataFrame](base)
    // per-group deterministic seeding: the k smallest ids of each
    // group, cids 0..k-1 in id order (k rows per group — bounded)
    var cents = Checkpoints.pin(base
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("id"))))
      .filter(col("__rn") <= k)
      .select(col("g"), (col("__rn") - 1).cast("long").as("cid"),
        col("v").as("cv")))
    pins += cents
    var assign: DataFrame = null
    for (r <- 1 to rounds) {
      val scored = base.join(broadcast(cents), Seq("g"))
        .withColumn("dist",
          graft.expressions.functions.l2sq_long(col("v"), col("cv")))
      assign = scored.groupBy(col("g"), col("id"))
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("g"), col("id"), col("m.cid").as("cid"),
          col("m.dist").as("dist"))
      if (r < rounds) {
        val a = Checkpoints.pin(assign, eager = false)
        pins += a
        val cn = Checkpoints.pin(a.join(base, Seq("g", "id"))
          .select(col("g"), col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("g"), col("cid"), col("pos"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("c"))
          .select(col("g"), col("cid"), col("pos"), expr("s div c").as("m"))
          .groupBy(col("g"), col("cid"))
          .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("g"), col("cid"), expr("transform(pm, p -> p.m)").as("cv")))
        pins += cn
        cents = cn
      }
    }
    val result = Checkpoints.pin(assign)
    val finalCents = cents
    Checkpoints.release(pins.filterNot(_ eq finalCents).toSeq)
    (result, finalCents)
  }
}
