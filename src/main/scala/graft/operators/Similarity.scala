package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.{functions => gfn}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set,
  *   one narrow pass over the corpus computing cosine (fused single-pass
  *   kernel, stays in whole-stage codegen), per-query top-k via window
  *   rank. The corpus is never shuffled on data size, only the final
  *   (query_id, k) rank.
  * - [[ivfTopK]]: scale path — deterministic sampled centroids, corpus
  *   partitioned by nearest-centroid once (write-once, query-many layout at
  *   100 TB), queries probe only the `nProbe` nearest centroid partitions.
  *   Turns full-corpus scans into `nProbe/nCentroids` fraction scans.
  */
object Similarity {

  /** Exact cosine top-k per query. `queries` must be small enough to
    * broadcast (the hint enforces it); corpus-side the plan is scan →
    * broadcast-NL-join → kernel → bounded-heap partial top-k. The rank
    * is a [[graft.expressions.BoundedTopKAgg]] (cosine desc, id asc),
    * NOT a per-query window: the window shape repartitions the whole
    * corpus onto |queries| partitions — with 5 probe queries at 10⁹
    * rows that is 5 tasks each sorting the corpus — while the aggregate
    * keeps k candidates per map task and shuffles only
    * |partitions|·|queries| bounded buffers.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int = 10): DataFrame = {
    val idType = requireIntegralId(corpus, idCol, "bruteForceTopK")
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine", gfn.cosine_sim(col("v"), col("qv")))
    scored.groupBy(col("query_id"))
      .agg(gfn.bounded_top_k(col("cosine"), col("id"), k, asc = false).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").cast(idType).as("neighbor_id"),
        round(col("col.score"), 6).as("cosine"),
        (col("pos") + 1).as("rank"))
  }

  /** IVF-style ANN: assign corpus rows to their nearest of `nCentroids`
    * deterministic sampled centroids; queries search only their `nProbe`
    * nearest centroids' rows. Same output shape as brute force (ANN may
    * miss true neighbors outside probed cells; raise nProbe for recall).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      refineIters: Int = 1,
      maxTrainRows: Long = 100000L,
      model: Option[IvfModel] = None): DataFrame = {
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))

    // The centroid model lives on the driver (nCentroids × dim doubles — a
    // few KB, the footprint of any broadcast k-means model) and rides into
    // the plan as an expression literal. Training is deterministic and runs
    // on a BOUNDED sample: centroid quality needs ~thousands of vectors,
    // not the corpus, so the Lloyd pass must not posexplode 100 TB by dim×.
    // The sample is hash-stratified (`xxhash64(id) % mod == 0` — same key,
    // same membership regardless of partitioning, the Sampling.hashSplit
    // discipline), sized by one column-pruned count; pass an explicit
    // `maxTrainRows` to tune. Seeding (nCentroids lowest-id vectors) and
    // every Lloyd step then scan only the sample. Each step is a NARROW
    // nearest-centroid projection (no join, no shuffle of vectors) followed
    // by a map-side-combined groupBy of (cid, pos, x) triples — every task
    // emits at most nCentroids × dim partial rows regardless of sample size.
    // An explicit `model` skips training entirely — callers comparing this
    // job against a [[writeIndex]] layout pass the layout's own model, so
    // the comparison certifies index mechanics, not re-training determinism
    // (parallel double summation is order-sensitive at the ulp level).
    val centroids = model.map(_.centroids)
      .getOrElse(trainCentroids(c, nCentroids, refineIters, maxTrainRows))

    // Corpus→cell assignment: zero-shuffle codegen projection.
    val assigned = c.withColumn("cid", gfn.nearest_centroid(col("v"), centroids))
    // At 100 TB: persist `assigned` partitioned BY cid instead — write once,
    // every query then prunes to nProbe cells via partition pruning. That
    // path is [[writeIndex]]/[[queryIndex]] below; this method keeps the
    // ad-hoc single-job shape for unindexed corpora.

    cosineTopK(assigned, probeCells(queries, queryIdCol, vecCol, centroids, nProbe), k)
  }

  /** Per-query nProbe nearest centroids: (query_id, qv, cid). Shared by
    * [[ivfTopK]] and [[queryIndex]] so the probe ranking (cid-asc
    * tiebreak) can never drift between the ad-hoc and indexed paths.
    * The rank is a `bounded_top_k` (qsim desc, cid asc) like every
    * other ANN leg — the bound (nProbe) lives in the operator, not in
    * a WindowGroupLimit rewrite firing; cids re-attach their query
    * vector via a broadcast self-join on the (small) query frame.
    */
  private[operators] def probeCells(
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centroidDf = broadcast(
      centroids.zipWithIndex.map { case (cv, i) => (i, cv) }.toSeq
        .toDF("cid", "cv"))
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"))
    val probed = q.crossJoin(centroidDf)
      .withColumn("qsim", gfn.cosine_sim(col("qv"), col("cv")))
      .groupBy(col("query_id"))
      .agg(gfn.bounded_top_k(col("qsim"), col("cid"), nProbe, asc = false).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e.id").cast("int").as("cid"))
    probed.join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("qv"), col("cid"))
  }

  /** Exact cosine + per-query top-k over (id, v, cid) rows joined to the
    * probe set — the shared tail of the ad-hoc and indexed IVF paths
    * (the rounding and tiebreak here ARE the output contract asserted
    * equal between them in IvfIndexSpec). The rank is a
    * [[graft.expressions.BoundedTopKAgg]] (cosine desc, id asc), not a
    * per-query window — same rationale as [[bruteForceTopK]]: k
    * candidates per map task, |partitions|·|queries| bounded shuffle
    * buffers, instead of the probed fraction of the corpus sorting in
    * |queries| tasks.
    */
  private def cosineTopK(cells: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val idType = requireIntegralId(cells, "id", "cosineTopK")
    cells.join(broadcast(probes), Seq("cid"))
      .withColumn("cosine", gfn.cosine_sim(col("v"), col("qv")))
      .groupBy(col("query_id"))
      .agg(gfn.bounded_top_k(col("cosine"), col("id"), k, asc = false).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").cast(idType).as("neighbor_id"),
        round(col("col.score"), 6).as("cosine"),
        (col("pos") + 1).as("rank"))
  }

  /** `bounded_top_k` routes ids through a lossless cast to LONG — a
    * string/decimal id would cast to NULL (dropped from results) or
    * round-trip lossily, so the numeric-id contract is checked LOUDLY
    * at operator entry rather than discovered as silently-missing
    * neighbors. Returns the original type for the cast back.
    */
  private def requireIntegralId(
      df: DataFrame,
      idCol: String,
      op: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    val t = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"$op: id column '$idCol' must be an integral type (byte/short/int/long) " +
        s"for the bounded-top-k long round-trip; got $t")
    t
  }

  /** Deterministic centroid training on a bounded hash-stratified sample
    * (shared by [[ivfTopK]] and [[writeIndex]] — see ivfTopK's scaladoc
    * for the sampling rationale). `df` must have columns (id, v).
    */
  private[graft] def trainCentroids(
      c: DataFrame,
      nCentroids: Int,
      refineIters: Int,
      maxTrainRows: Long): Array[Array[Double]] = {
    val corpusRows = c.count()
    val trainMod = math.max(1L, corpusRows / math.max(1L, maxTrainRows))
    // The sample is BOUNDED (≈ maxTrainRows vectors) by construction, so
    // persisting it is safe at any corpus size — and the seed scan plus
    // every Lloyd pass then read the materialized sample instead of
    // re-running the parquet scan + hash filter per job (the r3 shape's
    // ~2 s of repeated fixed overhead at sf0.1).
    val train =
      (if (trainMod == 1L) c
       else c.filter(pmod(xxhash64(col("id")), lit(trainMod)) === 0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids: Array[Array[Double]] = train.orderBy(col("id")).limit(nCentroids)
        .select(col("v").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val dim = centroids.headOption.map(_.length).getOrElse(0)
      for (_ <- 0 until refineIters) {
        val meanRows = train
          .select(gfn.nearest_centroid(col("v"), centroids).as("cid"),
            posexplode(col("v").cast("array<double>")).as(Seq("pos", "x")))
          // ragged corpus vectors longer than the seed dimension would index
          // past the centroid arrays below — drop the excess positions here,
          // inside the distributed aggregation
          .filter(col("pos") < lit(dim))
          .groupBy(col("cid"), col("pos"))
          .agg(avg(col("x")).as("m"))
          .collect()
        val next = centroids.map(_.clone()) // cells that lost all rows keep their centroid
        meanRows.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
        centroids = next
      }
      centroids
    } finally {
      train.unpersist(blocking = false)
      ()
    }
  }

  /** The centroid model: a few KB of doubles, serializable to one JSON
    * line so an index written once is queryable from any later session.
    *
    * `baseRows`/`appendedRows` track index STALENESS for the
    * [[appendToIndex]] path: rows encoded with centroids trained on
    * them vs rows encoded post-training with FROZEN centroids. The
    * per-mille staleness is the retrain signal an append-heavy ingest
    * pipeline watches — centroids drift as the appended fraction grows
    * and recall with it.
    */
  final case class IvfModel(
      centroids: Array[Array[Double]],
      baseRows: Long = 0L,
      appendedRows: Long = 0L,
      epoch: Long = 0L) {
    /** Per-mille fraction of the indexed corpus encoded after training. */
    def stalenessPm: Long =
      if (baseRows + appendedRows <= 0) 0L
      else appendedRows * 1000 / (baseRows + appendedRows)
    def toJson: String = {
      val cs = centroids.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{"centroids":$cs,"base_rows":$baseRows,"appended_rows":$appendedRows,"epoch":$epoch}"""
    }
  }

  object IvfModel {
    /** Parses ALL shapes: the r17 object form (with `epoch` — the
      * compaction generation whose data directories the model points
      * at), the r16 object form (no epoch → 0, the legacy directory
      * names), and the legacy bare centroid array (pre-append indexes
      * on disk keep reading; their counts are unknown → 0, staleness 0).
      */
    def fromJson(s: String): IvfModel = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = m.readTree(s)
      val node = if (root.isArray) root else root.get("centroids")
      val cs = (0 until node.size).map { i =>
        val row = node.get(i)
        Array.tabulate(row.size)(j => row.get(j).asDouble)
      }.toArray
      if (root.isArray) IvfModel(cs)
      else IvfModel(cs, root.get("base_rows").asLong,
        root.get("appended_rows").asLong,
        Option(root.get("epoch")).map(_.asLong).getOrElse(0L))
    }
  }

  /** The cell-data directory name the model POINTS AT: epoch 0 keeps
    * the legacy `cells` (every pre-r17 index on disk), a compacted
    * index reads `cells.e<epoch>`. model.json is thus the atomic
    * MANIFEST of the layout — readers resolve data through it, so a
    * compaction becomes visible in exactly one rename.
    */
  private[operators] def cellsName(model: IvfModel): String =
    if (model.epoch == 0L) "cells" else s"cells.e${model.epoch}"

  /** Public resolver of the model's live cell-data directory — external
    * auditors (row-conservation certificates, ops tooling) must go
    * through the manifest exactly like [[queryIndex]] does.
    */
  def cellsDir(dir: String, model: IvfModel): String = s"$dir/${cellsName(model)}"

  /** WRITE-ONCE bucketed IVF layout — the 100 TB serving shape the ad-hoc
    * [[ivfTopK]] job only simulates: train centroids (bounded sample, as
    * in ivfTopK), assign with the zero-shuffle kernel, and persist the
    * corpus `partitionBy("cid")` so every later query scans only its
    * `nProbe` cells via PARTITION PRUNING (`PartitionFilters: cid IN …` in
    * the scan — asserted in IvfIndexSpec). The model rides alongside as
    * one JSON file. Write cost is one corpus pass + one shuffle-free
    * partitioned write; queries never touch the other `1 - nProbe/n` of
    * the data, which is the entire point at scale.
    */
  def writeIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      nCentroids: Int = 16,
      refineIters: Int = 1,
      maxTrainRows: Long = 100000L): IvfModel = {
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val model = IvfModel(trainCentroids(c, nCentroids, refineIters, maxTrainRows),
      baseRows = c.count())
    // A NaN/Infinity in a centroid would serialize as a bare token that is
    // not valid JSON (unreadable forever by queryIndex) — fail at write.
    require(model.centroids.forall(_.forall(java.lang.Double.isFinite)),
      "IVF centroids contain NaN/Infinity (non-finite corpus vectors?) — refusing to write index")
    writeCells(c, model, dir, SaveMode.Overwrite)
    writeModelJson(spark, dir, model)
    model
  }

  /** Encode rows with the model's FROZEN centroids and write them into
    * the `dir/cells` partitioned layout — shared by the initial
    * [[writeIndex]] and every [[appendToIndex]], so "append then serve"
    * is BY CONSTRUCTION identical to "encode everything with the same
    * model then serve" (IvfIndexSpec pins it).
    */
  private def writeCells(
      c: DataFrame, model: IvfModel, dir: String,
      mode: org.apache.spark.sql.SaveMode,
      cellsName: String = "cells"): Unit =
    c.withColumn("cid", gfn.nearest_centroid(col("v"), model.centroids))
      .write.mode(mode).partitionBy("cid").parquet(s"$dir/$cellsName")

  /** Incremental index maintenance — the operator a daily-ingest
    * pipeline hits first (r15 verdict gap #1): encode `newRows` with
    * the index's FROZEN centroids and APPEND them into the existing
    * `cid` partition directories, then atomically bump the model's
    * `appendedRows`. No retrain, no rebuild: one pass over the NEW
    * rows only, a partitioned append (new files land inside existing
    * cell directories, so [[queryIndex]]'s partition pruning is
    * untouched), and the few-KB model rewrite.
    *
    * Because cell assignment is a pure function of (vector, frozen
    * centroids), append+serve ≡ full-encode-with-same-model+serve —
    * the q_ann_ivf_append certificate. What DOES drift is recall vs a
    * RETRAINED index: `model.json` carries base/appended row counts
    * and [[IvfModel.stalenessPm]] as the retrain signal.
    *
    * Caller contract: ids are append-only (re-sending an id duplicates
    * it — upstream dedup owns identity, as with any write-once layout).
    * Crash between the cell append and the model rewrite leaves a
    * CORRECT index (queries scan all cell files) with an undercounted
    * staleness row; re-running the append duplicates rows — idempotent
    * ingest should stage-and-commit at the orchestration layer.
    */
  def appendToIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      newRows: DataFrame,
      idCol: String,
      vecCol: String): IvfModel = {
    val model = readModel(spark, dir)
    val c = newRows.select(col(idCol).as("id"), col(vecCol).as("v"))
    val n = c.count()
    writeCells(c, model, dir, SaveMode.Append, cellsName(model))
    val updated = model.copy(appendedRows = model.appendedRows + n)
    writeModelJson(spark, dir, updated) // atomic swap LAST — gates readers
    updated
  }

  /** Index maintenance loop closer (r16 verdict #6) — the third verb of
    * the write/append/serve lifecycle: when [[IvfModel.stalenessPm]]
    * reaches `thresholdPm`, RETRAIN centroids on the full indexed corpus
    * (the same bounded-sample Lloyd as [[writeIndex]] — reading the
    * live cell layout itself, so compaction never needs the original
    * source table), re-encode every row with the new model into the
    * NEXT EPOCH's directory, and flip model.json; below the threshold it
    * is a telemetry-only no-op returning the current model. After
    * compaction the model reads baseRows = |corpus|, appendedRows = 0 —
    * staleness resets — and compact+serve ≡ fresh-build+serve BY
    * CONSTRUCTION: both paths are [[writeIndex]]'s own train/encode/
    * write over the identical row set (the q_ann_ivf_compact certificate
    * pins the serve side against the ad-hoc job with the compacted
    * model, the same-model discipline of the append certificate —
    * retraining twice and comparing would grade ulp-level parallel-
    * summation noise, not the operator).
    *
    * Swap discipline (r17, the manifest-pointer pattern every table
    * format uses): data directories are IMMUTABLE per epoch
    * (`cells` = epoch 0, `cells.e<N>` after) and model.json is the
    * manifest readers resolve them through, so the compaction becomes
    * visible in exactly ONE atomic rename — no window where the live
    * directory is missing or half-swapped. A crash before the model
    * write leaves the old epoch fully intact (the new epoch's orphan
    * directory is overwritten by the retry); the old epoch's directory
    * is deleted only after the pointer lands.
    *
    * Scale shape: one bounded-sample training pass + one full-corpus
    * encode/write — the same cost as the original [[writeIndex]], paid
    * only when the staleness signal says recall is at risk; appends
    * stay O(new rows) the rest of the time.
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      thresholdPm: Long = 300L,
      refineIters: Int = 1,
      maxTrainRows: Long = 100000L,
      nCentroids: Int = 0): IvfModel = {
    val model = readModel(spark, dir)
    if (model.stalenessPm < thresholdPm) return model
    val k = if (nCentroids > 0) nCentroids else model.centroids.length
    val corpus = spark.read.parquet(s"$dir/${cellsName(model)}")
      .select(col("id"), col("v"))
    val retrained = IvfModel(trainCentroids(corpus, k, refineIters, maxTrainRows),
      baseRows = corpus.count(), epoch = model.epoch + 1)
    require(retrained.centroids.forall(_.forall(java.lang.Double.isFinite)),
      "IVF centroids contain NaN/Infinity after retrain — refusing to compact")
    // the next epoch's directory: written complete while the live epoch
    // still serves (Overwrite clears any crashed prior attempt)
    writeCells(corpus, retrained, dir, SaveMode.Overwrite, cellsName(retrained))
    writeModelJson(spark, dir, retrained) // THE swap — one atomic rename
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/${cellsName(model)}"), true)
    retrained
  }

  /** Atomic model persist (write-then-rename): model.json must never
    * exist half-written — index callers gate their fixture caches on
    * its existence. Shared by [[writeIndex]] and
    * [[graft.operators.ProductQuant.writeIvfpqIndex]].
    */
  private[operators] def writeModelJson(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      model: IvfModel): Unit = {
    val modelPath = new org.apache.hadoop.fs.Path(s"$dir/model.json")
    val tmpPath = new org.apache.hadoop.fs.Path(s"$dir/model.json.tmp")
    val fs = modelPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmpPath, true)
    try out.write(model.toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(modelPath, false)
    if (!fs.rename(tmpPath, modelPath))
      sys.error(s"could not move $tmpPath to $modelPath")
  }

  /** The persisted model of a [[writeIndex]] layout (a few KB of JSON). */
  def readModel(spark: org.apache.spark.sql.SparkSession, dir: String): IvfModel = {
    val modelPath = new org.apache.hadoop.fs.Path(s"$dir/model.json")
    val fs = modelPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(modelPath)
    val json =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    IvfModel.fromJson(json)
  }

  /** Query a [[writeIndex]] layout: rank centroids per query (driver-side
    * over the broadcast-scale model), then scan ONLY the probed cells —
    * `filter(cid isin ...)` reaches the parquet scan as a partition
    * filter, so I/O is proportional to nProbe/nCentroids of the corpus.
    * Output shape matches [[ivfTopK]] / [[bruteForceTopK]].
    */
  def queryIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int = 10,
      nProbe: Int = 4): DataFrame = {
    val model = readModel(spark, dir)

    // localCheckpoint: the probe plan (crossJoin + window) feeds BOTH the
    // driver-side cell-id collect and the final join — materialize it once
    // instead of executing the subplan twice. Probe sets are tiny
    // (nProbe × |queries| rows).
    val probes = probeCells(queries, queryIdCol, vecCol, model.centroids, nProbe)
      .localCheckpoint(true)

    // The probed cell ids as plan literals → partition pruning at the scan.
    val probedCells = probes.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).sorted
    val cells = spark.read.parquet(s"$dir/${cellsName(model)}")
      .filter(col("cid").isin(probedCells.toSeq: _*))
    cosineTopK(cells, probes, k)
  }

  /** Binary sign quantization of a float vector's first 64 dims as TWO
    * 32-bit BIGINT words (lo = dims 1–32, hi = 33–64; bit i set when
    * the component is > 0). Two words, not one, so bit 31/63 never
    * touches a sign bit — XOR + bit_count stay portable across engines.
    */
  /** (id, lo, hi) sign signatures for a vector table — the thin
    * 24-byte/row leg of [[signBitTopK]] (scale numbers: SCALE.md
    * "Round-14: sign-bit ANN prefilter de-windowed").
    */
  private def signSignatures(
      df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), signWord(col("v"), 0).as("lo"),
        signWord(col("v"), 32).as("hi"))

  private def signWord(vec: Column, offset: Int): Column =
    aggregate(
      zip_with(
        slice(vec, offset + 1, 32),
        sequence(lit(0), lit(31)),
        (x, i) =>
          when(x > lit(0f), call_function("shiftleft", lit(1L), i))
            .otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc + b)

  /** Binary-quantized ANN (the sign/"binary embedding" mode every
    * production vector store ships — 1 bit/dim prefilter, exact rerank;
    * Charikar 2002 sign-random-projection is the theory, identity
    * hyperplanes the storage-native variant): corpus vectors compress
    * 256× to two sign words; candidates are the `prefilterK` smallest
    * Hamming distances per query; ONLY those rejoin their float vectors
    * for the exact-cosine top-`k` rerank.
    *
    * Scale shape: the full-corpus leg carries (id, lo, hi) = 24
    * bytes/row — the vectors themselves never move until the candidate
    * set is |queries|·prefilterK. Signatures are computed in one narrow
    * codegen pass (in production they'd be a materialized column). The
    * Hamming prefilter is a [[graft.expressions.BoundedTopKAgg]]
    * (map-side partial top-k, |partitions|·|queries| bounded buffers on
    * the shuffle), NOT a per-query window — the window shape would sort
    * the whole signature table inside a handful of |queries| tasks.
    * Only the final rerank is a window, over the
    * |queries|·prefilterK candidate rows.
    */
  def signBitTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      k: Int = 5,
      prefilterK: Int = 20): DataFrame = {
    val indexed = signSignatures(corpus, idCol, vecCol)
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("v")), Seq("id"))
    signTopKFrom(indexed, queries, queryIdCol, vecCol, k, prefilterK)
  }

  /** Persist the sign-bit index: ONE parquet of (id, lo, hi, v) — the
    * materialized-signature layout [[signBitTopK]] computes on the fly.
    * Parquet's columnar pruning makes the split free: the Hamming
    * prefilter scan reads (id, lo, hi) = 24 bytes/row (ReadSchema shows
    * it), the rerank's vector fetch reads (id, v) for the candidate
    * join only. Write once at ingest, query many.
    */
  def writeSignIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String): Unit = {
    signSignatures(corpus, idCol, vecCol)
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("v")), Seq("id"))
      .write.mode("overwrite").parquet(s"$dir/signs")
    ()
  }

  /** Query a persisted [[writeSignIndex]] layout — bit-identical to the
    * ad-hoc [[signBitTopK]] because sign words are integers (no float
    * retraining drift to certify around, unlike the IVF index).
    */
  def querySignIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int = 5,
      prefilterK: Int = 20): DataFrame =
    signTopKFrom(spark.read.parquet(s"$dir/signs"), queries, queryIdCol,
      vecCol, k, prefilterK)

  /** Shared sign-bit pipeline over an (id, lo, hi, v) corpus frame —
    * computed or loaded — so the ad-hoc and indexed paths cannot drift.
    */
  private def signTopKFrom(
      indexed: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      vecCol: String,
      k: Int,
      prefilterK: Int): DataFrame = {
    val idType = requireIntegralId(indexed, "id", "signTopK")
    val qVec = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"))
    // Thin leg: ids + signatures only — the vector column is pruned out.
    val ham = indexed.select(col("id"), col("lo"), col("hi"))
      .crossJoin(broadcast(signSignatures(queries, queryIdCol, vecCol)
        .select(col("id").as("query_id"), col("lo").as("q_lo"),
          col("hi").as("q_hi"))))
      .withColumn("hamming",
        expr("CAST(bit_count(lo ^ q_lo) + bit_count(hi ^ q_hi) AS BIGINT)"))
    val cand = ham.groupBy(col("query_id"))
      .agg(gfn.bounded_top_k(col("hamming"), col("id"), prefilterK, asc = true)
        .as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e.id").cast(idType).as("id"),
        col("e.score").cast("long").as("hamming"))
    // Rerank: only |queries|·prefilterK rows rejoin their vectors.
    val wFin = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    cand
      .join(indexed.select(col("id"), col("v")), Seq("id"))
      .join(broadcast(qVec), Seq("query_id"))
      .withColumn("cosine", round(gfn.cosine_sim(col("v"), col("qv")), 6))
      .withColumn("rank", row_number().over(wFin).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("hamming"), col("cosine"), col("rank"))
  }
}
