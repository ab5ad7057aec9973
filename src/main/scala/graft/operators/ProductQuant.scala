package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou, Douze & Schmid 2011, "Product
  * quantization for nearest neighbor search"): split the vector space
  * into `nSub` subspaces, learn a small codebook per subspace, encode
  * each corpus vector as `nSub` codes, and serve queries by ASYMMETRIC
  * distance computation — the query stays exact, each corpus vector is
  * approximated by its per-subspace codewords, and the query↔codeword
  * distances are precomputed once into a table the scan only LOOKS UP.
  *
  * Deterministic end to end, unlike float PQ: codebooks come from
  * [[KMeansInt.lloydRoundsFull]] (integer Lloyd, replayable), distance
  * tables are integer squared-L2, and the top-k total-orders on
  * (adist, id) — so the approximate result is still an exactly
  * oracle-checkable one. The [[Similarity]] posture: approximation
  * lives in the MODEL (codes), the arithmetic over it is exact.
  *
  * 100 TB shape (the point of PQ): the corpus compresses to `nSub`
  * small ints per vector — 64 quantized dims become 4 codes — and
  * serving is (a) a query-side distance table of |Q|·nSub·kCode longs
  * built against KB-sized codebooks, broadcast; (b) ONE narrow
  * projection over the codes (an `aggregate` of `nSub` array lookups —
  * no join, no shuffle touching vectors); (c) a per-query top-k via
  * `bounded_top_k` — k candidates per map task, |partitions|·|Q|
  * bounded shuffle buffers, the bound encoded in the operator itself.
  * Training cost is `nSub` independent [[KMeansInt]] runs on sliced
  * vectors.
  */
object ProductQuant {

  /** Top `topK` corpus ids per query by PQ-ADC distance. `corpus` is
    * `(idCol, vecCol: array<long>)` with dimension exactly
    * `nSub·subDim` (enforce upstream); `queries` likewise. Returns
    * `(qid, id, adist)`.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      qidCol: String,
      vecCol: String,
      nSub: Int,
      subDim: Int,
      kCode: Int,
      rounds: Int,
      topK: Int): DataFrame = {
    require(nSub >= 1 && subDim >= 1 && kCode >= 1 && topK >= 1,
      s"nSub/subDim/kCode/topK must be >= 1, got $nSub/$subDim/$kCode/$topK")
    // ids round-trip through bounded_top_k's long slot — the numeric-id
    // contract (Similarity.requireIntegralId rationale): loud here, not
    // silently-null neighbors downstream.
    require({
      import org.apache.spark.sql.types._
      Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(corpus.schema(idCol).dataType)
    }, s"pqTopK: id column '$idCol' must be an integral type, got " +
      corpus.schema(idCol).dataType)
    val (codes, cents) = trainEncode(corpus, idCol, vecCol, nSub, subDim, kCode, rounds)
    adcServe(codes, cents, queries, qidCol, vecCol, nSub, subDim, kCode, topK)
  }

  /** Codebooks + corpus encoding — the TRAINING half of [[pqTopK]],
    * shared verbatim with [[writePqIndex]] so the ad-hoc and indexed
    * paths cannot drift. Returns (`codes` = one row per id with the
    * nSub codewords, `cents` = the (m, cid, cv) codebooks).
    */
  private[graft] def trainEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nSub: Int,
      subDim: Int,
      kCode: Int,
      rounds: Int): (DataFrame, DataFrame) = {
    // train one integer-Lloyd codebook per subspace; the per-subspace
    // assignment IS the corpus encoding. r17: the nSub trainings run
    // as ONE (m, cid)-keyed grouped Lloyd loop — per-subspace loops
    // (even overlapped as concurrent futures) paid an eager centroid
    // pin per (subspace × round), and the PQ query family was
    // job-count-bound (48-82 jobs); the grouped loop pays one per
    // round for all subspaces and is row-identical per group (same
    // per-group seeding, floor-means, and argmin tie-breaks).
    val sv = corpus.select(col(idCol).as("id"),
      explode(expr(s"transform(sequence(0, ${nSub - 1}), " +
        s"m -> struct(m AS m, slice($vecCol, m * $subDim + 1, $subDim) AS v))"))
        .as("e"))
      .select(col("id"), col("e.m").as("m"), col("e.v").as("v"))
    val (assign, cents) =
      KMeansInt.lloydRoundsGrouped(sv, "m", "id", "v", kCode, rounds)
    // codes wide: one row per id, codes[m] = codeword in subspace m
    val codes = assign.withColumnRenamed("g", "m")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("m"), col("cid")))).as("mc"))
      .select(col("id"), expr("transform(mc, p -> p.cid)").as("codes"))
    (codes, cents.select(col("cid"), col("cv"), col("g").as("m")))
  }

  /** Per-query ADC distance table `(qid, dmap)` with
    * dmap[m·kCode + cid] = ‖q_m − c_cid‖² — built against the KB-sized
    * codebooks, broadcast by the serving paths. A MAP, not a flat
    * array: were a codebook cluster to empty, a positional array would
    * silently misindex every later slot — the map makes a vanished
    * codeword a loud NULL adist instead.
    */
  private[graft] def adcTable(
      cents: DataFrame,
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      nSub: Int,
      subDim: Int,
      kCode: Int): DataFrame = {
    val qs = queries.select(col(qidCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), explode(sequence(lit(0), lit(nSub - 1))).as("m"),
        col("qv"))
      .select(col("qid"), col("m"),
        expr(s"slice(qv, m * $subDim + 1, $subDim)").as("qv"))
    qs.join(cents, Seq("m"))
      // codegen kernel, not aggregate(zip_with(...)): HOF lambdas are
      // interpreted per element (r17 profile: the PQ families' scoring
      // projections dominated their wall time); same Long value
      .withColumn("d", graft.expressions.functions.l2sq_long(col("qv"), col("cv")))
      .groupBy(col("qid"))
      .agg(sort_array(collect_list(struct(col("m"), col("cid"), col("d"))))
        .as("mcd"))
      .select(col("qid"),
        expr(s"map_from_arrays(transform(mcd, p -> p.m * $kCode + p.cid), " +
          "transform(mcd, p -> p.d))").as("dmap"))
  }

  /** The ADC SERVING half of [[pqTopK]]: distance table against the
    * (KB-sized) codebooks, one narrow lookup projection over the
    * codes, bounded top-k. Pure integer arithmetic over (codes,
    * cents), so an indexed layout served through this path is
    * bit-identical to the ad-hoc job — the property that lets ONE
    * oracle check both (the sign-index precedent).
    */
  private[graft] def adcServe(
      codes: DataFrame,
      cents: DataFrame,
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      nSub: Int,
      subDim: Int,
      kCode: Int,
      topK: Int): DataFrame = {
    val dtab = adcTable(cents, queries, qidCol, vecCol, nSub, subDim, kCode)
    // serving: broadcast the tables, sum nSub lookups per (vector, query).
    // adc_sum codegen kernel, not aggregate(sequence, element_at(...)):
    // the interpreted HOF evaluated boxed per (code row × probe) and
    // dominated the serve half of the PQ family (r17 verdict #1); same
    // Long value with element_at's exact NULL-on-missing parity.
    val adist = codes.crossJoin(broadcast(dtab))
      .select(col("qid"), col("id"),
        graft.expressions.functions
          .adc_sum(col("codes"), col("dmap"), nSub, kCode).as("adist"))
    // Per-query top-k as bounded_top_k (adist asc, id asc) — the bound
    // lives in the operator (k candidates per map task, bounded shuffle
    // buffers), not in the WindowGroupLimit rewrite firing on a
    // row_number window. adist is a LONG but rides the aggregate's
    // double score losslessly: it is a sum of nSub squared-int
    // subspace distances, orders of magnitude under 2^53, so the
    // double mapping is injective and the (adist, id) total order is
    // preserved exactly; the output column casts back to LONG.
    val idType = adist.schema("id").dataType
    adist.groupBy(col("qid"))
      .agg(graft.expressions.functions
        .bounded_top_k(col("adist"), col("id"), topK, asc = true).as("tk"))
      .select(col("qid"), explode(col("tk")).as("e"))
      .select(col("qid"), col("e.id").cast(idType).as("id"),
        col("e.score").cast("long").as("adist"))
  }

  /** WRITE-ONCE PQ layout — the compressed-corpus serving shape
    * [[pqTopK]] only simulates: train + encode once, persist the codes
    * (nSub small ints per vector — the 100 TB corpus collapses to a
    * few bytes/row) and the KB-sized codebooks as parquet. Codebooks
    * land LAST and gate readers, so a half-written index is never
    * served. Everything persisted is integers, so the indexed query is
    * bit-identical to the ad-hoc job and the SAME oracle checks both
    * (the sign-index precedent — no equality certificate needed).
    */
  def writePqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      nSub: Int,
      subDim: Int,
      kCode: Int,
      rounds: Int): Unit = {
    require({
      import org.apache.spark.sql.types._
      Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(corpus.schema(idCol).dataType)
    }, s"writePqIndex: id column '$idCol' must be an integral type, got " +
      corpus.schema(idCol).dataType)
    val (codes, cents) = trainEncode(corpus, idCol, vecCol, nSub, subDim, kCode, rounds)
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    cents.write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Serve a [[writePqIndex]] layout: read the codes + codebooks and
    * run the shared [[adcServe]] tail. The scan touches ONLY the code
    * columns (bytes per row), never original vectors — the entire
    * point of the layout at corpus scale.
    */
  def queryPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      nSub: Int,
      subDim: Int,
      kCode: Int,
      topK: Int): DataFrame =
    adcServe(spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/codebooks"),
      queries, qidCol, vecCol, nSub, subDim, kCode, topK)

  /** IVF-PQ hybrid (the FAISS IVFPQ serving topology, sans residual
    * encoding): a coarse IVF quantizer prunes the corpus to each
    * query's `nProbe` nearest cells, and ONLY those cells' PQ codes go
    * through the ADC lookup — I/O and compute proportional to
    * `nProbe/nCentroids` of an already code-compressed corpus, the
    * production shape for billion-vector serving. Residuals are
    * deliberately NOT encoded: they would be floats, and the repo's
    * posture is approximation-in-the-model, exact-integer arithmetic
    * over it — so given the cell pruning, every emitted adist is
    * BIT-IDENTICAL to the full-PQ scan's for the same id (the property
    * q_ann_ivfpq certifies).
    *
    * `corpus`: (idCol, rawVecCol double-array — drives the IVF
    * assignment, same kernel as [[Similarity.ivfTopK]]) and
    * (intVecCol long-array of dimension nSub·subDim — drives PQ).
    * Returns (qid, id, adist) over the probed cells.
    */
  def ivfpqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      qidCol: String,
      rawVecCol: String,
      intVecCol: String,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      nSub: Int,
      subDim: Int,
      kCode: Int,
      rounds: Int,
      // coarse-quantizer quality saturates at a few thousand vectors
      // (trainCentroids' own contract); at 100k the float Lloyd pass
      // DOMINATED the whole serve (measured 38 s vs 2.6 s at a 200k-row
      // corpus — SCALE.md "Round-15: IVF-PQ"), so the hybrid defaults to a tight
      // sample where the flat-IVF path keeps the looser one
      maxTrainRows: Long = 20000L,
      pretrainedPq: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    import graft.expressions.{functions => gfn}
    require({
      import org.apache.spark.sql.types._
      Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(corpus.schema(idCol).dataType)
    }, s"ivfpqTopK: id column '$idCol' must be an integral type, got " +
      corpus.schema(idCol).dataType)
    val c = corpus.select(col(idCol).as("id"), col(rawVecCol).as("rv"),
      col(intVecCol).as("v"))
    val centroids = Similarity.trainCentroids(
      c.select(col("id"), col("rv").as("v")), nCentroids,
      refineIters = 1, maxTrainRows)
    val assigned = c.withColumn("cid", gfn.nearest_centroid(col("rv"), centroids))
    // callers comparing the hybrid against a full-PQ leg pass the SAME
    // (codes, cents) so training runs once, not per leg (trainEncode is
    // deterministic, so this changes cost, never results)
    val (codes, cents) = pretrainedPq.getOrElse(
      trainEncode(assigned, "id", "v", nSub, subDim, kCode, rounds))
    // codes re-attach their cell — at scale, persist (codes, cid)
    // partitionBy(cid) instead (writeIndex's layout, bytes per row)
    val codesCid = codes.join(assigned.select(col("id"), col("cid")), Seq("id"))
    val probes = Similarity.probeCells(
      queries.select(col(qidCol).as("query_id"), col(rawVecCol)),
      "query_id", rawVecCol, centroids, nProbe)
      .select(col("query_id").as("qid"), col("cid"))
    val dtab = adcTable(cents, queries, qidCol, intVecCol, nSub, subDim, kCode)
    serveCells(codesCid, probes, dtab, k, nSub, kCode)
  }

  /** Shared cell-pruned ADC tail of [[ivfpqTopK]] and
    * [[queryIvfpqIndex]] — join the probed cells' codes to the
    * broadcast probe set and distance tables, look up, bounded top-k.
    */
  private def serveCells(
      codesCid: DataFrame,
      probes: DataFrame,
      dtab: DataFrame,
      k: Int,
      nSub: Int,
      kCode: Int): DataFrame = {
    val idType = codesCid.schema("id").dataType
    codesCid.join(broadcast(probes), Seq("cid"))
      .join(broadcast(dtab), Seq("qid"))
      // adc_sum codegen kernel — see adcServe
      .select(col("qid"), col("id"),
        graft.expressions.functions
          .adc_sum(col("codes"), col("dmap"), nSub, kCode).as("adist"))
      .groupBy(col("qid"))
      .agg(graft.expressions.functions
        .bounded_top_k(col("adist"), col("id"), k, asc = true).as("tk"))
      .select(col("qid"), explode(col("tk")).as("e"))
      .select(col("qid"), col("e.id").cast(idType).as("id"),
        col("e.score").cast("long").as("adist"))
  }

  /** WRITE-ONCE IVF-PQ layout — the form in which the hybrid actually
    * pays off. SCALE.md "Round-15: IVF-PQ" measured the AD-HOC [[ivfpqTopK]]
    * LOSING to the plain full-ADC scan at every corpus multiple
    * (0.07–0.28×): the ad-hoc job must train the coarse quantizer,
    * assign cells, and run a corpus-sized codes⋈cells join before any
    * pruning helps, while full ADC is one narrow codegen pass. Persist
    * instead: codes land `partitionBy("cid")` (bytes per row), the
    * coarse model rides as model.json (the [[Similarity.writeIndex]]
    * layout), and every query scans ONLY its probed cells via
    * partition pruning — no join, no training, I/O ∝ nProbe/nCentroids
    * of an already code-compressed corpus.
    */
  def writeIvfpqIndex(
      corpus: DataFrame,
      idCol: String,
      rawVecCol: String,
      intVecCol: String,
      dir: String,
      nCentroids: Int,
      nSub: Int,
      subDim: Int,
      kCode: Int,
      rounds: Int,
      maxTrainRows: Long = 20000L): Unit = {
    import graft.expressions.{functions => gfn}
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("id"), col(rawVecCol).as("rv"),
      col(intVecCol).as("v"))
    val model = Similarity.IvfModel(Similarity.trainCentroids(
      c.select(col("id"), col("rv").as("v")), nCentroids,
      refineIters = 1, maxTrainRows), baseRows = c.count())
    val (codes, cents) = trainEncode(c, "id", "v", nSub, subDim, kCode, rounds)
    val assigned = c.withColumn("cid", gfn.nearest_centroid(col("rv"), model.centroids))
    codes.join(assigned.select(col("id"), col("cid")), Seq("id"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/codes")
    cents.write.mode("overwrite").parquet(s"$dir/codebooks")
    // model.json LAST and atomically — it gates readers
    Similarity.writeModelJson(spark, dir, model)
  }

  /** Encode rows against FROZEN per-subspace codebooks — the append-path
    * sibling of [[trainEncode]]'s final assignment, and exactly equal to
    * it for identical vectors: `lloydRoundsFull` assigns its LAST round
    * against the centroids it returns (no post-assignment update), and
    * both paths break distance ties with `min(struct(dist, cid))`.
    */
  private[graft] def encodeWithCodebooks(
      c: DataFrame, // (id, v)
      cents: DataFrame, // (cid, cv, m) — the persisted codebooks
      nSub: Int,
      subDim: Int): DataFrame =
    c.select(col("id"), explode(expr(
        s"""transform(sequence(0, ${nSub - 1}),
            m -> struct(m AS m, slice(v, m * $subDim + 1, $subDim) AS sv))"""))
        .as("e"))
      .select(col("id"), col("e.m").as("m"), col("e.sv").as("sv"))
      .join(broadcast(cents), Seq("m"))
      // codegen kernel (see adcTable) — identical Long squared-L2
      .withColumn("dist", graft.expressions.functions.l2sq_long(col("sv"), col("cv")))
      .groupBy(col("id"), col("m"))
      .agg(min(struct(col("dist"), col("cid"))).as("w"))
      .select(col("id"), col("m"), col("w.cid").as("cid"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("m"), col("cid")))).as("mc"))
      .select(col("id"), expr("transform(mc, p -> p.cid)").as("codes"))

  /** Incremental IVF-PQ maintenance — [[Similarity.appendToIndex]]'s
    * sibling for the code-compressed layout (r15 verdict gap #1): new
    * rows are PQ-encoded against the FROZEN codebooks, coarse-assigned
    * with the FROZEN centroids, appended into the existing `cid` code
    * partitions, and the model's staleness row bumps atomically LAST.
    * One pass over the new rows; no retrain, no rebuild; the serve
    * path's partition pruning is untouched. Same caller contract as
    * the IVF append (ids append-only; crash between code append and
    * model rewrite leaves a correct index with an undercounted
    * staleness row).
    */
  /** The code/codebook directory names the model POINTS AT — epoch 0
    * keeps the legacy `codes`/`codebooks` (every pre-r17 index on
    * disk), a compacted index reads `codes.e<N>`/`codebooks.e<N>`.
    * model.json is the atomic manifest: unlike the flat-IVF layout
    * (where cells stay CORRECT under any model because assignments
    * ride in the layout), PQ codes are only meaningful against the
    * codebooks they were trained with — the pointer flip is what keeps
    * codes and codebooks consistent at every instant.
    */
  private def codesName(model: Similarity.IvfModel): String =
    if (model.epoch == 0L) "codes" else s"codes.e${model.epoch}"
  private def codebooksName(model: Similarity.IvfModel): String =
    if (model.epoch == 0L) "codebooks" else s"codebooks.e${model.epoch}"

  def appendToIvfpqIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      newRows: DataFrame,
      idCol: String,
      rawVecCol: String,
      intVecCol: String,
      nSub: Int,
      subDim: Int): Similarity.IvfModel = {
    import graft.expressions.{functions => gfn}
    val model = Similarity.readModel(spark, dir)
    val cents = spark.read.parquet(s"$dir/${codebooksName(model)}")
    val c = newRows.select(col(idCol).as("id"), col(rawVecCol).as("rv"),
      col(intVecCol).as("v"))
    val n = c.count()
    val codes = encodeWithCodebooks(c.select(col("id"), col("v")), cents, nSub, subDim)
    val assigned = c.withColumn("cid", gfn.nearest_centroid(col("rv"), model.centroids))
    codes.join(assigned.select(col("id"), col("cid")), Seq("id"))
      .write.mode("append").partitionBy("cid").parquet(s"$dir/${codesName(model)}")
    val updated = model.copy(appendedRows = model.appendedRows + n)
    Similarity.writeModelJson(spark, dir, updated)
    updated
  }

  /** IVF-PQ compaction — [[Similarity.compactIndex]]'s sibling for the
    * code-compressed layout (r16 verdict #6, "retrain centroids AND
    * codebooks"): when staleness crosses `thresholdPm`, retrain the
    * coarse quantizer and the per-subspace codebooks on the CURRENT
    * corpus, re-encode everything into the next epoch's directories,
    * and flip model.json — the one atomic rename that keeps codes and
    * codebooks consistent at every instant (see [[codesName]]). Below
    * the threshold: telemetry-only no-op.
    *
    * Unlike the flat-IVF compaction, this one REQUIRES the source
    * `corpus` (id, raw vector, int vector): PQ codes are lossy — the
    * layout cannot regenerate the vectors it was built from, so the
    * maintenance loop hands the same table the appends came from (the
    * ingest pipeline has it by construction). Certified by
    * q_ann_ivfpq_compact: compacted-serve ≡ the ad-hoc hybrid under the
    * SAME retrained model+codebooks (fresh-build+serve with those
    * artifacts, by the writeIvfpqIndex construction), plus staleness
    * reset and row conservation.
    */
  def compactIvfpqIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      rawVecCol: String,
      intVecCol: String,
      nSub: Int,
      subDim: Int,
      kCode: Int,
      rounds: Int,
      thresholdPm: Long = 300L,
      maxTrainRows: Long = 20000L): Similarity.IvfModel = {
    import graft.expressions.{functions => gfn}
    val model = Similarity.readModel(spark, dir)
    if (model.stalenessPm < thresholdPm) return model
    val c = corpus.select(col(idCol).as("id"), col(rawVecCol).as("rv"),
      col(intVecCol).as("v"))
    val retrained = Similarity.IvfModel(Similarity.trainCentroids(
      c.select(col("id"), col("rv").as("v")), model.centroids.length,
      refineIters = 1, maxTrainRows),
      baseRows = c.count(), epoch = model.epoch + 1)
    val (codes, cents) = trainEncode(c, "id", "v", nSub, subDim, kCode, rounds)
    val assigned = c.withColumn("cid",
      gfn.nearest_centroid(col("rv"), retrained.centroids))
    // next epoch written complete while the live epoch still serves
    // (Overwrite clears any crashed prior attempt)
    codes.join(assigned.select(col("id"), col("cid")), Seq("id"))
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$dir/${codesName(retrained)}")
    cents.write.mode("overwrite").parquet(s"$dir/${codebooksName(retrained)}")
    Similarity.writeModelJson(spark, dir, retrained) // THE swap
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/${codesName(model)}"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/${codebooksName(model)}"), true)
    retrained
  }

  /** Clone an index's TRAINED ARTIFACTS (codebooks + coarse model, no
    * code rows, counts zeroed) into a fresh directory — the harness for
    * the append certificate: append everything into the clone and the
    * result must serve identically to write+append on the original.
    */
  def cloneIvfpqArtifacts(
      spark: org.apache.spark.sql.SparkSession,
      fromDir: String,
      toDir: String): Unit = {
    val m = Similarity.readModel(spark, fromDir)
    spark.read.parquet(s"$fromDir/${codebooksName(m)}")
      .write.mode("overwrite").parquet(s"$toDir/codebooks")
    // the clone starts at epoch 0 (its codebooks land at the legacy
    // path), counts zeroed — a fresh index born from trained artifacts
    Similarity.writeModelJson(spark, toDir,
      m.copy(baseRows = 0L, appendedRows = 0L, epoch = 0L))
  }

  /** Serve a [[writeIvfpqIndex]] layout: probe cells against the
    * persisted coarse model, scan ONLY those cells' code partitions
    * (`PartitionFilters: cid IN …`), ADC + bounded top-k. Bit-identical
    * to [[ivfpqTopK]] under the same model and codebooks.
    */
  def queryIvfpqIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      qidCol: String,
      rawVecCol: String,
      intVecCol: String,
      k: Int,
      nProbe: Int,
      nSub: Int,
      subDim: Int,
      kCode: Int): DataFrame = {
    val model = Similarity.readModel(spark, dir)
    val probes = Similarity.probeCells(
        queries.select(col(qidCol).as("query_id"), col(rawVecCol)),
        "query_id", rawVecCol, model.centroids, nProbe)
      .select(col("query_id").as("qid"), col("cid"))
      .localCheckpoint(true)
    val probedCells = probes.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).sorted
    val codesCid = spark.read.parquet(s"$dir/${codesName(model)}")
      .filter(col("cid").isin(probedCells.toSeq: _*))
    val dtab = adcTable(spark.read.parquet(s"$dir/${codebooksName(model)}"),
      queries, qidCol, intVecCol, nSub, subDim, kCode)
    serveCells(codesCid, probes, dtab, k, nSub, kCode)
  }
}
