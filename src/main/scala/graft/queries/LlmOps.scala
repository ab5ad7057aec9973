package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.operators.{Chunking, Components, Contamination, Dedup, EvalOps, Multimodal, Packing, Quantize, Retrieval, Sampling, Similarity, Stats, TextAnalysis, TimeSeries}
import graft.expressions.{functions => gfn}

/** The beyond-parity LLM-training-data-pipeline operators as driver-checkable
  * queries: dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), similarity search (brute-force + IVF), text analysis
  * (token counting, quality, language-ID, fingerprinting), multimodal
  * plumbing.
  *
  * Oracles: everything exactly expressible in DuckDB SQL gets one (exact
  * dedup, token counts, quality features, fingerprints, langid — the last
  * three via list lambdas/`regexp_extract_all`; n-gram Jaccard and
  * decontamination via word-n-gram STRING sets, whose cardinalities equal
  * the engine's FNV-hash sets modulo collisions). Engine-specific outputs
  * (HLL sketches, IVF probes) are oracled as INVARIANT certificates —
  * integer bounds or equivalence booleans DuckDB can state as literals, so
  * the driver hash fails iff the invariant breaks. The MinHash-LSH and
  * embedding-LSH paths are graded by exact-ground-truth certificates
  * (DuckDB recomputes the all-pairs truth; zero false positives + a recall
  * floor). The SimHash surfaces, rows-only through r8, are now replayed
  * in full: FNV-1a 64 as a HUGEINT lambda fold, bit-majority votes, and
  * the banded pair join checked against the quadratic Hamming truth.
  */
object LlmOps {

  /** The q_dedup_cc / q_dedup_canonical blocking graph: same-lang pairs
    * with n_chars within ±1 over the bounded doc set. ONE definition so
    * the two queries (and their paired oracle CTEs) cannot
    * desynchronize on the predicate.
    */
  private def ccBlockingPairs(docs: DataFrame): DataFrame = {
    val a = docs.select(col("doc_id").as("id_a"), col("lang"), col("n_chars").as("nc_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("lang"), col("n_chars").as("nc_b"))
    a.join(b, Seq("lang"))
      .filter(col("id_a") < col("id_b") && abs(col("nc_a") - col("nc_b")) <= 1)
      .select("id_a", "id_b")
  }

  /** Spread a CORPUS-SIZED scan before a heavy exploder ONLY when it
    * actually arrives under-split (r18, verdict #6): the local testdata
    * parquet is one row group ⇒ one scan partition, which serialized
    * tokenize/gram kernels on a single core (the r17 doc-spread
    * rationale) — but at 100 TB the same scan arrives with thousands of
    * splits and an unconditional repartition would add a full text
    * shuffle real inputs never need. Gate on the OBSERVED scan
    * partition count (physical planning only — no job runs); bounded
    * eval-set spreads stay unconditional, they are small by design.
    */
  private def spreadIfNarrow(df: DataFrame, key: String): DataFrame = {
    val dp = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(1, dp / 2))
      df.repartition(dp, col(key))
    else df
  }

  /** Distinct (key, token-3-gram-shingle) pairs over `keyCol`, the shared
    * substrate of q_source_overlap and q_set_cover. Shingles are built
    * with index-lambda `transform` over the whitespace token array —
    * pure projection, codegen-friendly, and byte-mirrored by a DuckDB
    * list comprehension in the oracles.
    */
  private def keyedShingles(docs: DataFrame, keyCol: String): DataFrame =
    docs
      .withColumn("toks", filter(split(col("text"), " "), x => x =!= ""))
      .filter(size(col("toks")) >= 3)
      .select(col(keyCol), explode(expr(
        "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("sh"))
      .distinct()

  /** Paired weekly series per event type — x = Mon–Fri event count,
    * y = Sat–Sun count — the ONE frame both q_wilcoxon and q_sign_test
    * read (and both oracles replay), so the pairing cannot drift
    * between the two paired tests. Weeks truncate to Monday in both
    * engines; Spark `weekday() < 5` ≡ DuckDB `isodow() <= 5` = Mon–Fri.
    * Scale shape: two partial-agg shuffles over the calendar-bounded
    * daily rollup — the raw event volume only touches the first.
    */
  private def weekdayWeekendPairs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("wk", date_trunc("week", col("day")).cast("date"))
      .groupBy(col("event_type"), col("wk"))
      .agg(sum(when(weekday(col("day")) < 5, col("n")).otherwise(0L)).as("x"),
        sum(when(weekday(col("day")) >= 5, col("n")).otherwise(0L)).as("y"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cross-source shingle overlap: for every source pair, how many
    // distinct token-3-gram shingles they share — the exact form of the
    // corpus-contamination / provenance-audit matrix. One shingle-keyed
    // exchange builds the distinct (source, shingle) set; the pair
    // expansion joins that set to itself ON THE SHINGLE KEY, so a
    // shingle shared by s sources expands to s·(s-1)/2 rows — bounded
    // by the (small) source count, never by the corpus. At real corpus
    // scale the same matrix comes from per-source MinHash signatures;
    // this is the exact formulation the sketch estimates.
    // N-gram novelty: per doc, the share of its distinct word trigrams
    // whose FIRST corpus occurrence (min doc_id over the shingle) is
    // this doc — near-dups and boilerplate-heavy docs score ~0, fresh
    // text ~1; the doc-level complement of q_vocab_growth's corpus
    // curve and a cheap pre-filter before the LSH dedup passes.
    // Integer counts + one guarded division (docs under 3 tokens have
    // no shingles and are absent, identically on both sides).
    "q_ngram_novelty" -> ((s, d) => {
      // doc-spread before the shingle explode — gated on observed
      // split count (see spreadIfNarrow)
      val sh = keyedShingles(
        spreadIfNarrow(Tables.documents(s, d), "doc_id"),
        "doc_id")
        .localCheckpoint(false)
      val firsts = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(firsts, Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_shingles").cast("double"))
            .as("novelty"))
        .orderBy("doc_id")
    }),

    // Shapley data valuation (Shapley 1953; Ghorbani & Zou 2019's
    // coverage rendering) of three sources against the shingle-
    // coverage game v(S) = |distinct trigram shingles any member of S
    // contributes|: the marginal worth of each source ACCOUNTING for
    // overlap — the number a data-purchasing decision actually wants,
    // where q_source_overlap's pairwise table only hints. With n = 3
    // the permutation weights are exact sixths, so shap_x6 = 2v_i +
    // (v_ij − v_j) + (v_ik − v_k) + 2(v_N − v_jk) is a pure integer;
    // efficiency Σshap_x6 = 6·v_N is asserted in the spec. One
    // shingle-mask census (8 bounded cells), never a subset re-scan.
    "q_shapley_coverage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("source").isin("src0", "src1", "src2"))
      val mask = keyedShingles(docs, "source")
        .groupBy(col("sh"))
        .agg(max(when(col("source") === "src0", 1L).otherwise(0L)).as("b0"),
          max(when(col("source") === "src1", 1L).otherwise(0L)).as("b1"),
          max(when(col("source") === "src2", 1L).otherwise(0L)).as("b2"))
      val c = mask.agg(
        sum(when(col("b0") === 1, 1L).otherwise(0L)).as("v0"),
        sum(when(col("b1") === 1, 1L).otherwise(0L)).as("v1"),
        sum(when(col("b2") === 1, 1L).otherwise(0L)).as("v2"),
        sum(when(col("b0") === 1 || col("b1") === 1, 1L).otherwise(0L)).as("v01"),
        sum(when(col("b0") === 1 || col("b2") === 1, 1L).otherwise(0L)).as("v02"),
        sum(when(col("b1") === 1 || col("b2") === 1, 1L).otherwise(0L)).as("v12"),
        count(lit(1)).as("vn"))
      c.select(expr("""stack(3,
          'src0', v0, 2*v0 + (v01 - v1) + (v02 - v2) + 2*(vn - v12),
          'src1', v1, 2*v1 + (v01 - v0) + (v12 - v2) + 2*(vn - v02),
          'src2', v2, 2*v2 + (v02 - v0) + (v12 - v1) + 2*(vn - v01))
          AS (source, v_single, shap_x6)"""),
        col("vn").as("v_all"))
        .orderBy("source")
    }),

    "q_source_overlap" -> ((s, d) => {
      val srcs = Seq("src0", "src1", "src2", "src3", "src4")
      val sh = keyedShingles(
        Tables.documents(s, d).filter(col("source").isin(srcs: _*)), "source")
        .localCheckpoint(false)
      val counts = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val ca = counts.select(col("source").as("src_a"), col("n").as("n_a"))
      val cb = counts.select(col("source").as("src_b"), col("n").as("n_b"))
      sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(ca), Seq("src_a"))
        .join(broadcast(cb), Seq("src_b"))
        .select("src_a", "src_b", "n_shared", "n_a", "n_b")
        .orderBy("src_a", "src_b")
    }),

    // Greedy maximum-coverage data selection
    // ([[graft.operators.SetCover.greedyMaxCoverage]] under the oracle):
    // 3 rounds over the doc/shingle incidence set, each selecting the
    // doc that covers the most still-uncovered shingles,
    // smallest-doc_id tie-break. The oracle unrolls the same greedy as
    // a 3-stage CTE chain — every pick and every gain replayed exactly.
    "q_set_cover" -> ((s, d) => {
      val td = keyedShingles(
        Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id")
      val picks = graft.operators.SetCover
        .greedyMaxCoverage(td, "doc_id", "sh", k = 3)
      import s.implicits._
      picks.toDF("round", "doc_id", "gain")
    }),

    // Jaro-Winkler name-similarity matrix
    // ([[graft.expressions.JaroWinkler]], a codegen Catalyst expression,
    // under DuckDB's NATIVE jaro_winkler_similarity — two independent
    // implementations of Winkler 1990 agreeing pair-by-pair to 6
    // decimals, thresholds applied to the ROUNDED value so the kept set
    // is boundary-stable). Pairs come from the DISTINCT name vocabulary
    // (value-pair pattern — bounded by the vocabulary, not the table);
    // for unbounded name sets the Ed-Join prefix filter
    // ([[graft.operators.FuzzyJoin]]) is the scale path.
    "q_name_similarity" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name")).distinct()
        .localCheckpoint(false)
      val a = names.select(col("p_name").as("name_a"))
      val b = names.select(col("p_name").as("name_b"))
      a.join(b, col("name_a") < col("name_b"))
        .withColumn("jw", round(gfn.jaro_winkler(col("name_a"), col("name_b")), 6))
        .filter(col("jw") >= 0.8)
        .select("name_a", "name_b", "jw")
        .orderBy("name_a", "name_b")
    }),

    // Inverted-index construction — the IR artifact BM25 serves from,
    // materialized: per token, document frequency, total postings, and
    // the head of the (doc_id, position)-sorted posting list rendered
    // as a string (string_agg-with-ORDER semantics exist in both
    // engines; raw collect_list order would be partition-dependent).
    // One exchange on the token key; posting lists are per-token state,
    // exactly how a sharded index builds at scale.
    "q_inverted_index" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(filter(split(col("text"), " "), x => x =!= "")))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
      toks.groupBy(col("tok"))
        .agg(
          countDistinct(col("doc_id")).as("df_docs"),
          count(lit(1)).as("n_postings"),
          array_join(
            transform(
              slice(sort_array(collect_list(struct(col("doc_id"), col("pos")))), 1, 3),
              e => concat(e.getField("doc_id"), lit(":"), e.getField("pos"))),
            ",").as("head_postings"))
        .orderBy("tok")
    }),

    // Last-touch attribution — each purchase credited to the user's most
    // recent preceding click/view (the marketing-analytics as-of over an
    // event stream), via IGNORE-NULLS last_value over a 1-PRECEDING
    // frame on the (ts, event_id) total order. Gap emitted in exact
    // integer microseconds (unix_micros/epoch_us — no float time
    // arithmetic). Per-user window: no global sort.
    "q_attribution" -> ((s, d) => {
      val touch = when(col("event_type").isin("click", "view"), col("event_id"))
      val touchTy = when(col("event_type").isin("click", "view"), col("event_type"))
      val touchTs = when(col("event_type").isin("click", "view"), col("ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .withColumn("touch_id", last(touch, ignoreNulls = true).over(w))
        .withColumn("touch_type", last(touchTy, ignoreNulls = true).over(w))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(last(touchTs, ignoreNulls = true).over(w)))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("touch_id"), col("touch_type"), col("gap_us"))
        .orderBy("purchase_id")
    }),

    // Cross-fold leakage audit — the composition every CV split needs
    // before anyone trusts a validation score: near-duplicate pairs
    // (q_ngram_jaccard's exact cross-multiplied cut) joined to the
    // portable-md5 fold assignment (q_kfold's); a pair spanning folds
    // is leakage (its validation half is memorized by its training
    // half). Both ingredients are already independently oracled; here
    // DuckDB replays their composition — every pair, both folds, and
    // the leak verdict.
    "q_fold_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 50)
      val a = docs.select(col("doc_id").as("id_a"),
        Dedup.shingles(col("text"), 2, ascii = true).as("sh_a"))
      val b = docs.select(col("doc_id").as("id_b"),
        Dedup.shingles(col("text"), 2, ascii = true).as("sh_b"))
      val inter = gfn.inter_count_sorted(col("sh_a"), col("sh_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), inter.as("n_inter"),
          (size(col("sh_a")) + size(col("sh_b")) - inter).as("n_union"))
        .filter(col("n_inter") * 20 >= col("n_union") && col("n_union") > 0)
        .withColumn("fold_a", Sampling.kFold(col("id_a"), 5))
        .withColumn("fold_b", Sampling.kFold(col("id_b"), 5))
        .withColumn("leaks", col("fold_a") =!= col("fold_b"))
        .orderBy("id_a", "id_b")
    }),

    // Three edit metrics side by side over the distinct-name pairs —
    // Spark's built-in levenshtein beside the repo's codegen
    // [[graft.expressions.DamerauLevenshtein]] (full variant) and
    // [[graft.expressions.HammingDistance]] (equal-length pairs only,
    // null otherwise — DuckDB's hamming ERRORS on unequal lengths, so
    // both engines guard with the same length predicate). All-integer
    // outputs: the hash compares exactly, no rounding layer.
    "q_edit_distances" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name")).distinct()
        .localCheckpoint(false)
      val a = names.select(col("p_name").as("name_a"))
      val b = names.select(col("p_name").as("name_b"))
      a.join(b, col("name_a") < col("name_b"))
        .withColumn("lev", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("lev") <= 4)
        .select(col("name_a"), col("name_b"), col("lev"),
          gfn.damerau_levenshtein(col("name_a"), col("name_b")).cast("long").as("dlev"),
          when(length(col("name_a")) === length(col("name_b")),
            gfn.hamming(col("name_a"), col("name_b"))).cast("long").as("ham"))
        .orderBy("name_a", "name_b")
    }),

    // Robust per-source scaling statistics — the outlier-insensitive
    // (median, MAD) pair feature pipelines standardize with when means
    // are skew-poisoned. Both statistics are LOWER order statistics
    // (rank (n+1) div 2 on a (value, id) total order), so everything
    // stays integer and replays exactly; two per-source rank windows,
    // no global window, per-source stats broadcast back onto the docs.
    "q_robust_scale" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val ranked = docs
        .withColumn("rk", row_number().over(
          w.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(w.partitionBy(col("source"))))
      val med = ranked.filter(col("rk") === expr("(n + 1) div 2"))
        .select(col("source"), col("n_chars").as("med"))
      val dev = docs.join(broadcast(med), Seq("source"))
        .withColumn("dev", abs(col("n_chars") - col("med")))
      val mad = dev
        .withColumn("rk", row_number().over(
          w.partitionBy(col("source")).orderBy(col("dev"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(w.partitionBy(col("source"))))
        .filter(col("rk") === expr("(n + 1) div 2"))
        .select(col("source"), col("dev").as("mad"))
      dev.join(broadcast(mad), Seq("source"))
        .select("doc_id", "source", "n_chars", "med", "dev", "mad")
        .orderBy("doc_id")
    }),

    // Quantile normalization across sources
    // ([[graft.operators.QuantileNorm.normalize]] under the oracle):
    // every doc's length score re-expressed as the POOLED order
    // statistic at its within-source quantile — Bolstad et al. 2003's
    // batch-effect correction, the calibration step before per-source
    // quality scores feed one mixture policy. All integer rank
    // arithmetic; the pooled statistic resolves against the
    // distinct-value cumulative spine (broadcast), never a
    // corpus-global window.
    "q_quantile_norm" -> ((s, d) => {
      graft.operators.QuantileNorm.normalize(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        "source", "n_chars", "doc_id")
        .select("doc_id", "source", "n_chars", "src_rank", "target_idx", "norm_val")
        .orderBy("doc_id")
    }),

    // Deterministic domain interleave (the epoch-schedule step after
    // mixture sampling): global training position pos = rank·|domains| +
    // domain_index, a CLOSED FORM — one per-domain window for the rank
    // plus a broadcast of the (vocabulary-sized) domain index; no global
    // row_number, no single-partition window, nothing corpus-global. The
    // schedule round-robins domains so no training window sees a
    // single-domain run, and re-runs reproduce it bit-for-bit on any
    // engine (pure integer arithmetic).
    "q_interleave" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // pinned so the n_src aggregate and the broadcast join share ONE
      // materialization of the domain index (unpinned, each subtree
      // would re-scan the corpus for the distinct)
      val idx = docs.select(col("source")).distinct()
        .withColumn("src_idx",
          (row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("source"))) - 1).cast("long"))
        .localCheckpoint(false)
      val nSrc = idx.agg(count(lit(1)).as("n_src"))
      val ranked = docs.select(col("doc_id"), col("source"))
        .withColumn("rk",
          (row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("source")).orderBy(col("doc_id"))) - 1).cast("long"))
      ranked.join(broadcast(idx), Seq("source"))
        .crossJoin(broadcast(nSrc))
        .select(col("doc_id"), col("source"), col("src_idx"), col("rk"),
          (col("rk") * col("n_src") + col("src_idx")).as("pos"))
        .orderBy("pos")
    }),
    // ---------------- dedup ----------------
    "q_dedup_exact" -> ((s, d) => {
      Dedup.exact(Tables.documents(s, d), "doc_id", Seq("text"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // maxBucketSize: the 100 TB hot-bucket guardrail (degenerate
    // boilerplate buckets go quadratic), exercised live in the driver
    // suite. 500 is ~5x the observed sf0.1 max band-bucket (105), so the
    // cap is armed but drops nothing at this scale; at corpus scale set it
    // near the p99.9 bucket size.
    //
    // Exact-ground-truth certificate (oracled since r6; rows-only r3-r5):
    // DuckDB independently computes the all-pairs word-bigram Jaccard truth
    // as STRING sets (cardinalities ≡ the engine's FNV-hash sets modulo
    // collisions — the proven q_ngram_jaccard mirror; ascii = true pins
    // both sides to the same tokenizer), so n_true_pairs is a real
    // cross-engine check of the shingle/Jaccard kernels. The LSH leg is
    // graded by n_false_pos = 0 (structural: every emitted pair passed the
    // exact sorted-merge verify, and the integer truth threshold
    // 5·inter >= union is equivalent to the verify's inter/union >= 0.2 —
    // IEEE division of the same ints can't cross a gap of 1/(5·union))
    // plus a recall floor. The quadratic truth join is bounded to
    // doc_id < 1000 (the certificate's verification primitive, like
    // q_ngram_jaccard) while the LSH runs the production banded path on
    // the same bound. RECALL FLOOR IS DATA-DEPENDENT: measured 25/25 at
    // sf0.01 and 7/7 at sf0.1 (the banding probability at j >= 0.2 with
    // 32×2 bands leaves no misses on this corpus); the floor certifies
    // >= 80% — re-measure before blaming the engine if the corpus
    // generator changes. FALSIFIABILITY (proven through the full driver
    // gate, r6): verify-threshold 1.01 (zero hits) turns this row red in
    // tools/oracle_check.py; mild flips (0.45, 0.95) stay green because
    // every truth pair on this corpus has Jaccard >= 0.909 — the floor
    // binds against a broken LSH leg, not against threshold nudges.
    // LSH banding guarantee curve for q_dedup_minhash's parameters
    // (64 hashes as 32 bands x 2 rows): collision probability
    // p = 1 - (1 - s^2)^32 over a 20-point Jaccard grid — the table
    // that justifies (or indicts) the banding choice before a corpus-
    // sized run. Powers by a FIXED squaring chain (q2,q4,...,q32),
    // one tree both engines replay bitwise; the grid is generated, no
    // table scanned.
    "q_lsh_scurve" -> ((s, d) => {
      val grid = s.range(1, 21).toDF("i")
        .withColumn("s_pm", col("i") * 50)
      val sd = col("s_pm").cast("double") / lit(1000.0)
      val q = lit(1.0) - sd * sd
      val q2 = q * q
      val q4 = q2 * q2
      val q8 = q4 * q4
      val q16 = q8 * q8
      val q32 = q16 * q16
      grid.select(col("s_pm"), (lit(1.0) - q32).as("p_collide"))
        .orderBy("s_pm")
    }),

    "q_dedup_minhash" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 1000)
      val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.2, numHashes = 64, bands = 32, shingleSize = 2,
        maxBucketSize = 500, ascii = true)
        .select(col("id_a"), col("id_b"), lit(1L).as("__hit"))
      val sh = docs.select(col("doc_id").as("id"),
        Dedup.shingles(col("text"), 2, ascii = true).as("sh"))
      val truth = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
        .crossJoin(broadcast(sh.select(col("id").as("id_b"), col("sh").as("sh_b"))))
        .filter(col("id_a") < col("id_b"))
        .withColumn("n_inter", gfn.inter_count_sorted(col("sh_a"), col("sh_b")))
        .withColumn("n_union", size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))
        .filter(col("n_inter") * 5 >= col("n_union") && col("n_union") > 0)
        .select("id_a", "id_b")
      truth.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .crossJoin(lsh.join(truth, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).as("n_false_pos")))
        .select(col("n_true_pairs"), col("n_false_pos"),
          (col("n_hits") * 5 >= col("n_true_pairs") * 4).as("recall_ok"))
    }),

    // maxHamming = 3 → 4 × 16-bit bands: the classic simhash near-dup
    // setting. Banding recall is EXACT at the threshold (pigeonhole, see
    // simhashNearDupPairs); higher thresholds narrow the bands and blow up
    // candidate volume quadratically, so keep it tight at corpus scale.
    "q_dedup_simhash" -> ((s, d) => {
      Dedup.simhashNearDupPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // Connected components over a similarity graph: the transitive-closure
    // step of dedup clustering. The pair graph here (same lang, n_chars
    // within 1) is SQL-expressible, so the distributed min-label/pointer-
    // jumping loop is oracle-checked against DuckDB's recursive CTE.
    // Bounded to 500 docs: this synthetic pair predicate goes quadratic
    // with corpus size (real dedup feeds minLabel the SPARSE pairs an LSH
    // family emits — see Dedup.minhashDedup); the bound pins the oracle
    // while keeping the graph non-trivial.
    "q_dedup_cc" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Components.minLabel(ccBlockingPairs(docs)).orderBy("id")
    }),

    // Duplicate-cluster size distribution over the proven components:
    // how many clusters of each size the blocking graph produces — the
    // dedup capacity-planning histogram (a fat tail here means a hot
    // verification bucket later). Two bounded re-aggregations of the
    // min-label table.
    "q_dedup_cluster_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Components.minLabel(ccBlockingPairs(docs))
        .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    }),

    // Triangle count (Components.triangleCount): the wedge-close two-join
    // shape over the same blocking graph as q_dedup_cc — graph analytics
    // beyond components, oracled against DuckDB's 3-way self-join.
    "q_triangles" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Components.triangleCount(ccBlockingPairs(docs))
    }),

    // Per-node local clustering (Graphs.localClustering) over the same
    // blocked near-dup graph as q_triangles: which docs sit in
    // near-cliques (template/boilerplate families) vs bridge hubs —
    // the node-level texture the global triangle count flattens out.
    "q_clustering_coeff" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.operators.Graphs.localClustering(ccBlockingPairs(docs))
        .orderBy("id")
    }),

    // Degree assortativity (Graphs.assortativity) of the same graph:
    // do high-degree docs pair with high-degree docs? One exact-moment
    // Pearson over symmetrized edge endpoints, the regression
    // determinism discipline.
    "q_assortativity" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.operators.Graphs.assortativity(ccBlockingPairs(docs))
    }),

    // Rich-club coefficient (Graphs.richClub) at degree cuts 2/4/8 on
    // the same blocked near-dup graph: does the highly-connected
    // elite wire to itself beyond what q_assortativity's one
    // correlation number implies? φ(k) as floored per-milles — cuts
    // cost conditional-sum COLUMNS on one edge⋈degree join, never a
    // scan per cut.
    "q_rich_club" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.operators.Graphs.richClub(ccBlockingPairs(docs),
        "id_a", "id_b", cuts = Seq(2, 4, 8))
    }),

    // Undirected triad census (Graphs.triadCensus) of the same graph:
    // the empty / one-edge / wedge / triangle decomposition of ALL
    // C(n,3) vertex triples, from closed forms over degrees + the one
    // wedge-closure triangle join — the structural fingerprint behind
    // q_triangles' single count and q_clustering_coeff's per-node
    // texture, with no triple ever materialized.
    "q_triad_census" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.operators.Graphs.triadCensus(ccBlockingPairs(docs),
        "id_a", "id_b")
    }),

    // Integer PageRank (PageRank.integerPageRank under the oracle): 3
    // exact fixed-point iterations over the DIRECTED supplier graph
    // "R-supplier → A-supplier within one order". The direction makes
    // the edge set asymmetric and the sf0.01 degrees spread 1..93, so a
    // src/dst swap, an in-for-out-degree mixup, or a missed round all
    // change scores (the undirected co-supply graph is COMPLETE at
    // sf0.01 — uniform scores, vacuous oracle). Float PageRank can
    // never be hash-compared across engines; the integer formulation
    // makes a fixed iteration count bit-identical, so DuckDB replays
    // every round. The per-order pair expansion is bounded by order
    // width, the standard within-group blocking shape.
    "q_pagerank" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("src"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val pairs = ra.join(ab, Seq("l_orderkey")).filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      graft.operators.PageRank.integerPageRank(pairs, "src", "dst", iters = 3)
        .select(col("id").as("s_suppkey"), col("score").as("pr"))
        .orderBy("s_suppkey")
    }),

    // Katz centrality (Graphs.katzRounds) on the same supplier
    // co-occurrence graph as q_pagerank — the DIVISION-FREE member of
    // the centrality row: damped walk counting (α = 1/4, horizon 3)
    // instead of PageRank's per-round floored share diffusion, so the
    // whole series is exact integer arithmetic emitted ×4³ and the
    // DuckDB replay is a straight-line join chain with no
    // renormalization pins to mirror.
    "q_katz" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("src"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val pairs = ra.join(ab, Seq("l_orderkey")).filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      graft.operators.Graphs.katzRounds(pairs, "src", "dst", rounds = 3)
        .select(col("id").as("s_suppkey"), col("katz_num"))
        .orderBy("s_suppkey")
    }),

    // TextRank (Mihalcea & Tarau 2004): PageRank.integerPageRank run
    // on the word co-occurrence graph instead of the supplier graph —
    // non-stopword tokens are nodes, window-2 co-occurrence (over the
    // FILTERED sequence, re-indexed by the per-doc window) the
    // undirected edges, and the stationary mass the keyword salience.
    // The graph-centrality alternative to q_rake's degree/frequency
    // heuristic: RAKE rewards words living in long phrases, TextRank
    // words that BRIDGE many contexts — corpus-card keyword lists read
    // both. Same integer fixed point (×10¹² scale, 15% teleport, 3
    // rounds), same one-shuffle round shape; top-20 pruned by
    // TakeOrderedAndProject before the rank window.
    "q_textrank" -> ((s, d) => {
      val stopAll = graft.operators.TextAnalysis.stopwords
        .flatMap(_._2).distinct
      val toks = Tables.documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id"),
          posexplode(gfn.ascii_tokens(col("text"))).as(Seq("pos", "tok")))
        .filter(!col("tok").isInCollection(stopAll))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val ld = toks.withColumn("t1", lead(col("tok"), 1).over(w))
        .withColumn("t2", lead(col("tok"), 2).over(w))
      val fwd = ld.select(col("tok").as("src"), col("t1").as("dst"))
        .unionAll(ld.select(col("tok").as("src"), col("t2").as("dst")))
        .filter(col("dst").isNotNull && col("src") =!= col("dst"))
      val edges = fwd
        .unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      graft.operators.PageRank.integerPageRank(edges, "src", "dst", iters = 3)
        .orderBy(col("score").desc, col("id").asc)
        .limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("id").asc)))
        .select(col("rank").cast("long").as("rank"), col("id").as("tok"),
          col("score"))
        .orderBy("rank")
    }),

    // Weighted PageRank ([[graft.operators.PageRank.weightedPageRank]]
    // under the oracle): the SAME supplier graph kept as a weighted
    // multigraph (edge weight = number of shared orders) instead of
    // collapsed to distinct pairs — mass flows proportionally to
    // co-occurrence frequency, the signal the unweighted rank throws
    // away. Integer fixed point with the per-edge product in
    // DECIMAL(38,0); DuckDB replays all 3 rounds bit-identically.
    "q_wpagerank" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("src"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val pairs = ra.join(ab, Seq("l_orderkey")).filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      graft.operators.PageRank.weightedPageRank(pairs, "src", "dst", "w", iters = 3)
        .select(col("id").as("s_suppkey"), col("score").as("wpr"))
        .orderBy("s_suppkey")
    }),

    // Newman-Girvan modularity witnesses (Newman & Girvan 2004) of the
    // NATION partition over the undirected co-return supplier graph:
    // does shared-order co-occurrence concentrate within nations?
    // Q = Σ_c (e_c/m − (d_c/2m)²) cross-multiplies to the exact
    // per-community integer contrib_x4m2 = 4·m·e_c − d_c² (Q·4m² is
    // their sum) — zero doubles, and the partition under audit is a
    // JOIN (supplier→nation), so the oracle needs no iterative
    // community replay. Scale shape: one distinct-pair spine pinned
    // once feeding |m|, degrees, and intra-edge counts; the label map
    // is dimension-sized broadcast. 64-bit headroom: 4·m·e_c tops out
    // ~4·10¹⁴ at 10⁷ edges; past ~10⁹ edges route through
    // DECIMAL(38,0) as QuantileNorm does.
    "q_modularity" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("a"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("b"))
      val und = ra.join(ab, Seq("l_orderkey")).filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v"))
        .distinct()
        .localCheckpoint(true) // feeds m, degrees, AND intra counts
      val m = und.count()
      val lab = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey").as("id"), col("n_name").as("comm"))
      val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val dSum = deg.join(broadcast(lab), Seq("id"))
        .groupBy(col("comm"))
        .agg(sum(col("deg")).as("d_sum"), count(lit(1)).as("n_nodes"))
      val intra = und
        .join(broadcast(lab.select(col("id").as("u"), col("comm").as("cu"))),
          Seq("u"))
        .join(broadcast(lab.select(col("id").as("v"), col("comm").as("cv"))),
          Seq("v"))
        .filter(col("cu") === col("cv"))
        .groupBy(col("cu").as("comm")).agg(count(lit(1)).as("e_intra"))
      dSum.join(intra, Seq("comm"), "left")
        .select(col("comm"), col("n_nodes"), col("d_sum"),
          coalesce(col("e_intra"), lit(0L)).as("e_intra"),
          lit(m).as("m_edges"),
          (lit(4L) * lit(m) * coalesce(col("e_intra"), lit(0L))
            - col("d_sum") * col("d_sum")).as("contrib_x4m2"))
        .orderBy("comm")
    }),

    // Personalized PageRank ([[graft.operators.PageRank
    // .personalizedPageRank]] under the oracle): the same directed
    // supplier graph as q_pagerank, but teleport mass lands only on
    // NATION_1's suppliers — scores measure proximity to that seed set,
    // the related-item primitive. Integer fixed point: DuckDB replays
    // all 3 rounds bit-identically, seed conditionals included.
    "q_ppr" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("src"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val pairs = ra.join(ab, Seq("l_orderkey")).filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      val seeds = Tables.supplier(s, d).filter(col("s_nationkey") === 1)
        .select(col("s_suppkey"))
      graft.operators.PageRank
        .personalizedPageRank(pairs, "src", "dst", seeds, "s_suppkey", iters = 3)
        .select(col("id").as("s_suppkey"), col("score").as("ppr"))
        .orderBy("s_suppkey")
    }),

    // Multi-source BFS hop counts ([[graft.operators.Graphs.bfsHops]]
    // under the oracle): min-hop distance from the src0 seed docs over
    // the q_dedup_cc blocking graph — the "distance from a trusted seed
    // set" signal of crawl prioritization / graph quality propagation.
    // The blocking graph is sparse and chained by n_chars, so hops
    // spread 0..2 at sf0.01 and the maxHops=4 cap exercises the
    // empty-frontier early stop; DuckDB replays via a recursive CTE
    // (first-visit-wins ≡ min(hop) under the hop<cap guard).
    "q_bfs_hops" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
      val pairs = ccBlockingPairs(docs.select("doc_id", "lang", "n_chars"))
      // blocking similarity is symmetric: direct both ways
      val edges = pairs.union(
        pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      val seeds = docs.filter(col("source") === "src0").select("doc_id")
      graft.operators.Graphs.bfsHops(edges, "id_a", "id_b", seeds, "doc_id", maxHops = 4)
        .orderBy("id")
    }),

    // Harmonic centrality (Graphs.harmonicCentrality) of a bounded
    // seed cohort over the same blocking graph: Σ 1/d within 3 hops,
    // exact as 2520 div hop — the disconnection-safe closeness
    // (unreached nodes contribute 0, no infinite-distance case). ONE
    // multi-source labeled BFS shares the edge scan across all seeds
    // instead of |seeds| sequential runs.
    "q_harmonic_centrality" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
      val pairs = ccBlockingPairs(docs.select("doc_id", "lang", "n_chars"))
      val edges = pairs.union(
        pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      val seeds = docs.filter(col("source") === "src0" && col("doc_id") < 100)
        .select("doc_id")
      graft.operators.Graphs.harmonicCentrality(
          edges, "id_a", "id_b", seeds, "doc_id", maxHops = 3)
        .orderBy("id")
    }),

    // Pivot betweenness (Graphs.pivotBetweenness — Brandes & Pich
    // 2007) on the q_ecc_pivots cohort: which documents sit ON the
    // shortest paths between the 8 lowest-id pivots of the blocking
    // graph — the brokerage signal the degree/harmonic/eccentricity
    // row cannot see (a low-degree node can still carry every
    // geodesic). σ path counts ride the multi-source BFS frontier;
    // each unordered pivot pair contributes ⌊1000·σ_sv·σ_vt/σ_st⌋
    // per mille, floored PER PAIR, with σ_sv·σ_vt ≤ σ_st keeping
    // every contribution ≤ 1000 — the oracle replays the exact walk
    // census via a UNION ALL recursive CTE (a min-hop walk IS a
    // shortest path, so counting walks at the min hop counts paths).
    "q_betweenness" -> ((s, d) => {
      // rank-chain graph: per lang, docs ordered by (n_chars, doc_id),
      // each linked to the next 1-3 ranks (symmetrized) — a graph with
      // LONG geodesics and genuine path multiplicity (steps {1,2,3}
      // compose a rank gap many ways), unlike the clique-fragmented
      // blocking graph where every reachable pivot pair is adjacent.
      // Pivots: ranks 1 and 9 per lang (rank gap 8 ⇒ distance 3,
      // σ_st = 3 compositions) — cross-lang pairs are unreachable and
      // contribute nothing, by construction.
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      val ranked = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("r", row_number().over(w).cast("long"))
      val e1 = ranked.select(col("lang"), col("doc_id").as("id_a"),
          col("r").as("ra"))
        .join(ranked.select(col("lang"), col("doc_id").as("id_b"),
          col("r").as("rb")), Seq("lang"))
        .filter((col("rb") - col("ra")).between(1, 3))
        .select("id_a", "id_b")
      val edges = e1.union(
        e1.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      val seeds = ranked.filter(col("r") === 1 || col("r") === 9)
        .select("doc_id")
      graft.operators.Graphs.pivotBetweenness(
          edges, "id_a", "id_b", seeds, "doc_id", maxHops = 4)
        .filter(col("bc_x1000") > 0)
        .orderBy("id")
    }),

    // Pivot eccentricities + the double-sweep diameter sandwich
    // (Magnien, Latapy & Habib 2009): BFS from the 8 lowest-id nodes
    // of the blocking graph; each pivot's eccentricity LOWER-bounds
    // the diameter and 2·min(ecc) UPPER-bounds it — the standard
    // bounded-pivot answer to "how wide is this graph" when an exact
    // all-pairs sweep is O(V·E) and off the table at scale. ONE
    // multi-source labeled BFS (shared edge scan, q_harmonic_centrality
    // shape); `saturated` flags a pivot that hit the hop cap, in which
    // case its ecc reads "≥ cap" and the upper bound is void — the
    // honesty bit the fixed cap needs.
    "q_ecc_pivots" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
      val pairs = ccBlockingPairs(docs.select("doc_id", "lang", "n_chars"))
      val edges = pairs.union(
        pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        .localCheckpoint(true) // seeds AND the BFS share it
      val seeds = edges.select(col("id_a").as("id")).distinct()
        .orderBy("id").limit(8)
      val dist = graft.operators.Graphs.multiSourceBfs(
        edges, "id_a", "id_b", seeds, "id", maxHops = 6)
        .localCheckpoint(true) // per-pivot agg + at-ecc census share it
      val per = dist.filter(col("hop") > 0)
        .groupBy(col("seed"))
        .agg(count(lit(1)).as("n_reached"),
          max(col("hop")).cast("long").as("ecc"))
      val atEcc = dist.join(per.select(col("seed"), col("ecc")), Seq("seed"))
        .filter(col("hop") === col("ecc"))
        .groupBy(col("seed")).agg(count(lit(1)).as("n_at_ecc"))
      val bounds = per.agg(max(col("ecc")).as("diam_lb"),
        (min(col("ecc")) * 2).as("diam_ub2x"))
      per.join(atEcc, Seq("seed"))
        .crossJoin(broadcast(bounds))
        .select(col("seed"), col("n_reached"), col("ecc"), col("n_at_ecc"),
          col("diam_lb"), col("diam_ub2x"),
          (col("ecc") === 6L).as("saturated"))
        .orderBy("seed")
    }),

    // Fixed-round k-core peeling ([[graft.operators.Graphs.kcoreRounds]]
    // under the oracle): 3 peeling rounds at k=3 over the same blocking
    // graph (34 -> 28 -> 28 survivors at sf0.01 — genuinely iterative,
    // converged inside the budget). Fixed rounds keep the DuckDB replay
    // a straight-line CTE chain, the integer-PageRank contract.
    "q_kcore" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.operators.Graphs.kcoreRounds(ccBlockingPairs(docs), "id_a", "id_b",
          k = 3, rounds = 3)
        .orderBy("id")
    }),

    // Fixed-round densest-subgraph peel ([[graft.operators.Graphs
    // .densestRounds]]): Bahmani–Kumar–Vassilvitskii's MapReduce-native
    // 2(1+ε)-approximation over the same blocking graph — every round
    // BATCH-peels all nodes below (1+ε)× the average degree (that's
    // the O(log n)-round trick Charikar's one-at-a-time peel lacks),
    // and the densest trajectory prefix is the answer. ε = 0.1
    // (epsPm = 100), 4 rounds; the peel test and the per-round density
    // are cross-multiplied integers, the best round flagged (ties →
    // earliest). The dense-community extractor BETWEEN q_kcore's
    // degree floor and q_ktruss's triangle support.
    "q_densest" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.operators.Graphs.densestRounds(ccBlockingPairs(docs),
          "id_a", "id_b", epsPm = 100L, rounds = 4)
        .orderBy("round")
    }),

    // Fixed-round 4-truss peel ([[graft.operators.Graphs.trussRounds]]
    // under the oracle): 2 rounds dropping edges with triangle support
    // < 2 over the same blocking graph — the EDGE-level near-clique
    // backbone q_kcore's degree peel only approximates (a hub passes
    // k-core on degree alone; it survives the truss only inside
    // overlapping triangles). Support recomputed on the final
    // subgraph rides along as the witness.
    "q_ktruss" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.operators.Graphs.trussRounds(ccBlockingPairs(docs), "id_a", "id_b",
          k = 4, rounds = 2)
        .orderBy("id_a", "id_b")
    }),

    // Geary's C (1954) on the supplier co-occurrence graph: the
    // CONTINUOUS spatial-autocorrelation cousin of q_join_counts'
    // binary census — do co-fulfilling suppliers have similar account
    // balances? C = n(n-1)·Σ_edges(x_i−x_j)² / (2E·(nΣx²−S²)), every
    // factor an exact integer (≈1000 = no structure, <1000 = neighbors
    // similar, >1000 = dissimilar). One edge join + one node aggregate.
    "q_gearys_c" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("sa"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("sb"))
      val pairs = ra.join(ab, Seq("l_orderkey"))
        .filter(col("sa") =!= col("sb"))
        .select(least(col("sa"), col("sb")).as("u"),
          greatest(col("sa"), col("sb")).as("w"))
        .distinct()
      val bal = Tables.supplier(s, d)
        .select(col("s_suppkey"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("x"))
      val nodes = bal.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast(dec) * col("x")).as("sxx"))
      val edges = pairs
        .join(bal.select(col("s_suppkey").as("u"), col("x").as("xu")), Seq("u"))
        .join(bal.select(col("s_suppkey").as("w"), col("x").as("xw")), Seq("w"))
        .agg(count(lit(1)).as("n_edges"),
          sum((col("xu").cast(dec) - col("xw"))
            * (col("xu").cast(dec) - col("xw"))).as("__se"))
      edges.crossJoin(broadcast(nodes))
        .withColumn("__den",
          (col("n_edges").cast(dec) * 2)
            * (col("n").cast(dec) * col("sxx") - col("sx").cast(dec) * col("sx")))
        .withColumn("c_x1000",
          when(col("n_edges") === 0 || col("__den") === 0, 0L).otherwise(expr(
            """(CAST(n AS DECIMAL(38,0)) * (n - 1) * __se * 1000)
               div __den""")))
        .select(col("n").as("n_nodes"), col("n_edges"), col("c_x1000"))
    }),

    // Moran's I (1950) on the same supplier co-occurrence graph:
    // the GLOBAL cross-product autocorrelation next to q_gearys_c's
    // local squared differences — Geary asks "are neighbors close in
    // value", Moran asks "do deviations from the global mean align
    // across edges" (the two disagree exactly when a few extreme
    // nodes cluster). Deviations are scaled by n (d_i = n·x_i − S) so
    // every factor stays integer: I = Σ_edges d_u·d_w / (E·(nΣx²−S²)),
    // signed per-mille via the shared toward-zero div. The exact null
    // expectation E[I] = −1/(n−1) rides as a witness so the readout is
    // self-calibrating. One edge join + one node aggregate, no pairs
    // beyond the co-fulfilment edges.
    "q_moran_i" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("sa"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("sb"))
      val pairs = ra.join(ab, Seq("l_orderkey"))
        .filter(col("sa") =!= col("sb"))
        .select(least(col("sa"), col("sb")).as("u"),
          greatest(col("sa"), col("sb")).as("w"))
        .distinct()
      val bal = Tables.supplier(s, d)
        .select(col("s_suppkey"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("x"))
      val nodes = bal.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x").cast(dec) * col("x")).as("sxx"))
      val sp = pairs
        .join(bal.select(col("s_suppkey").as("u"), col("x").as("xu")), Seq("u"))
        .join(bal.select(col("s_suppkey").as("w"), col("x").as("xw")), Seq("w"))
        .crossJoin(broadcast(nodes))
        .agg(count(lit(1)).as("n_edges"),
          sum((col("n").cast(dec) * col("xu") - col("sx"))
            * (col("n").cast(dec) * col("xw") - col("sx"))).as("__sp"))
      sp.crossJoin(broadcast(nodes))
        .withColumn("__den",
          col("n_edges").cast(dec)
            * (col("n").cast(dec) * col("sxx") - col("sx").cast(dec) * col("sx")))
        .withColumn("i_x1000",
          when(col("n_edges") === 0 || col("__den") === 0, 0L)
            .otherwise(expr("(__sp * 1000) div __den")))
        .withColumn("e_i_x1000",
          when(col("n") > 1, -expr("1000 div (n - 1)")).otherwise(0L))
        .select(col("n").as("n_nodes"), col("n_edges"), col("i_x1000"),
          col("e_i_x1000"))
    }),

    // Join-count statistics (Graphs.joinCounts) on the supplier
    // co-occurrence graph: do rich suppliers (acctbal > $4.5k)
    // co-fulfil orders with other rich suppliers beyond the
    // free-sampling expectation? BB/BW/WW exact censuses plus
    // cross-multiplied per-mille observed/expected ratios — the
    // categorical-homophily audit next to q_assortativity's
    // degree-correlation view.
    "q_join_counts" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("sa"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("sb"))
      val pairs = ra.join(ab, Seq("l_orderkey"))
        .filter(col("sa") =!= col("sb"))
        .select(least(col("sa"), col("sb")).as("id_a"),
          greatest(col("sa"), col("sb")).as("id_b"))
        .distinct()
      val nodes = Tables.supplier(s, d)
        .select(col("s_suppkey"),
          (expr("CAST(round(s_acctbal * 100) AS BIGINT)") > 450000L).as("rich"))
      graft.operators.Graphs.joinCounts(pairs, "id_a", "id_b",
        nodes, "s_suppkey", "rich")
    }),

    // Fixed-round synchronous label propagation ([[graft.operators
    // .Graphs.labelPropRounds]] under the oracle): 2 deterministic
    // rounds over the q_dedup_cc blocking graph — most-frequent
    // neighbor label, min-label tiebreak, everyone updates at once
    // (the async classic is order-dependent and un-replayable). The
    // community sweep between q_dedup_cc's transitive components and
    // q_kcore's density peel; DuckDB replays both rounds as a
    // straight-line CTE chain of count + row_number picks.
    "q_label_prop" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.operators.Graphs.labelPropRounds(ccBlockingPairs(docs),
          "id_a", "id_b", rounds = 2)
        .orderBy("id")
    }),

    // Common-neighbor link prediction ([[graft.operators.Graphs
    // .linkPredict]] under the oracle): non-adjacent doc pairs of the
    // blocking graph sharing >= 2 neighbors, with the integer witness
    // (cn, uni = degA+degB−cn) and the neighborhood Jaccard as its
    // single division — the "probably the same entity, no direct edge
    // yet" candidate generator (Liben-Nowell & Kleinberg 2003). DuckDB
    // re-derives the wedge counts, the adjacency anti-join, and both
    // degrees, so one phantom edge anywhere flips the hash.
    "q_link_predict" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.operators.Graphs.linkPredict(ccBlockingPairs(docs),
          "id_a", "id_b", minCommon = 2)
        .orderBy("id_a", "id_b")
    }),

    // Fixed-round Bellman-Ford ([[graft.operators.Graphs
    // .bellmanFordRounds]] under the oracle): cost-aware shortest
    // distance from NATION_1's suppliers over the co-occurrence
    // multigraph, edge cost = 20 div (shared_orders + 1) + 1 (frequent
    // co-occurrence = cheap hop — the weighted trust-propagation
    // complement of q_bfs_hops' uniform hops). 3 relaxation rounds,
    // pure integer arithmetic; DuckDB replays them as a straight-line
    // min-union chain.
    "q_shortest_path" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("src"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val pairs = ra.join(ab, Seq("l_orderkey")).filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
        .select(col("src"), col("dst"),
          (expr("20 div (n + 1)") + lit(1L)).as("cost"))
      val seeds = Tables.supplier(s, d).filter(col("s_nationkey") === 1)
        .select(col("s_suppkey"))
      graft.operators.Graphs.bellmanFordRounds(pairs, "src", "dst", "cost",
          seeds, "s_suppkey", rounds = 3)
        .select(col("id").as("s_suppkey"), col("dist"))
        .orderBy("s_suppkey")
    }),

    // Minimum spanning forest (Graphs.boruvkaMsf — distributed
    // Borůvka, O(log V) rounds of simultaneous per-component lightest-
    // edge grabs) over the bounded co-supply graph: cheapest backbone
    // wiring every supplier cohort member through its most frequent
    // co-occurrence partners (cost = 20 div (n+1) + 1, the
    // q_shortest_path metric). Edges totally ordered by (w, u, v) so
    // the forest is unique; the oracle replays KRUSKAL under the same
    // order via a list_reduce union-find — two different MST
    // algorithms, one certified edge set.
    "q_mst" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R" && col("l_suppkey") < 150)
        .select(col("l_orderkey"), col("l_suppkey").as("sa"))
      val ab = li.filter(col("l_returnflag") === "A" && col("l_suppkey") < 150)
        .select(col("l_orderkey"), col("l_suppkey").as("sb"))
      val ed = ra.join(ab, Seq("l_orderkey")).filter(col("sa") =!= col("sb"))
        .select(least(col("sa"), col("sb")).as("u"),
          greatest(col("sa"), col("sb")).as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n"))
        .select(col("u"), col("v"), (expr("20 div (n + 1)") + lit(1L)).as("w"))
      graft.operators.Graphs.boruvkaMsf(ed, "u", "v", "w")
        .select(col("u").as("s_a"), col("v").as("s_b"), col("w").as("cost"))
        .orderBy("s_a", "s_b")
    }),

    // Directed-graph census ([[graft.operators.Graphs.degreeStats]]
    // under the oracle): node/edge/reciprocity counts and degree
    // extremes over the supplier graph — the structural profile run
    // before committing PageRank/HITS parameters (reciprocity is the
    // mutual-link spam signal; max in-degree is integerPageRank's
    // overflow precondition).
    "q_graph_stats" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("src"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val pairs = ra.join(ab, Seq("l_orderkey")).filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      graft.operators.Graphs.degreeStats(pairs, "src", "dst")
    }),

    // Degree distribution over the same supplier graph: how many nodes
    // have out-degree d / in-degree d — the heavy-tail profile read
    // before choosing between plain message-passing and skew-salted
    // joins (a power-law tail is the PageRank hot-key warning). Two
    // degree aggregates + two |degrees|-sized histogram aggregates;
    // exact integers.
    "q_degree_dist" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("src"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val pairs = ra.join(ab, Seq("l_orderkey")).filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      val outH = pairs.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_out"))
      val inH = pairs.groupBy(col("dst")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_in"))
      outH.join(inH, Seq("deg"), "full_outer")
        .select(col("deg"), coalesce(col("n_out"), lit(0L)).as("n_out"),
          coalesce(col("n_in"), lit(0L)).as("n_in"))
        .orderBy("deg")
    }),

    // Fixed-round integer HITS ([[graft.operators.Graphs.hitsRounds]]
    // under the oracle): hubs/authorities over the same directed
    // supplier graph as q_pagerank — the link-analysis complement
    // (PageRank's single score vs HITS's producer/consumer split).
    // Max-renormalized integer power iteration: every round is integer
    // sums + one `(raw·S) div max` rescale, so DuckDB replays both
    // rounds bit-identically (HUGEINT sums mirror the DECIMAL(38,0)
    // accumulators).
    "q_hits" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ra = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey").as("src"))
      val ab = li.filter(col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_suppkey").as("dst"))
      val pairs = ra.join(ab, Seq("l_orderkey")).filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      graft.operators.Graphs.hitsRounds(pairs, "src", "dst", rounds = 2)
        .select(col("id").as("s_suppkey"), col("hub"), col("auth"))
        .orderBy("s_suppkey")
    }),

    // Inverted-index cosine similarity join
    // ([[graft.operators.SimilarityJoin.tfCosineJoin]] under the
    // oracle): all pairs with tf-vector cosine >= 17/20 over the ascii
    // token space, emitted as the INTEGER witness (dot, na2, nb2) —
    // 400·dot² >= 289·na2·nb2 replays exactly, a rounded cosine can tie
    // at the rounding digit (the q_ngram_jaccard discipline). Bounded to
    // 300 docs: the exact join is quadratic in the hottest posting list;
    // the operator's maxDf cut is the corpus-scale path (documented, and
    // semantic rather than recall-trading).
    "q_cosine_join" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"),
          graft.expressions.functions.ascii_tokens(col("text")).as("toks"))
      graft.operators.SimilarityJoin.tfCosineJoin(docs, "doc_id", "toks", 17, 20)
        .orderBy("id_a", "id_b")
    }),

    // Set-containment join ([[graft.operators.SimilarityJoin
    // .containmentJoin]] under the oracle): directed quote/subset-dup
    // detection over trigram shingles at 9/10 — the ASYMMETRIC
    // similarity (a short quote inside a long doc scores ~1 where
    // Jaccard ~0). Trigrams are the discriminative setting on this
    // corpus (the q_decontaminate finding); integer tests replay
    // exactly, and the oracle mirrors the shingle SETS as word-trigram
    // strings incl. the kernel's short-doc collapse (all tokens → one
    // shingle when len < n).
    "q_containment_join" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"), Dedup.shingles(col("text"), 3, ascii = true).as("sh"))
      graft.operators.SimilarityJoin.containmentJoin(docs, "doc_id", "sh", 9, 10)
        .orderBy("id_a", "id_b")
    }),

    // Canonical-document selection: the step AFTER duplicate clustering —
    // per connected component keep the BEST-quality member (argmax by
    // quality score, id tiebreak), not the arbitrary min-id. Composes the
    // proven pieces: q_dedup_cc's blocking+components and q_text_quality's
    // score, both of whose oracles this one's mirrors. Singleton docs are
    // their own canonical (left join + coalesce).
    "q_dedup_canonical" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val comp = Components.minLabel(ccBlockingPairs(docs))
      val labeled = docs.join(comp, docs("doc_id") === comp("id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"),
          TextAnalysis.qualityScore(col("text")).as("q"))
      val wSel = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label")).orderBy(col("q").desc, col("doc_id").asc)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
      labeled
        .withColumn("n_members", count(lit(1)).over(wAll))
        .withColumn("__rn", row_number().over(wSel))
        .filter(col("__rn") === 1)
        .select(col("label"), col("doc_id").as("canonical_id"),
          col("n_members"), col("q").as("best_quality"))
        .orderBy("label")
    }),

    // Fixed-round integer k-means ([[graft.operators.KMeansInt
    // .lloydRounds]] under the oracle): 2 Lloyd rounds at k=4 over the
    // embedding corpus quantized by an EXACT power-of-two scale
    // (round(x·256)+512 — the float→double cast and ·256 are exact, the
    // +512 shift keeps sums non-negative so floor-division agrees across
    // engines). Integer distances + floor-mean centroids + smallest-cid
    // tie-break make both rounds replay bit-identically in DuckDB — the
    // cluster-then-curate primitive (SemDeDup-style) as a certified op.
    "q_kmeans" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, " +
            "x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT) + 512)")
            .as("v"))
      graft.operators.KMeansInt.lloydRounds(vecs, "vec_id", "v", k = 4, rounds = 2)
        .select(col("id").as("vec_id"), col("cid"), col("dist"))
        .orderBy("vec_id")
    }),

    // Exact binary-media dedup by content hash: md5 over the raw PNG
    // payload (the portable binary hash — the first dedup pass of any
    // multimodal corpus, before perceptual hashing). The fixture
    // plants exact duplicates by re-keying ids 1-20 to 1001-1020; the
    // closed-form oracle expects EXACTLY those 20 groups of 2 — which
    // certifies (a) the PNG encoder is byte-deterministic per id (a
    // nondeterministic encoder breaks the planted groups) and (b) no
    // two distinct base ids byte-collide (an accidental collision
    // would add rows / inflate a group).
    "q_media_dedup" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(s, 120)
      val planted = media.filter(col("media_id") <= 20)
        .withColumn("media_id", col("media_id") + 1000)
      media.unionByName(planted)
        .groupBy(md5(col("payload")).as("content_md5"))
        .agg(count(lit(1)).as("n_copies"), min(col("media_id")).as("keep_id"))
        .filter(col("n_copies") > 1)
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id")
    }),

    // Audio quality screen (Multimodal.audioStats): exact integer PCM
    // stats off the REAL WAV decode — dead-air ratio, clipping peak,
    // energy — the ingest-time audio filter next to the image family.
    // The synthetic samples are a deterministic integer formula, so
    // DuckDB replays the DECODED stats from the generator itself:
    // a one-bit decode drift anywhere breaks the hash.
    "q_audio_stats" -> ((s, d) => {
      Multimodal.audioStats(Multimodal.syntheticMedia(s, 30, kind = "audio"))
        .select(col("media_id"), col("n_samples"), col("sum_abs"),
          col("max_abs"), col("n_silent"), col("energy"),
          expr("(1000 * n_silent) div n_samples").as("silence_pm"))
        .orderBy("media_id")
    }),

    // Video scene-cut detection: frame-to-frame L1 color distance over
    // the REAL container unpack + PNG decode (sampleFrames →
    // extractFeatures), cuts flagged past an L1 threshold — the
    // shot-boundary pass a video curation pipeline runs before
    // frame-dedup. Solid-fill frames make the channel means exact
    // integers, and the oracle replays the generator's color formula,
    // so the hash certifies the whole unpack→decode→feature path.
    "q_video_cuts" -> ((s, d) => {
      val frames = Multimodal.sampleFrames(
        Multimodal.syntheticMedia(s, 40, kind = "video"), framesPerVideo = 8)
      val feats = Multimodal.extractFeatures(
          frames.withColumnRenamed("frame", "payload"))
        .select(col("media_id"), col("src_frame"),
          expr("CAST(round(features[0]) AS BIGINT)").as("r"),
          expr("CAST(round(features[1]) AS BIGINT)").as("g"),
          expr("CAST(round(features[2]) AS BIGINT)").as("b"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("src_frame"))
      feats
        .withColumn("dist",
          abs(col("r") - lag(col("r"), 1).over(w))
            + abs(col("g") - lag(col("g"), 1).over(w))
            + abs(col("b") - lag(col("b"), 1).over(w)))
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("dist") > 96, 1L).otherwise(0L)).as("n_cuts"),
          max(col("dist")).as("max_dist"),
          sum(coalesce(col("dist"), lit(0L))).as("sum_dist"))
        .orderBy("media_id")
    }),

    // Persisted IVF-PQ index (ProductQuant.writeIvfpqIndex /
    // queryIvfpqIndex): the form in which the hybrid actually pays off
    // at scale — SCALE.md "Round-15: IVF-PQ" measured the AD-HOC hybrid LOSING to
    // the plain full-ADC scan at every corpus multiple (its
    // corpus-sized codes⋈cells join + training never amortize in one
    // job), so the layout persists codes partitionBy(cid) and queries
    // prune partitions. Equivalence certificate: same deterministic
    // model + codebooks ⇒ the indexed serve must match the ad-hoc
    // hybrid row-for-row on (qid, id, adist).
    "q_ann_ivfpq_indexed" -> ((s, d) => {
      val dir = Fixtures.root(d, "embeddings", "ivfpq_index_c16s4x16k4r2").toString
      val both = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        expr("transform(embedding, " +
          "x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT) + 512)").as("v"))
      val corpus = both.filter(col("vec_id") >= 5)
      val queries = both.filter(col("vec_id") < 5)
      if (!new java.io.File(s"$dir/model.json").exists()) {
        graft.operators.ProductQuant.writeIvfpqIndex(corpus,
          "vec_id", "embedding", "v", dir,
          nCentroids = 16, nSub = 4, subDim = 16, kCode = 4, rounds = 2)
      }
      val indexed = graft.operators.ProductQuant.queryIvfpqIndex(s, dir,
        queries, "vec_id", "embedding", "v",
        k = 10, nProbe = 8, nSub = 4, subDim = 16, kCode = 4)
        .localCheckpoint(true)
      val adhoc = graft.operators.ProductQuant.ivfpqTopK(
        corpus, queries, "vec_id", "vec_id", "embedding", "v",
        k = 10, nCentroids = 16, nProbe = 8,
        nSub = 4, subDim = 16, kCode = 4, rounds = 2)
        .localCheckpoint(true)
      adhoc.agg(count(lit(1)).as("n_adhoc"))
        .crossJoin(indexed.agg(count(lit(1)).as("n_indexed")))
        .crossJoin(adhoc.join(indexed, Seq("qid", "id", "adist"))
          .agg(count(lit(1)).as("__n_match")))
        .select(col("n_adhoc"), col("n_indexed"),
          (col("__n_match") === col("n_adhoc")
            && col("__n_match") === col("n_indexed")).as("identical"))
    }),

    // Incremental IVF-PQ maintenance (ProductQuant.appendToIvfpqIndex):
    // train on HALF the corpus, append the other half encoded with the
    // FROZEN codebooks + coarse centroids, then certify the serve
    // equals appending EVERYTHING into a clone of the same trained
    // artifacts — cell assignment and PQ codes are pure functions of
    // (vector, frozen artifacts), so write+append ≡ encode-all (the
    // q_ann_ivf_append argument, lifted to the code-compressed layout).
    // Both models' staleness rows ride along: the appended index shows
    // B's share, the clone (all rows appended post-training) 1000‰.
    "q_ann_ivfpq_append" -> ((s, d) => {
      val base = Fixtures.root(d, "embeddings", "ivfpq_append_c16s4x16k4r2").toString
      val both = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        expr("transform(embedding, " +
          "x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT) + 512)").as("v"))
      val corpus = both.filter(col("vec_id") >= 5)
      val partA = corpus.filter(pmod(col("vec_id"), lit(2)) === 0)
      val partB = corpus.filter(pmod(col("vec_id"), lit(2)) === 1)
      val queries = both.filter(col("vec_id") < 5)
      val (dirApp, dirAll) = (s"$base/app", s"$base/all")
      if (!new java.io.File(s"$base/_DONE").exists()) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
        graft.operators.ProductQuant.writeIvfpqIndex(partA,
          "vec_id", "embedding", "v", dirApp,
          nCentroids = 16, nSub = 4, subDim = 16, kCode = 4, rounds = 2)
        graft.operators.ProductQuant.appendToIvfpqIndex(s, dirApp, partB,
          "vec_id", "embedding", "v", nSub = 4, subDim = 16)
        graft.operators.ProductQuant.cloneIvfpqArtifacts(s, dirApp, dirAll)
        graft.operators.ProductQuant.appendToIvfpqIndex(s, dirAll, corpus,
          "vec_id", "embedding", "v", nSub = 4, subDim = 16)
        new java.io.File(s"$base/_DONE").createNewFile()
        ()
      }
      def serve(dir: String) = graft.operators.ProductQuant.queryIvfpqIndex(
        s, dir, queries, "vec_id", "embedding", "v",
        k = 10, nProbe = 8, nSub = 4, subDim = 16, kCode = 4)
        .localCheckpoint(true)
      val (sApp, sAll) = (serve(dirApp), serve(dirAll))
      val mApp = Similarity.readModel(s, dirApp)
      val mAll = Similarity.readModel(s, dirAll)
      sApp.agg(count(lit(1)).as("n_app"))
        .crossJoin(sAll.agg(count(lit(1)).as("n_all")))
        .crossJoin(sApp.join(sAll, Seq("qid", "id", "adist"))
          .agg(count(lit(1)).as("__n_match")))
        .select(col("n_app"), col("n_all"),
          (col("__n_match") === col("n_app")
            && col("__n_match") === col("n_all")).as("identical"),
          lit(mApp.stalenessPm).as("staleness_app_pm"),
          lit(mAll.stalenessPm).as("staleness_all_pm"))
    }),

    // IVF-PQ compaction (ProductQuant.compactIvfpqIndex — r16 verdict
    // #6's "retrain centroids AND codebooks"): build on half the
    // corpus, append the other half (~500 pm stale), compact — retrain
    // BOTH quantizers on the current corpus, re-encode into the next
    // EPOCH's directories, flip model.json (the manifest pointer that
    // keeps codes and codebooks consistent at every instant — PQ codes
    // are lossy, so unlike the flat-IVF cells a half-swapped layout
    // would serve WRONG answers, not stale ones). Certified the append
    // way: clone the compacted artifacts, encode-all into the clone,
    // and the two serves must be identical row sets; staleness resets
    // to 0; the code partitions conserve the corpus row count; a
    // second compact below threshold is a no-op.
    "q_ann_ivfpq_compact" -> ((s, d) => {
      val base = Fixtures.root(d, "embeddings", "ivfpq_compact_c16s4x16k4r2").toString
      val both = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        expr("transform(embedding, " +
          "x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT) + 512)").as("v"))
      val corpus = both.filter(col("vec_id") >= 5)
      val partA = corpus.filter(pmod(col("vec_id"), lit(2)) === 0)
      val partB = corpus.filter(pmod(col("vec_id"), lit(2)) === 1)
      val queries = both.filter(col("vec_id") < 5)
      val (dirCpt, dirFresh) = (s"$base/cpt", s"$base/fresh")
      if (!new java.io.File(s"$base/_DONE").exists()) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
        graft.operators.ProductQuant.writeIvfpqIndex(partA,
          "vec_id", "embedding", "v", dirCpt,
          nCentroids = 16, nSub = 4, subDim = 16, kCode = 4, rounds = 2)
        val appended = graft.operators.ProductQuant.appendToIvfpqIndex(s,
          dirCpt, partB, "vec_id", "embedding", "v", nSub = 4, subDim = 16)
        require(appended.stalenessPm >= 300L,
          s"fixture assumption broke: staleness ${appended.stalenessPm} pm < 300")
        val compacted = graft.operators.ProductQuant.compactIvfpqIndex(s,
          dirCpt, corpus, "vec_id", "embedding", "v",
          nSub = 4, subDim = 16, kCode = 4, rounds = 2, thresholdPm = 300L)
        require(compacted.appendedRows == 0L && compacted.epoch == 1L,
          "compactIvfpqIndex did not trigger above threshold")
        // fresh-build with the SAME retrained artifacts: clone + encode-all
        graft.operators.ProductQuant.cloneIvfpqArtifacts(s, dirCpt, dirFresh)
        graft.operators.ProductQuant.appendToIvfpqIndex(s, dirFresh, corpus,
          "vec_id", "embedding", "v", nSub = 4, subDim = 16)
        new java.io.File(s"$base/_DONE").createNewFile()
        ()
      }
      val model = Similarity.readModel(s, dirCpt)
      // below-threshold path: a second compact is a telemetry no-op
      val again = graft.operators.ProductQuant.compactIvfpqIndex(s,
        dirCpt, corpus, "vec_id", "embedding", "v",
        nSub = 4, subDim = 16, kCode = 4, rounds = 2, thresholdPm = 300L)
      val noop = again.epoch == model.epoch &&
        again.baseRows == model.baseRows &&
        again.appendedRows == model.appendedRows
      val conserved = s.read
        .parquet(s"$dirCpt/codes.e${model.epoch}").count() == corpus.count()
      def serve(dir: String) = graft.operators.ProductQuant.queryIvfpqIndex(
        s, dir, queries, "vec_id", "embedding", "v",
        k = 10, nProbe = 8, nSub = 4, subDim = 16, kCode = 4)
        .localCheckpoint(true)
      val (sCpt, sFresh) = (serve(dirCpt), serve(dirFresh))
      sCpt.agg(count(lit(1)).as("n_compact"))
        .crossJoin(sFresh.agg(count(lit(1)).as("n_fresh")))
        .crossJoin(sCpt.join(sFresh, Seq("qid", "id", "adist"))
          .agg(count(lit(1)).as("__n_match")))
        .select(col("n_compact"), col("n_fresh"),
          (col("__n_match") === col("n_compact")
            && col("__n_match") === col("n_fresh")).as("identical"),
          lit(model.stalenessPm).as("staleness_compact_pm"),
          lit(conserved).as("rows_conserved"),
          lit(noop).as("noop_below_threshold"))
    }),

    // Perceptual image dedup (Multimodal.imageAHash): planted copies
    // are ONE-PIXEL corrupted, so the byte-level md5 of q_media_dedup
    // misses every one of them — the exact-integer 64-bit average hash
    // (cross-multiplied block-vs-global luminance compare, no floats)
    // still groups each with its original, and the block-gradient
    // fixture guarantees distinct hashes across distinct seeds. The
    // structural oracle expects exactly the planted pairs.
    "q_image_ahash" -> ((s, d) => {
      val media = Multimodal.syntheticGradientMedia(s, 40)
      val planted = Multimodal.corruptImages(
        media.filter(col("media_id") <= 15)
          .withColumn("media_id", col("media_id") + 1000))
      Multimodal.imageAHash(media.unionByName(planted))
        .groupBy(col("ahash64"))
        .agg(count(lit(1)).as("n_copies"), min(col("media_id")).as("keep_id"))
        .filter(col("n_copies") > 1)
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id")
    }),

    // The gradient-sign sibling (Multimodal.imageDHash): same planted
    // one-pixel corruptions, same structural oracle — but the hash is
    // the horizontal luminance GRADIENT per 9×8 cell, which also
    // survives the global brightness/contrast shifts that move every
    // aHash block against the global mean. Two independent perceptual
    // keys catch edits either alone misses.
    "q_image_dhash" -> ((s, d) => {
      val media = Multimodal.syntheticRowGradientMedia(s, 40)
      val planted = Multimodal.corruptImages(
        media.filter(col("media_id") <= 15)
          .withColumn("media_id", col("media_id") + 1000))
      Multimodal.imageDHash(media.unionByName(planted))
        .groupBy(col("dhash64"))
        .agg(count(lit(1)).as("n_copies"), min(col("media_id")).as("keep_id"))
        .filter(col("n_copies") > 1)
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id")
    }),

    // Zero-crossing rate (Multimodal.audioZcr) off the REAL WAV
    // decode: the O(1)-state voiced/unvoiced + noisiness screen next
    // to q_audio_stats' energy — replayed by DuckDB from the
    // generator's integer sample formula via lag(), so the hash
    // certifies decode + the crossing census bit-for-bit.
    "q_audio_zcr" -> ((s, d) => {
      Multimodal.audioZcr(Multimodal.syntheticMedia(s, 30, kind = "audio"))
        .select(col("media_id"), col("n_samples"), col("n_cross"), col("zcr_pm"))
        .orderBy("media_id")
    }),

    "q_simhash_fingerprints" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash64"))
        .orderBy("doc_id")
    }),

    // Fingerprint bit-bias audit: per simhash bit, the corpus ones-rate
    // — a healthy feature dimension hovers near 500‰; a skewed bit is a
    // near-constant dimension that weakens every Hamming/banding
    // decision built on it. One explode over the bounded 64-bit set +
    // one aggregate; sign-safe mask compare (bit 63 included).
    "q_hash_bit_bias" -> ((s, d) => {
      Tables.documents(s, d)
        .select(Dedup.simhash(col("text")).as("f"))
        .select(col("f"), explode(expr("sequence(0, 63)")).as("bit"))
        .groupBy(col("bit"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(expr("(f & shiftleft(1L, bit)) != 0"), 1L).otherwise(0L))
            .as("ones"))
        .withColumn("ones_pm", expr("(1000 * ones) div n_docs"))
        .orderBy("bit")
    }),

    // Blocking-scheme quality audit: the two numbers every entity-
    // resolution / dedup blocking choice trades off — REDUCTION (what
    // fraction of the N²/2 pair space the blocks prune) and
    // COMPLETENESS (what fraction of true duplicate pairs the blocks
    // keep) — computed WITHOUT materializing a single pair: candidate
    // counts fold from (lang, n_chars) group sizes via C(m,2) plus a
    // lag-window adjacency term for the ±1 band; truth = md5 text
    // groups (same text ⇒ same n_chars ⇒ captured unless the lang
    // label differs — exactly the leakage the audit exists to expose).
    "q_blocking_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text").cast("binary")).as("h"))
        .localCheckpoint(true)
      val wL = Window.partitionBy(col("lang")).orderBy(col("n_chars").asc)
      val cand = docs.groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("m"))
        .withColumn("prev_c", lag(col("n_chars"), 1).over(wL))
        .withColumn("prev_m", lag(col("m"), 1).over(wL))
        .withColumn("within", expr("(m * (m - 1)) div 2"))
        .withColumn("adj",
          when(col("prev_c") === col("n_chars") - 1, col("prev_m") * col("m"))
            .otherwise(0L))
        .agg(sum(col("within") + col("adj")).as("cand_pairs"))
      // n_docs, truth, and captured all fold off ONE (h, lang) spine —
      // two corpus passes total (this one + the sizes spine above)
      val hl = docs.groupBy(col("h"), col("lang")).agg(count(lit(1)).as("m"))
        .localCheckpoint(true)
      val n = hl.agg(sum(col("m")).as("n_docs"))
      val cp = hl.agg(sum(expr("(m * (m - 1)) div 2")).as("captured_pairs"))
      val tp = hl.groupBy(col("h")).agg(sum(col("m")).as("mh"))
        .agg(sum(expr("(mh * (mh - 1)) div 2")).as("true_pairs"))
      n.crossJoin(broadcast(cand)).crossJoin(broadcast(tp)).crossJoin(broadcast(cp))
        .withColumn("total_pairs", expr("(n_docs * (n_docs - 1)) div 2"))
        .withColumn("reduction_ppm",
          when(col("total_pairs") === 0, 0L).otherwise(
            lit(1000000L) - expr(
              "(1000000 * CAST(cand_pairs AS DECIMAL(38,0))) div total_pairs")))
        .withColumn("completeness_pm",
          when(col("true_pairs") === 0, 1000L)
            .otherwise(expr("(1000 * captured_pairs) div true_pairs")))
        .select(col("n_docs"), col("total_pairs"), col("cand_pairs"),
          col("reduction_ppm"), col("true_pairs"), col("captured_pairs"),
          col("completeness_pm"))
    }),

    "q_ngram_jaccard" -> ((s, d) => {
      // exact n-gram Jaccard on a bounded id-range (quadratic primitive —
      // always bucketed at scale; here bounded for the oracle). Emitted as
      // INTEGER intersection/union cardinalities with a cross-multiplied
      // threshold (jaccard >= 0.05 ⇔ 20·|A∩B| >= |A∪B|): a rounded ratio
      // can tie at the rounding digit where Spark (HALF_UP) and DuckDB
      // (HALF_EVEN) diverge, integers hash exactly — the q_repetition
      // discipline. DuckDB mirrors the shingle SETS as word-bigram strings
      // (hash distinctness ≡ string distinctness modulo FNV collisions,
      // none at this corpus size). ascii = true pins the tokenizer to the
      // oracle's [^a-z0-9]+ regex semantics, so the mirror holds on ANY
      // corpus — the Unicode default would silently diverge on the first
      // non-ASCII letter.
      val docs = Tables.documents(s, d).filter(col("doc_id") < 50)
      val a = docs.select(col("doc_id").as("id_a"),
        Dedup.shingles(col("text"), 2, ascii = true).as("sh_a"))
      val b = docs.select(col("doc_id").as("id_b"),
        Dedup.shingles(col("text"), 2, ascii = true).as("sh_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          gfn.inter_count_sorted(col("sh_a"), col("sh_b")).as("n_inter"),
          (size(col("sh_a")) + size(col("sh_b"))
            - gfn.inter_count_sorted(col("sh_a"), col("sh_b"))).as("n_union"))
        .filter(col("n_inter") * 20 >= col("n_union") && col("n_union") > 0)
        .orderBy("id_a", "id_b")
    }),

    // maxBucketSize armed (observed sf0.1 max table-bucket: 349 — 3 planes
    // is only 8 buckets/table, so buckets are inherently coarse); 2000
    // drops nothing here while keeping the guardrail in the driven path.
    //
    // Exact-ground-truth certificate (oracled since r6; rows-only r3-r5):
    // DuckDB independently computes the all-pairs cosine truth
    // (list_cosine_similarity over DOUBLE[] — the proven q_ann_bruteforce
    // mirror), so n_true_pairs cross-checks the fused cosine kernel and
    // the threshold against another engine. The boundary decision uses
    // round(cosine, 6) on BOTH sides: round-6 equality across engines is
    // proven, and any unrounded pair the LSH admits (cosine >= 0.4) also
    // rounds to >= 0.4, so n_false_pos = 0 stays structural. The all-pairs
    // truth join is the bounded verification primitive (embeddings are
    // 500/2000 rows at the graded SFs); the LSH leg is the production
    // banded path. RECALL FLOOR IS DATA-DEPENDENT: measured 45/59 (76%)
    // at sf0.01 and 565/920 (61.4%) at sf0.1 on the near-isotropic
    // synthetic vectors (3 tables × 3 planes is deliberately coarse near
    // the threshold); the floor certifies >= 60%, deterministic because
    // the planes are seeded — re-measure before blaming the engine if the
    // corpus generator changes. FALSIFIABILITY (proven through the full
    // driver gate, r6): verify-threshold 0.5 drops recall below the 60%
    // floor and turns this row red in tools/oracle_check.py.
    "q_dedup_embedding" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // both pair frames pin once (each feeds TWO legs — recall join +
      // false-positive anti-join; unpinned, the LSH pipeline and the
      // all-pairs truth scan each ran twice, r17 profile), and the truth
      // probe side spreads across the cluster before the |emb|² cosine
      // loop (bounded eval set arriving as ONE scan partition — the
      // q_silhouette parallelism fix)
      val lsh = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4, nPlanes = 3, nTables = 3, maxBucketSize = 2000)
        .select(col("id_a"), col("id_b"), lit(1L).as("__hit"))
        .localCheckpoint(true)
      val v = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      val truth = v.select(col("id").as("id_a"), col("v").as("v_a"))
        .repartition(s.sparkContext.defaultParallelism, col("id_a"))
        .crossJoin(broadcast(v.select(col("id").as("id_b"), col("v").as("v_b"))))
        .filter(col("id_a") < col("id_b"))
        .filter(round(gfn.cosine_sim(col("v_a"), col("v_b")), 6) >= 0.4)
        .select("id_a", "id_b")
        .localCheckpoint(true)
      truth.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .crossJoin(lsh.join(truth, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).as("n_false_pos")))
        .select(col("n_true_pairs"), col("n_false_pos"),
          (col("n_hits") * 5 >= col("n_true_pairs") * 3).as("recall_ok"))
    }),

    // SemDeDup (cluster-scoped cosine dedup, Dedup.semanticNearDupPairs)
    // under the same certificate discipline as q_dedup_embedding: truth =
    // exact all-pairs cosine >= 0.4 (bounded 500-vector corpus, broadcast
    // cross join as the verification primitive); detected pairs filter on
    // RAW cosine >= 0.4 so detected ⊆ truth and n_false_pos is zero BY
    // MEASUREMENT (the left_anti count, not an assumption). Recall floor
    // pinned from the measured sf0.01 value with headroom (see scaladoc on
    // the operator: misses are exactly the cross-cluster pairs).
    //
    // DATA-DEPENDENT CONSTANTS (the q_ann_ivf discipline): on the sf0.01
    // near-isotropic synthetic embeddings, 4 learned clusters co-locate 30
    // of the 59 true pairs (51% measured recall; 16 clusters → 24%, the
    // isotropy ceiling — real SemDeDup corpora cluster far more sharply).
    // The floor certifies >= 40%. A data-generator change can move the
    // measured recall without any engine bug — re-pin, don't debug.
    "q_dedup_semantic" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // same two-leg pin + probe-spread discipline as q_dedup_embedding
      val det = Dedup.semanticNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4, nClusters = 4, refineIters = 2)
        .select(col("id_a"), col("id_b"), lit(1L).as("__hit"))
        .localCheckpoint(true)
      val v = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      val truth = v.select(col("id").as("id_a"), col("v").as("v_a"))
        .repartition(s.sparkContext.defaultParallelism, col("id_a"))
        .crossJoin(broadcast(v.select(col("id").as("id_b"), col("v").as("v_b"))))
        .filter(col("id_a") < col("id_b"))
        .filter(round(gfn.cosine_sim(col("v_a"), col("v_b")), 6) >= 0.4)
        .select("id_a", "id_b")
        .localCheckpoint(true)
      truth.join(det, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .crossJoin(det.join(truth, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).as("n_false_pos")))
        .select(col("n_true_pairs"), col("n_false_pos"),
          (col("n_hits") * 5 >= col("n_true_pairs") * 2).as("recall_ok"))
    }),

    // ---------------- similarity search ----------------
    "q_ann_bruteforce" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") >= 5), queries,
        "vec_id", "embedding", "vec_id", k = 5)
        .orderBy("query_id", "rank")
    }),

    // k-NN label vote (Fix & Hodges 1951; Cover & Hart 1967): classify
    // 20 probe vectors by the MAJORITY label of their exact cosine
    // top-10 (the proven q_ann_bruteforce kernel), integer vote counts,
    // ties toward the smaller label — the label-transfer/weak-
    // supervision step of embedding-space data curation. DuckDB replays
    // the full ranking AND the vote, so one swapped neighbor at the
    // rank boundary flips the hash.
    "q_knn_classify" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 20)
      val corpus = emb.filter(col("vec_id") >= 20)
      val knn = Similarity.bruteForceTopK(corpus, probes,
        "vec_id", "embedding", "vec_id", k = 10)
      knn.join(corpus.select(col("vec_id").as("neighbor_id"),
          col("label").cast("int").as("label")), Seq("neighbor_id"))
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
            .orderBy(col("votes").desc, col("label").asc)))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("label").as("pred_label"), col("votes"))
        .orderBy("query_id")
    }),

    // IVF recall certificate (oracled since r4): the IVF result itself is
    // engine-specific (probed cells), but its RECALL against the already-
    // oracled brute-force top-k is deterministic — computed Spark-side as
    // integer hit counts vs the exact result, certified by DuckDB emitting
    // literal `true`. The bounds are HONEST for this data: the synthetic
    // embeddings are near-isotropic (no cluster structure), so recall@5
    // with nProbe=4/16 measures ~50% (per-query hits 2-3 of 5 at sf0.01) —
    // the certificate pins the floor (every query recovers >= 1 true
    // neighbor; mean recall >= 40%), and RecallSpec quantifies the
    // distribution. Raw IVF output equality with the indexed path +
    // partition pruning stays IvfIndexSpec's.
    "q_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
      val corpus = emb.filter(col("vec_id") >= 5)
      val ivf = Similarity.ivfTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5, nCentroids = 16, nProbe = 4)
      val bf = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      // left join + sum, not semi-join + count: a zero-hit query must still
      // count as 0 toward the floor rather than vanish from the aggregate
      ivf.join(bf, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .agg(count(lit(1)).as("n_queries"),
          (min(col("n_hits")) >= 1).as("every_query_ok"),
          // mean recall >= 40% ⇔ sum(hits) >= 0.4·k·n = 2·n (k=5, integers)
          (sum(col("n_hits")) >= lit(2L) * count(lit(1))).as("mean_ok"))
    }),

    // The write-once bucketed IVF layout (partition-pruned probes — the
    // 100 TB serving shape; see Similarity.writeIndex). Index dir keyed by
    // the source parquet (mtime, size) AND the index parameters, so a
    // parameter change in code self-invalidates the cache (the
    // Parity.fileSourceStream discipline); the gate file model.json is
    // written atomically by writeIndex (temp + rename), so a killed build
    // can never pass as a finished index. Oracled since r4 as an
    // EQUIVALENCE certificate: same parameters as the ad-hoc ivfTopK →
    // deterministic identical results, so the indexed path (trained →
    // written → partition-pruned read) emits per-(query, rank) booleans
    // against the ad-hoc output and DuckDB emits the expected
    // (query_id × rank) grid with `true` — the hash fails iff the index
    // round-trip changes any neighbor or cosine. Typed partition-pruning
    // assertion stays IvfIndexSpec's.
    // Product-quantization ANN ([[graft.operators.ProductQuant.pqTopK]]
    // under the oracle): 64 quantized dims → 4 subspaces × 16, one
    // integer-Lloyd codebook (k=4, 2 rounds) per subspace, ADC serving
    // from a broadcast query↔codeword distance map — the compressed-
    // corpus path of the ANN family (codes are 4 small ints per
    // vector). Every stage is integer arithmetic, so the APPROXIMATE
    // top-10 is still an exactly replayable result: the oracle re-runs
    // all 4 codebook trainings and the ADC ranking as CTE chains.
    "q_ann_pq" -> ((s, d) => {
      val vq = Tables.embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, " +
          "x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT) + 512)").as("v"))
      graft.operators.ProductQuant.pqTopK(
          vq, vq.filter(col("vec_id") < 5), "vec_id", "vec_id", "v",
          nSub = 4, subDim = 16, kCode = 4, rounds = 2, topK = 10)
        .orderBy("qid", "id")
    }),

    // Persisted PQ index (ProductQuant.writePqIndex / queryPqIndex):
    // the corpus codes + codebooks materialized once as parquet, the
    // serving tail shared verbatim with the ad-hoc q_ann_pq — all
    // integers, so the indexed path is bit-identical and the SAME
    // ADC oracle replays it directly (the sign-index precedent).
    "q_ann_pq_indexed" -> ((s, d) => {
      val dir = Fixtures.root(d, "embeddings", "pq_index_s4x16k4r2").toString
      val vq = Tables.embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, " +
          "x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT) + 512)").as("v"))
      if (!new java.io.File(s"$dir/codebooks").exists()) {
        graft.operators.ProductQuant.writePqIndex(vq, "vec_id", "v", dir,
          nSub = 4, subDim = 16, kCode = 4, rounds = 2)
      }
      graft.operators.ProductQuant.queryPqIndex(s, dir,
          vq.filter(col("vec_id") < 5), "vec_id", "v",
          nSub = 4, subDim = 16, kCode = 4, topK = 10)
        .orderBy("qid", "id")
    }),

    // IVF-PQ hybrid certificate (ProductQuant.ivfpqTopK): coarse cells
    // prune the corpus, ADC runs only over probed cells' codes. The
    // certificate checks (a) every query fills k results, (b) every
    // adist the hybrid emits is BIT-EQUAL to the full-PQ scan's for
    // the same id (no residual encoding — pruning is the only
    // approximation), (c) a mean-overlap floor vs the full-PQ top-k.
    // DuckDB emits the expected constants (the q_ann_ivf pattern) —
    // the float centroid assignment isn't SQL-replayable, the exact
    // invariants around it are.
    "q_ann_ivfpq" -> ((s, d) => {
      val both = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        expr("transform(embedding, " +
          "x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT) + 512)").as("v"))
      val corpus = both.filter(col("vec_id") >= 5)
      val queries = both.filter(col("vec_id") < 5)
      // ONE deterministic training shared by both legs (pinned — the
      // codes table feeds the hybrid's cell join and the full ADC)
      val (codes, cents) = graft.operators.ProductQuant.trainEncode(
        corpus, "vec_id", "v", nSub = 4, subDim = 16, kCode = 4, rounds = 2)
      val codesP = codes.localCheckpoint(true)
      val centsP = cents.localCheckpoint(true)
      val hybrid = graft.operators.ProductQuant.ivfpqTopK(
        corpus, queries, "vec_id", "vec_id", "embedding", "v",
        k = 10, nCentroids = 16, nProbe = 8,
        nSub = 4, subDim = 16, kCode = 4, rounds = 2,
        pretrainedPq = Some((codesP, centsP)))
      val full = graft.operators.ProductQuant.adcServe(
          codesP, centsP, queries, "vec_id", "v",
          nSub = 4, subDim = 16, kCode = 4, topK = 10)
        .withColumnRenamed("adist", "adist_full")
      hybrid.join(full, Seq("qid", "id"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_results"),
          sum(when(col("adist_full").isNotNull, 1L).otherwise(0L)).as("n_overlap"),
          sum(when(col("adist_full") === col("adist"), 1L).otherwise(0L))
            .as("n_adist_eq"))
        .agg(count(lit(1)).as("n_queries"),
          (min(col("n_results")) === 10L).as("every_query_full_k"),
          (sum(col("n_adist_eq")) === sum(col("n_overlap"))).as("adist_exact"),
          // mean overlap with the full-PQ top-10 ≥ 40% at nProbe = 8/16
          (sum(col("n_overlap")) >= lit(4L) * count(lit(1))).as("recall_ok"))
    }),

    "q_ann_ivf_indexed" -> ((s, d) => {
      val (nCentroids, refineIters, split) = (16, 1, 5)
      val dir = Fixtures.root(d, "embeddings",
        s"ivf_index_c${nCentroids}_r${refineIters}_s${split}").toString
      val emb = Tables.embeddings(s, d)
      if (!new java.io.File(s"$dir/model.json").exists()) {
        Similarity.writeIndex(emb.filter(col("vec_id") >= split), "vec_id", "embedding",
          dir, nCentroids = nCentroids, refineIters = refineIters)
        ()
      }
      val indexed = Similarity.queryIndex(s, dir, emb.filter(col("vec_id") < split),
        "vec_id", "embedding", k = 5, nProbe = 4)
      // The ad-hoc side reuses the INDEX's persisted model rather than
      // retraining: the certificate grades index mechanics (partitioned
      // layout + pruned scan + JSON model round trip ≡ direct job), and
      // retraining in a fresh JVM could drift by an ulp once the train
      // sample spans partitions (order-sensitive double summation), turning
      // a near-tie assignment flip into a spurious red row.
      val adhoc = Similarity.ivfTopK(emb.filter(col("vec_id") >= split),
        emb.filter(col("vec_id") < split),
        "vec_id", "embedding", "vec_id", k = 5, nCentroids = nCentroids, nProbe = 4,
        refineIters = refineIters, model = Some(Similarity.readModel(s, dir)))
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("a_neighbor"), col("cosine").as("a_cosine"))
      indexed.join(adhoc, Seq("query_id", "rank"))
        .select(col("query_id"), col("rank"),
          (col("neighbor_id") === col("a_neighbor")).as("same_neighbor"),
          (col("cosine") === col("a_cosine")).as("same_cosine"))
        .orderBy("query_id", "rank")
    }),

    // Incremental index maintenance (Similarity.appendToIndex — r15
    // verdict gap #1): train the IVF index on HALF the corpus, append
    // the other half encoded with the FROZEN centroids (one pass over
    // new rows + a partitioned append — no rebuild), then certify the
    // served top-k equals the ad-hoc frozen-model job over the full
    // corpus. The model's staleness row (per-mille of rows encoded
    // post-training — the retrain signal) rides along, replayed by the
    // oracle from the table's own counts.
    "q_ann_ivf_append" -> ((s, d) => {
      val (nCentroids, refineIters, split) = (16, 1, 5)
      val dir = Fixtures.root(d, "embeddings",
        s"ivf_append_c${nCentroids}_r${refineIters}_s${split}").toString
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") >= split)
      val partA = corpus.filter(pmod(col("vec_id"), lit(2)) === 0)
      val partB = corpus.filter(pmod(col("vec_id"), lit(2)) === 1)
      // model.json exists after writeIndex alone — gate the CACHED state
      // on a _DONE marker written only once the append also landed
      if (!new java.io.File(s"$dir/_DONE").exists()) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        Similarity.writeIndex(partA, "vec_id", "embedding", dir,
          nCentroids = nCentroids, refineIters = refineIters)
        Similarity.appendToIndex(s, dir, partB, "vec_id", "embedding")
        new java.io.File(s"$dir/_DONE").createNewFile()
        ()
      }
      val model = Similarity.readModel(s, dir)
      val queries = emb.filter(col("vec_id") < split)
      val served = Similarity.queryIndex(s, dir, queries,
        "vec_id", "embedding", k = 5, nProbe = 4)
      val adhoc = Similarity.ivfTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5, nCentroids = nCentroids, nProbe = 4,
        refineIters = refineIters, model = Some(model))
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("a_neighbor"), col("cosine").as("a_cosine"))
      served.join(adhoc, Seq("query_id", "rank"))
        .select(col("query_id"), col("rank"),
          (col("neighbor_id") === col("a_neighbor")).as("same_neighbor"),
          (col("cosine") === col("a_cosine")).as("same_cosine"),
          lit(model.stalenessPm).as("staleness_pm"))
        .orderBy("query_id", "rank")
    }),

    // Index COMPACTION (Similarity.compactIndex — r16 verdict #6, the
    // third verb of the write/append/serve lifecycle): build on half
    // the corpus, append the other half (staleness ≈ 500 pm), then
    // compact — retrain on the full indexed corpus read from the CELLS
    // layout, re-encode, atomic swap, staleness reset to 0. Certified
    // the append way (same-model discipline): the compacted layout's
    // serve must equal the ad-hoc job running the COMPACTED model over
    // the original table — which by the writeCells construction IS
    // fresh-build+serve with that model (retraining twice and comparing
    // would grade ulp-level parallel-summation noise, not the
    // operator). Also certified: row conservation across the swap and
    // the below-threshold no-op (a second compact must change nothing).
    "q_ann_ivf_compact" -> ((s, d) => {
      val (nCentroids, refineIters, split) = (16, 1, 5)
      val dir = Fixtures.root(d, "embeddings",
        s"ivf_compact_c${nCentroids}_r${refineIters}_s${split}").toString
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") >= split)
      val partA = corpus.filter(pmod(col("vec_id"), lit(2)) === 0)
      val partB = corpus.filter(pmod(col("vec_id"), lit(2)) === 1)
      if (!new java.io.File(s"$dir/_DONE").exists()) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        Similarity.writeIndex(partA, "vec_id", "embedding", dir,
          nCentroids = nCentroids, refineIters = refineIters)
        val appended = Similarity.appendToIndex(s, dir, partB, "vec_id", "embedding")
        require(appended.stalenessPm >= 300L,
          s"fixture assumption broke: staleness ${appended.stalenessPm} pm < 300")
        val compacted = Similarity.compactIndex(s, dir, thresholdPm = 300L,
          refineIters = refineIters)
        require(compacted.appendedRows == 0L,
          "compactIndex did not trigger above threshold")
        new java.io.File(s"$dir/_DONE").createNewFile()
        ()
      }
      val model = Similarity.readModel(s, dir)
      // below-threshold path: a second compact is a telemetry no-op
      val again = Similarity.compactIndex(s, dir, thresholdPm = 300L,
        refineIters = refineIters)
      val noop = again.baseRows == model.baseRows &&
        again.appendedRows == model.appendedRows &&
        again.centroids.length == model.centroids.length &&
        again.centroids.zip(model.centroids).forall { case (a, b) => a.sameElements(b) }
      val conserved =
        s.read.parquet(Similarity.cellsDir(dir, model)).count() == corpus.count()
      val queries = emb.filter(col("vec_id") < split)
      val served = Similarity.queryIndex(s, dir, queries,
        "vec_id", "embedding", k = 5, nProbe = 4)
      val adhoc = Similarity.ivfTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5, nCentroids = nCentroids, nProbe = 4,
        refineIters = refineIters, model = Some(model))
        .select(col("query_id"), col("rank"),
          col("neighbor_id").as("a_neighbor"), col("cosine").as("a_cosine"))
      served.join(adhoc, Seq("query_id", "rank"))
        .select(col("query_id"), col("rank"),
          (col("neighbor_id") === col("a_neighbor")).as("same_neighbor"),
          (col("cosine") === col("a_cosine")).as("same_cosine"),
          lit(model.stalenessPm).as("staleness_pm"),
          lit(conserved).as("rows_conserved"),
          lit(noop).as("noop_below_threshold"))
        .orderBy("query_id", "rank")
    }),

    // ---------------- text analysis ----------------
    "q_token_count" -> ((s, d) => {
      val t = Tables.documents(s, d)
      t.select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens_ws"),
          TextAnalysis.tokenCountBpe(col("text")).as("n_tokens_bpe"))
        .orderBy("doc_id")
    }),

    "q_text_quality" -> ((s, d) => {
      val t = Tables.documents(s, d)
      val feats = TextAnalysis.qualityFeatures(col("text"))
        .filter { case (n, _) => Seq("alpha_ratio", "space_ratio", "mean_token_len").contains(n) }
      t.select(Seq(col("doc_id")) ++
          feats.map { case (n, c) => round(c, 4).as(n) } :+
          TextAnalysis.qualityScore(col("text")).as("quality_score"): _*)
        .orderBy("doc_id")
    }),

    "q_langid" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // The language-ID CONFUSION MATRIX against the corpus's ground-truth
    // `lang` labels (r11) — the eval artifact that turns q_langid from
    // "runs" into "is right where it matters": per (truth, prediction)
    // cell counts, one groupBy over the per-doc predictions. The oracle
    // nests the full generated langid oracle (same lexicons) and
    // recounts every cell — a drifted prediction anywhere moves a cell.
    "q_langid_confusion" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }),

    // Code-switching / language-mixing detector over the SAME lexicons
    // as q_langid (TextAnalysis.stopwordCounts — one tokenize pass):
    // per-language hit counts, the number of languages hit ≥ 2 times,
    // and the mixed verdict — the corpus-hygiene signal that catches
    // documents langId can only force into one label. All integers;
    // the oracle regenerates every lexicon literal from the same
    // source list, so lexicon drift breaks the hash.
    "q_codeswitch" -> ((s, d) => {
      val counts = TextAnalysis.stopwordCounts(col("text"))
      val base = Tables.documents(s, d).select(
        col("doc_id") +: counts.map { case (l, c) => c.as(s"cnt_$l") }: _*)
      val nHit = counts.map { case (l, _) =>
        when(col(s"cnt_$l") >= 2, 1L).otherwise(0L)
      }.reduce(_ + _)
      base.withColumn("n_langs_hit", nHit)
        .withColumn("is_mixed", col("n_langs_hit") >= 2)
        .orderBy("doc_id")
    }),

    // Flesch-Kincaid grade level (Kincaid et al. 1975) as EXACT integer
    // counts + one division: words (\S+ runs), sentences ([.!?] runs,
    // floored at 1), syllables (vowel-group runs — the standard
    // heuristic). The grade 0.39·w/s + 11.8·sy/w − 15.59 is rendered as
    // the single ratio of the integer cross-multiplication
    // (39·w² + 1180·sy·s − 1559·w·s) / (100·w·s), so both engines
    // compute identical hundredth-scaled integers and ONE IEEE divide —
    // never three accumulated float terms (the q_gini discipline). The
    // readability cut every pretraining quality pipeline runs.
    "q_readability" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .withColumn("w", greatest(
          size(expr("regexp_extract_all(text, '\\\\S+', 0)")), lit(1))
          .cast("long"))
        .withColumn("sen", greatest(
          size(expr("regexp_extract_all(text, '[.!?]+', 0)")), lit(1))
          .cast("long"))
        .withColumn("sy", size(
          expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("long"))
      t.select(col("doc_id"), col("w").as("n_words"), col("sen").as("n_sents"),
          col("sy").as("n_syllables"),
          ((lit(39L) * col("w") * col("w") + lit(1180L) * col("sy") * col("sen")
            - lit(1559L) * col("w") * col("sen")).cast("double")
            / (lit(100L) * col("w") * col("sen")).cast("double")).as("fk_grade"))
        .orderBy("doc_id")
    }),

    // Lexical diversity: per-doc type-token ratio — n_types distinct
    // [a-z0-9]+ tokens over n_tokens total, integers + the single
    // division. The repetition/quality signal at its simplest; the
    // corpus-level counterpart is q_vocab_growth's Heaps curve.
    "q_ttr" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_types"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          (col("n_types").cast("double") / col("n_tokens").cast("double"))
            .as("ttr"))
        .orderBy("doc_id")
    }),

    // Character-class census (native one-pass codegen kernel,
    // CharClassCounts): per-doc [alpha, digit, space, punct, other]
    // code-point counts — the raw material of symbol-garbage / OCR-noise
    // quality filters. The classes are regex-definable by construction,
    // so DuckDB replays each count independently with
    // length(regexp_replace(...)); `other` additionally cross-checks as
    // the census closure (the five counts sum to length(text)).
    "q_charclass" -> ((s, d) => {
      import graft.expressions.functions.char_class_counts
      Tables.documents(s, d)
        .select(col("doc_id"), char_class_counts(col("text")).as("cc"),
          length(col("text")).cast("long").as("n_cp"))
        .select(col("doc_id"),
          col("cc").getItem(0).as("n_alpha"),
          col("cc").getItem(1).as("n_digit"),
          col("cc").getItem(2).as("n_space"),
          col("cc").getItem(3).as("n_punct"),
          col("cc").getItem(4).as("n_other"),
          col("n_cp"))
        .orderBy("doc_id")
    }),

    // Top-5 terms per language (grouped top-k over the vocabulary — the
    // per-slice frequency summary every corpus card ships): token
    // counts per (lang, token), rank windows PARTITIONED by lang
    // (count desc, token asc tiebreak — total order, deterministic
    // cut), WindowGroupLimit prunes to the per-group heap before the
    // full sort.
    "q_top_terms" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("lang"), explode(
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
      tf.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
            .orderBy(col("cnt").desc, col("tok").asc)))
        .filter(col("rank") <= 5)
        .select(col("lang"), col("rank").cast("int").as("rank"),
          col("tok"), col("cnt"))
        .orderBy("lang", "rank")
    }),

    // RAKE keyword extraction (Rose et al. 2010) over the English
    // slice: candidate phrases = maximal stopword-free token runs
    // (2–4 words), word score = degree/frequency (degree = Σ length
    // of phrases containing the word), phrase score = Σ member word
    // scores — the PHRASE-level salience ranking next to q_top_terms'
    // unigram counts and q_tfidf_topk's per-doc weights. Kept exact:
    // each word score is one floored per-mille (1000·deg div freq),
    // phrase scores sum those integers — a phrase TYPE scores
    // identically at every occurrence, so the distinct-phrase rollup
    // is max-stable. Segmentation is a per-doc cumsum of stopword
    // flags over token positions (one window, no self-joins);
    // phrase text re-assembles via array_sort(struct(pos, tok)) —
    // never an unordered collect_list. Word-stat joins are
    // vocabulary-sized, phrase joins segment-sized: both shuffles on
    // keys the data already has.
    "q_rake" -> ((s, d) => {
      val stopAll = graft.operators.TextAnalysis.stopwords
        .flatMap(_._2).distinct
      val toks = Tables.documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id"),
          posexplode(gfn.ascii_tokens(col("text"))).as(Seq("pos", "tok")))
        .withColumn("is_stop", col("tok").isInCollection(stopAll))
      val wSeg = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val seg = toks
        .withColumn("seg",
          sum(when(col("is_stop"), 1L).otherwise(0L)).over(wSeg))
        .filter(!col("is_stop"))
        .select(col("doc_id"), col("seg"), col("pos"), col("tok"))
        .localCheckpoint(true) // phrase, occurrence, and word legs share it
      val ph = seg.groupBy(col("doc_id"), col("seg"))
        .agg(count(lit(1)).as("plen"),
          expr("array_join(transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok), ' ')")
            .as("phrase"))
        .filter(col("plen").between(2, 4))
      val occ = seg.join(ph.select(col("doc_id"), col("seg"), col("plen")),
        Seq("doc_id", "seg"))
      val ws = occ.groupBy(col("tok"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .withColumn("wscore_pm", expr("(1000 * deg) div freq"))
      occ.join(ws.select(col("tok"), col("wscore_pm")), Seq("tok"))
        .groupBy(col("doc_id"), col("seg"))
        .agg(sum(col("wscore_pm")).as("score_pm"))
        .join(ph.select(col("doc_id"), col("seg"), col("phrase")),
          Seq("doc_id", "seg"))
        .groupBy(col("phrase"))
        .agg(max(col("score_pm")).as("score_pm"), count(lit(1)).as("n_occ"))
        // TakeOrderedAndProject prunes to 15 BEFORE the global
        // row_number window ever sees the phrase table
        .orderBy(col("score_pm").desc, col("phrase").asc)
        .limit(15)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_pm").desc, col("phrase").asc)))
        .select(col("rank").cast("long").as("rank"), col("phrase"),
          col("n_occ"), col("score_pm"))
        .orderBy("rank")
    }),

    // Power-of-two length histogram (the doc-length distribution every
    // packing/truncation decision reads): floor(log2(n_chars)) computed
    // EXACTLY as length(bin(n)) − 1 — an integer bit-length, never a
    // float log whose ulp could flip a boundary doc between buckets.
    // One map-side-combined groupBy.
    "q_length_log2" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select((length(expr("bin(length(text))")) - 1).cast("int")
          .as("log2_bucket"))
        .groupBy(col("log2_bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("log2_bucket")
    }),

    // Simpson concentration per language (Simpson 1949; Hunter-Gaston in
    // the ecology/diversity literature): over each language's token
    // distribution, the EXACT integer witnesses Σ c·(c−1) and N·(N−1)
    // whose ratio is the probability two random tokens coincide — the
    // diversity/repetitiveness signal without a logarithm (entropy's
    // cross-engine ulp trap). One tokenize pass, map-side-combined
    // counts; the per-lang aggregate is |vocab|-bounded.
    "q_simpson" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
      toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("lang"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("c") * (col("c") - 1L)).as("coincide_pairs"))
        .select(col("lang"), col("n_tokens"), col("n_types"),
          col("coincide_pairs"),
          (col("n_tokens") * (col("n_tokens") - 1L)).as("total_pairs"))
        .orderBy("lang")
    }),

    // Vocabulary growth curve (Heaps 1978): cumulative distinct types
    // vs cumulative tokens in doc_id order — the corpus statistic that
    // says when more data stops buying new vocabulary. Exact integers
    // throughout: a type's contribution lands at its FIRST doc
    // (min(doc_id) per token), so cum_vocab is a running sum of
    // first-occurrence counts — never a running set union. Since r10 the
    // running totals go through the DISTRIBUTED prefix sum
    // (PrefixSum.runningTotals: range-bucketed local cumsums + offset
    // recovery from the numRanges-row totals table) — no data-sized
    // single-partition window remains; PrefixSumSpec proves row
    // equality with the one-window form, this oracle proves it vs
    // DuckDB.
    "q_vocab_growth" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
      val perDoc = toks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"))
      val firsts = toks.groupBy(col("tok"))
        .agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("new_types"))
      // pinned once: the boundary sample must not re-run the corpus
      // tokenize + two aggregations a second time (the q_rfm pattern;
      // the frame is doc-spine-sized)
      val perDocJoined = perDoc.join(firsts, Seq("doc_id"), "left")
        .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
        .localCheckpoint(true)
      graft.operators.PrefixSum.runningTotals(
          perDocJoined, "doc_id", Seq("n_tokens", "new_types"), numRanges = 8)
        .select(col("doc_id"), col("n_tokens"), col("new_types"),
          col("cum_n_tokens").as("cum_tokens"),
          col("cum_new_types").as("cum_vocab"))
        .orderBy("doc_id")
    }),

    // Hashing-trick feature buckets (Weinberger et al. 2009, "Feature
    // hashing for large scale multitask learning"): each [a-z0-9]+ token
    // of the lowercased text maps to bucket polyhash(token) mod 64 via
    // the SAME portable rolling hash as q_fingerprint ((acc·31 + byte)
    // mod 1e9+7 — not a JVM-private hash), and the engine emits the
    // per-(doc, bucket) count matrix — the fixed-width sparse featurizer
    // that needs no vocabulary shuffle at 100 TB. DuckDB re-hashes every
    // token and recounts every bucket, so one drifted byte anywhere
    // flips the hash.
    "q_feature_hash" -> ((s, d) => {
      Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"), explode(
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
        .withColumn("bucket", expr(
          """pmod(aggregate(filter(split(tok, ''), c -> length(c) > 0),
               CAST(0 AS BIGINT),
               (acc, c) -> pmod(acc * 31 + ascii(c), 1000000007)), 64)"""))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "bucket")
    }),

    // Bigram repetition filter (integer outputs — exact hash; see
    // TextAnalysis.bigramRepetition for why no rounded ratio is emitted).
    "q_repetition" -> ((s, d) => {
      TextAnalysis.bigramRepetition(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Portable k-fold assignment (Sampling.kFold under the oracle): every
    // per-doc fold re-derived from the md5 uniform in DuckDB — the
    // cross-validation split that survives re-sharding.
    "q_kfold" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          Sampling.kFold(col("doc_id"), 5).as("fold"))
        .groupBy(col("fold"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .orderBy("fold", "lang")
    }),

    // Online Poisson bootstrap (Sampling.poissonWeight): 10 replicates
    // of the order-revenue resample, each row's multiplicity drawn from
    // fixed integer Poisson(1) thresholds over the md5 uniform of
    // (orderkey, replicate) — the distributed bootstrap that needs no
    // global n and replays bit-identically on any engine. Emits each
    // replicate's effective count and exact resampled cents sum; the
    // spread across the 10 rows IS the bootstrap uncertainty of total
    // revenue. Zero-shuffle weights; one groupBy over 10 keys.
    "q_bootstrap" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("cents"))
      o.withColumn("rep", explode(expr("sequence(0L, 9L)")))
        .withColumn("w", Sampling.poissonWeight(
          concat_ws(":", col("o_orderkey"), col("rep"))))
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("n_rows"), sum(col("w")).as("n_eff"),
          sum(col("w") * col("cents")).as("sum_cents"))
        .orderBy("rep")
    }),

    // Cross-language vocabulary overlap: for every language pair, the
    // exact distinct-type intersection/union — the corpus diagnostic
    // that flags language-ID bleed (two "languages" sharing most of
    // their vocabulary are one corpus mislabeled). One distinct over
    // (lang, type), one vocab-sized equi-join on the type — never a doc
    // shuffle.
    "q_vocab_overlap" -> ((s, d) => {
      val types = Tables.documents(s, d)
        .select(col("lang"), explode(
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
        .distinct()
      val sizes = types.groupBy(col("lang")).agg(count(lit(1)).as("n_types"))
      types.alias("a")
        .join(types.alias("b"),
          col("a.tok") === col("b.tok") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).as("n_inter"))
        .join(broadcast(sizes.select(col("lang").as("lang_a"),
          col("n_types").as("n_a"))), Seq("lang_a"))
        .join(broadcast(sizes.select(col("lang").as("lang_b"),
          col("n_types").as("n_b"))), Seq("lang_b"))
        .select(col("lang_a"), col("lang_b"), col("n_a"), col("n_b"),
          col("n_inter"), (col("n_a") + col("n_b") - col("n_inter")).as("n_union"))
        .orderBy("lang_a", "lang_b")
    }),

    // Curriculum ordering: the corpus ranked easiest-proxy-first by the
    // proven quality score (desc, id tiebreak) — the data-ordering step
    // before curriculum training. Since r10 the global rank is the
    // DISTRIBUTED two-pass rank: the (score desc, id) total order packs
    // losslessly into one long composite key ((10000 − score·1e4)·2^40
    // + doc_id — the score is round(·, 4) ∈ [0,1] by construction, ids
    // < 2^40), and rank = PrefixSum.runningTotals of ones over that key
    // — range-bucketed local ranks + offset recovery, no data-sized
    // single-partition window.
    "q_curriculum" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality_score"))
        .withColumn("__ck",
          (lit(10000L) - round(col("quality_score") * 10000).cast("long"))
            * lit(1099511627776L) + col("doc_id"))
        .withColumn("__one", lit(1L))
      // STATIC boundaries: the score domain is [0, 10000] by
      // construction, so the key space splits without a sample pass —
      // the quality score (two regex passes per doc) is computed exactly
      // once. Bucket balance tracks the score distribution, never
      // correctness.
      val static = (1 until 8).map(i => i * 1250L * 1099511627776L).toArray
      graft.operators.PrefixSum
        .runningTotals(scored, "__ck", Seq("__one"), numRanges = 8,
          boundaries = Some(static))
        .select(col("doc_id"), col("quality_score"),
          col("cum___one").cast("int").as("curriculum_rank"))
        .orderBy("curriculum_rank")
    }),

    // Vocabulary build + id encoding (TextAnalysis.buildVocab/encodeTokens
    // under the oracle): top-1000 corpus tokens get deterministic ids,
    // the first 200 docs encode as (doc_id, pos, token_id) with OOV → 0 —
    // the dictionary step before sequence packing. The oracle re-derives
    // the full ranking and every positional id in DuckDB.
    "q_vocab_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = TextAnalysis.buildVocab(docs, "text", size = 1000)
      TextAnalysis.encodeTokens(docs.filter(col("doc_id") < 200),
        "doc_id", "text", vocab)
        .orderBy("doc_id", "pos")
    }),

    // Zipf head: top-5 tokens per language by frequency (token-asc
    // tiebreak → deterministic) — the corpus-stats composition of
    // explode + groupBy + window top-k.
    "q_zipf_tokens" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
      val counts = toks.groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n").desc, col("token").asc)
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .orderBy("lang", "rk")
    }),

    "q_text_clean" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.cleanText(col("text")).as("clean_text"),
          TextAnalysis.tokenCountWs(TextAnalysis.cleanText(col("text"))).as("n_clean_tokens"))
        .orderBy("doc_id")
    }),

    // Accent folding (StripAccents codegen Expression under the oracle):
    // the synthetic corpus is pure ASCII, so the query FIRST accents
    // every vowel via translate (same table function in DuckDB), then
    // folds the accents back off with the custom NFD→drop-Mn→NFC
    // expression — the oracle's strip_accents must reproduce the exact
    // strings AND the byte-count drop (2-byte Latin-1 vowels back to 1),
    // so an expression that passed text through untouched, or folded to
    // the wrong form, flips the hash on every row.
    "q_text_normalize" -> ((s, d) => {
      val accented = translate(col("text"), "aeiou", "áèîöü")
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.expressions.functions.strip_accents(accented).as("norm"),
          // cast: Spark octet_length is INT, DuckDB strlen is BIGINT —
          // the driver's schema compare needs the types identical too
          octet_length(accented).cast("long").as("n_bytes_accented"),
          octet_length(graft.expressions.functions.strip_accents(accented))
            .cast("long").as("n_bytes_norm"))
        .orderBy("doc_id")
    }),

    "q_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // Collocation mining (Cooccur.bigramPmi under the oracle): adjacent-
    // token bigram counts with both unigram margins and the integer
    // cross-multiplied PMI >= 0 test (n_xy·N² >= B·n_x·n_y in
    // DECIMAL(38,0) — never a float log; splits 437/463 on this corpus,
    // genuinely discriminative). DuckDB re-derives every count and the
    // same integer comparison (HUGEINT), so one drifted margin or a
    // flipped threshold anywhere flips the hash.
    "q_cooccur_pmi" -> ((s, d) => {
      graft.operators.Cooccur.bigramPmi(Tables.documents(s, d), "text", minCount = 10L)
        .orderBy("bigram")
    }),

    // Boilerplate scrub (Boilerplate.scrubFrequentNgrams under the
    // oracle): token positions covered by a trigram recurring in >= 4
    // distinct docs are removed and the survivors re-joined in order —
    // DuckDB replays the whole pipeline (frequent set, coverage,
    // ordered reassembly) including the reassembled STRINGS, so one
    // mis-merged position anywhere flips the hash.
    "q_boilerplate_scrub" -> ((s, d) => {
      // doc-spread before the n-gram explode — gated (see spreadIfNarrow)
      graft.operators.Boilerplate
        .scrubFrequentNgrams(
          spreadIfNarrow(Tables.documents(s, d), "doc_id"),
          "doc_id", "text", n = 3, minDocs = 4L)
        .orderBy("doc_id")
    }),

    // Bigram-familiarity quality score (a perplexity proxy without
    // floats): fraction of a doc's bigrams occurring >= 30 times in the
    // corpus, emitted as the integer pair + the 2·familiar >= total
    // majority test (splits the corpus genuinely — the median corpus
    // bigram count is 29 at sf0.01, the driver's oracle scale; 30 at
    // sf0.001 — the documents corpora DIFFER per sf dir. Data-dependent
    // constant: re-pin, don't debug, if the generator changes).
    "q_bigram_familiarity" -> ((s, d) => {
      graft.operators.Boilerplate
        .bigramFamiliarity(Tables.documents(s, d), "doc_id", "text", minCount = 30L)
        .orderBy("doc_id")
    }),

    // Bigram-LM surprise profile (NgramLm under the oracle): add-one-
    // smoothed p(w2|w1) surprise-band histogram per doc, every band
    // decided by the integer test (c12+1)·m·V < c1+V — the perplexity
    // quality filter with zero float logs. The model tables (c12/c1/V)
    // broadcast; the corpus bigram stream never hash-shuffles. DuckDB
    // re-derives the full model and every band count, so one drifted
    // transition count anywhere flips the hash. (m=1 splits this corpus
    // 2..44 per doc; the majority flag is the binary filter.)
    "q_lm_surprise" -> ((s, d) => {
      graft.operators.NgramLm
        .surpriseProfile(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Gopher quality rules (TextAnalysis.gopherRules under the oracle):
    // the public Rae-et-al. filter set as exact integer tests — word-
    // count window, mean-word-length window by CROSS-MULTIPLICATION,
    // stopword floor over the paper's 8-word list, duplicate-fraction
    // majority test — plus the conjunction. Each rule genuinely splits
    // this corpus (thresholds pinned to its measured quantiles).
    "q_gopher_rules" -> ((s, d) => {
      val cols = TextAnalysis.gopherRules(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
        .withColumn("pass", col("rule_word_count") && col("rule_word_length") &&
          col("rule_stopwords") && col("rule_repetition"))
        .orderBy("doc_id")
    }),

    // Winnowing fingerprint profile (Winnow.profile under the oracle):
    // md5 token-4-gram hashes, w=4 rightmost-minimum selection via one
    // struct-min window, plus the paper's DENSITY GUARANTEE as a
    // certificate — consecutive selections can never be more than w
    // apart, so gap_ok is a theorem and any false row means the
    // selection rule itself drifted. DuckDB replays the identical
    // struct-min (same hash strings, same (h, -pos) total order).
    "q_winnow" -> ((s, d) => {
      graft.operators.Winnow
        .profile(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Winnowed near-dup match (Winnow.matches): doc pairs sharing >= 3
    // distinct selected fingerprints — the MOSS matching step over an
    // index ~40% the size of the full shingle set, shuffling only
    // (fingerprint, id) pairs. Finds exactly the planted near-dup pairs
    // on this corpus (24 at sf0.01); the oracle recomputes the entire
    // selection + join, so a single extra or missing fingerprint
    // anywhere changes some pair's count and flips the hash.
    "q_winnow_matches" -> ((s, d) => {
      graft.operators.Winnow
        .matches(Tables.documents(s, d), "doc_id", "text", minShared = 3L)
        .orderBy("id_a", "id_b")
    }),

    // MOSS report scores over the winnowed matches: containment = shared
    // fingerprints over the smaller side's count as an exact integer
    // percentage — the "% match" figure, min-side-normalized so full
    // containment of a short doc scores 100.
    "q_winnow_scores" -> ((s, d) => {
      graft.operators.Winnow
        .matchScores(Tables.documents(s, d), "doc_id", "text", minShared = 3L)
        .orderBy("id_a", "id_b")
    }),

    // The armed hot-fingerprint cap (maxDocFreq=2): fingerprints shared
    // by >2 docs — the boilerplate keys whose df² pair expansion is the
    // skew bottleneck at 100 TB — are dropped BEFORE the pair join, the
    // same armed-cap discipline as the LSH buckets. At sf0.01 the cap
    // drops 32 of 9,457 fingerprints and 3 of the 24 uncapped pairs
    // (both df-3 boilerplate evidence) — a genuine split, not a no-op.
    "q_winnow_capped" -> ((s, d) => {
      graft.operators.Winnow
        .matches(Tables.documents(s, d), "doc_id", "text", minShared = 3L,
          maxDocFreq = 2)
        .orderBy("id_a", "id_b")
    }),

    // One-way ANOVA with ZERO floats: between/within sums of squares
    // over event value cents by type, each emitted ×n·n (the exact
    // integer rendering: SSB·n² = n·Σ nᵍ·(n·x̄ᵍ − n·x̄)²/... rearranged
    // to pure products — here via the equivalent computational form
    // n²·SSB = n·Σ Tᵍ²/nᵍ... made integer by cross-multiplying group
    // totals: SSB_scaled = Σᵍ (n·Tᵍ − nᵍ·T)² div (nᵍ·n) summed exactly
    // in DECIMAL(38)) and the F-test decided by cross-multiplication
    // SSB·df_w > 2·SSW·df_b (the "F > 2" screen). The experiment-
    // analysis primitive, replayable bit-for-bit.
    // Hartley's Fmax (Stats.hartleyFmax) per weekday: the variance-
    // homogeneity SCREEN q_anova's pooled F quietly assumes — largest
    // over smallest event-type variance, exact by cross-multiplied
    // variance rationals; which types sit at the extremes rides along.
    "q_hartley_fmax" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(weekday(col("ts").cast("date")).cast("long").as("dow"),
          col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))
      Stats.hartleyFmax(ev, Seq("dow"), "event_type", "v")
        .orderBy("dow")
    }),

    // Brown-Forsythe (Stats.brownForsythe) on the q_hartley_fmax frame:
    // the ROBUST homoscedasticity verdict — ANOVA on |deviations from
    // the group median| — where Fmax reads extremes a heavy tail can
    // fake. Exact doubled medians off the value spine; q_anova's
    // integer SS rendering on the deviations.
    "q_brown_forsythe" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(weekday(col("ts").cast("date")).cast("long").as("dow"),
          col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))
      Stats.brownForsythe(ev, Seq("dow"), "event_type", "v")
        .orderBy("dow")
    }),

    // ANOVA effect sizes on the q_anova spine: eta² = SSB/SST (the
    // variance fraction event type EXPLAINS — the number the F bit
    // alone hides) and the less-biased omega², both exact because the
    // n-scaling of the SS pieces cancels in the ratios:
    // omega²_x1e6 = (10⁶·(SSB·df_w − df_b·SSW)) div (SST·df_w + SSW).
    "q_effect_size" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      // WHOLE-DOLLAR grid, not cents: the omega2 numerator grows
      // ~n^2*v^2*df_w*1e6 and cents would leave DECIMAL(38,0) at sf0.1;
      // dollars keep it exact to ~sf10 with margin
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(round(value) AS BIGINT)").as("v"))
      val g = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("ng"), sum(col("v")).as("tg"),
          sum(col("v").cast(dec) * col("v").cast(dec)).as("sqg"))
      val tot = g.agg(sum(col("ng")).as("n"), sum(col("tg")).as("t"),
        sum(col("sqg")).as("sq"), count(lit(1)).as("k"))
      g.crossJoin(broadcast(tot))
        .withColumn("dev2",
          expr("""(CAST(n AS DECIMAL(38,0)) * tg - CAST(ng AS DECIMAL(38,0)) * t)
                  * (CAST(n AS DECIMAL(38,0)) * tg - CAST(ng AS DECIMAL(38,0)) * t)
                  div (CAST(ng AS DECIMAL(38,0)) * n)"""))
        .groupBy(col("n"), col("t"), col("sq"), col("k"))
        .agg(sum(col("dev2")).as("ssb"))
        .withColumn("sst",
          expr("CAST(n AS DECIMAL(38,0)) * sq - CAST(t AS DECIMAL(38,0)) * t"))
        .withColumn("ssw", col("sst") - col("ssb"))
        .withColumn("df_b", col("k") - 1)
        .withColumn("df_w", col("n") - col("k"))
        .withColumn("eta2_x1e6",
          when(col("sst") === 0, 0L)
            .otherwise(expr("(ssb * 1000000) div sst")))
        .withColumn("omega2_x1e6",
          when(col("sst") * col("df_w") + col("ssw") === 0, 0L)
            .otherwise(expr(
              """((ssb * df_w - CAST(df_b AS DECIMAL(38,0)) * ssw) * 1000000)
                 div (sst * df_w + ssw)""")))
        .select(col("n"), col("k"), col("df_b"), col("df_w"),
          col("eta2_x1e6"), col("omega2_x1e6"))
    }),

    "q_anova" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("v"))
      val g = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("ng"), sum(col("v")).as("tg"),
          sum(col("v").cast(dec) * col("v").cast(dec)).as("sqg"))
      val tot = g.agg(sum(col("ng")).as("n"), sum(col("tg")).as("t"),
        sum(col("sqg")).as("sq"), count(lit(1)).as("k"))
      g.crossJoin(broadcast(tot))
        .withColumn("dev2", // (n·Tg − ng·T)² div (ng·n) — exact per group
          expr("""(CAST(n AS DECIMAL(38,0)) * tg - CAST(ng AS DECIMAL(38,0)) * t)
                  * (CAST(n AS DECIMAL(38,0)) * tg - CAST(ng AS DECIMAL(38,0)) * t)
                  div (CAST(ng AS DECIMAL(38,0)) * n)"""))
        .groupBy(col("n"), col("t"), col("sq"), col("k"))
        .agg(sum(col("dev2")).as("ssb_scaled"))
        // SST·n = n·Σv² − T² ; SSW·n = SST·n − SSB·n (ssb_scaled ≈ SSB·n)
        .withColumn("sst_scaled",
          expr("CAST(n AS DECIMAL(38,0)) * sq - CAST(t AS DECIMAL(38,0)) * t"))
        .withColumn("ssw_scaled", col("sst_scaled") - col("ssb_scaled"))
        .withColumn("df_b", col("k") - 1)
        .withColumn("df_w", col("n") - col("k"))
        // the F screen compares the exact ·n-scaled decimals; the
        // EMITTED SS values divide the n factor back out (floor) so
        // they stay in BIGINT at any sf
        .withColumn("f_gt_2",
          expr("ssb_scaled * df_w > ssw_scaled * df_b * 2"))
        .select(col("n"), col("k"),
          expr("(ssb_scaled div CAST(n AS DECIMAL(38,0)))").cast("long").as("ssb"),
          expr("(ssw_scaled div CAST(n AS DECIMAL(38,0)))").cast("long").as("ssw"),
          col("df_b"), col("df_w"), col("f_gt_2"))
    }),

    // Zipf coverage curve: cumulative corpus-token mass of the top-k
    // vocabulary at k ∈ {5, 10, 20} — the table a tokenizer-size
    // decision reads (how much of the stream the first k types
    // cover). Vocabulary-bounded cumsum; exact per-mille.
    "q_vocab_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val freq = Tables.documents(s, d)
        .select(explode(gfn.ascii_tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val tot = freq.agg(sum(col("n")).as("n_total"))
      val ranked = freq
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("tok").asc)).cast("long"))
        .withColumn("cum", sum(col("n")).over(
          Window.orderBy(col("n").desc, col("tok").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      import s.implicits._
      val ks = Seq(5L, 10L, 20L).toDF("k")
      ranked.join(broadcast(ks), col("rk") === col("k"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("cum").as("n_covered"), col("n_total"),
          expr("(cum * 1000) div n_total").as("coverage_pm"))
        .orderBy("k")
    }),

    // Hour-of-day traffic profile per event type with the peak hour by
    // (−n, hour) struct-min — the capacity-planning table. One
    // 24×|types| aggregate; the champion pick is the repo's total-order
    // struct-min idiom.
    "q_hourly_profile" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
      val tot = hourly.groupBy(col("event_type")).agg(sum(col("n")).as("n_total"))
      hourly.groupBy(col("event_type"))
        .agg(min(struct((-col("n")).as("nn"), col("hr").as("hr"))).as("best"),
          count(lit(1)).as("n_hours"))
        .join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("n_hours"), col("best.hr").as("peak_hour"),
          (-col("best.nn")).as("peak_n"), col("n_total"),
          expr("((0 - best.nn) * 1000) div n_total").as("peak_share_pm"))
        .orderBy("event_type")
    }),

    // Cross-source content leak: 10-token chunks spanning MULTIPLE
    // sources, counted per source pair (57 pairs at sf0.01 — whole-text
    // dups never cross sources here, chunks do) — the provenance-
    // contamination audit that catches shared boilerplate/templates
    // before per-source statistics or source-stratified splits are
    // trusted. (chunk-hash, source) distinct pairs shuffle once; the
    // pair expansion is bounded per hash by its source spread (≤
    // |sources|), never by document count.
    "q_source_leak" -> ((s, d) => {
      val hs = Tables.documents(s, d)
        .select(col("source"), gfn.ascii_tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 1)
        .select(col("source"), explode(expr(
          "transform(sequence(0, (size(tk)-1) div 10), " +
            "i -> md5(concat_ws(' ', slice(tk, i*10+1, 10))))")).as("h"))
        .distinct()
      hs.select(col("h"), col("source").as("src_a"))
        .join(hs.select(col("h"), col("source").as("src_b")), Seq("h"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared_chunks"))
        .orderBy("src_a", "src_b")
    }),

    // Character-bigram profile per lang: the top-5 char bigrams by
    // frequency (bigram-asc tiebreak) — the sub-token signal family
    // language-ID heuristics read, surfaced as an auditable table.
    // Explode is per-character but the aggregate collapses map-side;
    // the rank window runs over per-lang bigram counts post-aggregate.
    "q_char_bigrams" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // codegen bigram kernel, not transform()+rlike: the interpreted
      // HOF + per-bigram regex was ~2.5 s of serial scan time (r17);
      // the kernel emits exactly the [a-z]{2} pairs the regex kept
      val pairs = Tables.documents(s, d)
        .select(col("lang"), lower(col("text")).as("t"))
        .select(col("lang"), explode(gfn.ascii_bigrams(col("t"))).as("bg"))
      pairs.groupBy(col("lang"), col("bg")).agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("n").desc, col("bg").asc))
          .cast("long"))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("bg"), col("n"))
        .orderBy("lang", "rk")
    }),

    // Cost-sensitive language-ID evaluation: the confusion matrix
    // weighted by an integer cost table (0 correct, 1 within-script,
    // 2 cross-script) — the deployment-risk figure a plain accuracy
    // number hides. Cost table is a when-chain literal; one aggregate.
    "q_confusion_cost" -> ((s, d) => {
      val latin = Seq("en", "de", "es", "fr")
      val pred = TextAnalysis.langId(col("text"))
      val cost = when(col("lang") === col("pred"), 0L)
        .when(col("lang").isin(latin: _*) && col("pred").isin(latin: _*), 1L)
        .otherwise(2L)
      Tables.documents(s, d)
        .select(col("lang"), pred.as("pred"))
        .withColumn("cost", cost)
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"), max(col("cost")).as("unit_cost"),
          sum(col("cost")).as("total_cost"))
        .orderBy("lang", "pred")
    }),

    // Audience overlap: per event-type pair, the user-set intersection
    // and Jaccard per-mille — the segment-overlap matrix (10 pairs)
    // product analytics reads before defining cohorts. Distinct
    // (type, user) pairs shuffle once; the pair join is over per-type
    // user sets with bounded |types|² output.
    "q_audience_overlap" -> ((s, d) => {
      val tu = Tables.events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
        .localCheckpoint(true) // feeds sizes + the pair join
      val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
      tu.select(col("event_type").as("type_a"), col("user_id"))
        .join(tu.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_inter"))
        .join(broadcast(sizes.select(col("event_type").as("type_a"),
          col("n_users").as("n_a"))), Seq("type_a"))
        .join(broadcast(sizes.select(col("event_type").as("type_b"),
          col("n_users").as("n_b"))), Seq("type_b"))
        .withColumn("jaccard_pm",
          expr("(n_inter * 1000) div (n_a + n_b - n_inter)"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_inter"), col("jaccard_pm"))
        .orderBy("type_a", "type_b")
    }),

    // Tokenizer round-trip certificate: encode every doc against the
    // full vocabulary, decode ids back through the same dictionary, and
    // certify decoded == original token stream per doc — the id-map
    // bijectivity check a tokenizer release gates on. Vocab broadcasts;
    // the decode re-join rides the encode's own explode.
    "q_vocab_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = TextAnalysis.buildVocab(docs, "text", size = 1000)
      val dec = TextAnalysis.encodeTokens(docs, "doc_id", "text", vocab)
        .filter(col("token_id") > 0)
        .join(broadcast(vocab), Seq("token_id"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_decoded"),
          array_join(expr(
            "transform(sort_array(collect_list(struct(pos, token))), t -> t.token)"),
            " ").as("decoded"))
      docs.select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x != '')").as("__tk"))
        .select(col("doc_id"), size(col("__tk")).cast("long").as("n_tokens"),
          array_join(col("__tk"), " ").as("orig"))
        .join(dec, Seq("doc_id"), "left")
        .withColumn("n_decoded", coalesce(col("n_decoded"), lit(0L)))
        .withColumn("roundtrip_ok",
          col("n_decoded") === col("n_tokens") &&
            coalesce(col("decoded"), lit("")) === col("orig"))
        .select(col("doc_id"), col("n_tokens"), col("n_decoded"), col("roundtrip_ok"))
        .orderBy("doc_id")
    }),

    // Signed feature-hash embedding (the Weinberger et al. hashing
    // trick with the ±1 sign hash that unbiases collisions — the DENSE
    // complement to q_feature_hash's count matrix): every doc embedded
    // into 16 signed integer components, per-component flat when-sums
    // (the CollapseProject-safe rendering). No vocabulary at any size.
    "q_hash_embed" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(gfn.ascii_tokens(col("text"))).as("tok"))
        .withColumn("b", pmod(conv(substring(md5(concat(lit("b:"), col("tok"))), 1, 8),
          16, 10).cast("long"), lit(16L)))
        .withColumn("sgn", when(pmod(conv(substring(md5(concat(lit("s:"), col("tok"))), 1, 8),
          16, 10).cast("long"), lit(2L)) === 0L, 1L).otherwise(-1L))
      val fs = (0 until 16).map(j =>
        sum(when(col("b") === j.toLong, col("sgn")).otherwise(0L)).as(s"f$j"))
      toks.groupBy(col("doc_id"))
        .agg(fs.head, fs.tail: _*)
        .orderBy("doc_id")
    }),

    // Detector-ensemble agreement: the winnow near-dup pair set vs the
    // shared-10-token-chunk pair set, classified both/winnow_only/
    // chunk_only by one full outer join on the pair key — the audit
    // that says whether two dedup signals see the same duplicates or
    // complementary ones.
    "q_dedup_agreement" -> ((s, d) => {
      // doc-spread: feeds BOTH the winnowing pass and the chunk
      // fingerprints — gated (see spreadIfNarrow)
      val docs = spreadIfNarrow(Tables.documents(s, d), "doc_id")
      val pw = graft.operators.Winnow
        .matches(docs, "doc_id", "text", minShared = 3L)
        .select(col("id_a"), col("id_b"))
      val ch = docs
        .select(col("doc_id"), gfn.ascii_tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 1)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, (size(tk)-1) div 10), " +
            "i -> md5(concat_ws(' ', slice(tk, i*10+1, 10))))")).as("fp"))
        .distinct()
      val pc = ch.select(col("doc_id").as("id_a"), col("fp"))
        .join(ch.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      pw.withColumn("w", lit(1L))
        .join(pc.withColumn("c", lit(1L)), Seq("id_a", "id_b"), "full_outer")
        .withColumn("status",
          when(col("w").isNotNull && col("c").isNotNull, "both")
            .when(col("w").isNotNull, "winnow_only")
            .otherwise("chunk_only"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy("status")
    }),

    // Context-length tuning curve: the chop-packed layout evaluated at
    // ctx ∈ {128, 256, 512} in ONE plan (docs × 3-row ctx spine, the
    // packer's per-(ctx, shard) cumsum windows) — per ctx: documents
    // split across window boundaries (the attention-contamination
    // cost), total windows, and tail padding waste. The table that
    // picks a context length from data instead of folklore.
    "q_ctx_curve" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokenCountWs(col("text")).as("n_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("shard", pmod(col("doc_id"), lit(8L)))
      val ctxs = Seq(128L, 256L, 512L)
      import s.implicits._
      val spine = ctxs.toDF("ctx")
      val w = Window.partitionBy(col("ctx"), col("shard")).orderBy(col("doc_id"))
      val packed = docs.crossJoin(broadcast(spine))
        .withColumn("end_off", sum(col("n_tok")).over(w))
        .withColumn("start_off", col("end_off") - col("n_tok"))
        .withColumn("first_win", expr("start_off div ctx"))
        .withColumn("last_win", expr("(end_off - 1) div ctx"))
      val perShard = packed.groupBy(col("ctx"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("first_win") =!= col("last_win"), 1L).otherwise(0L)).as("n_split"),
          (max(col("last_win")) + 1).as("shard_windows"),
          sum(col("n_tok")).as("shard_tokens"))
      perShard.groupBy(col("ctx"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_split")).as("n_split"),
          sum(col("shard_windows")).as("n_windows"),
          sum(col("shard_tokens")).as("n_tokens"))
        .withColumn("split_pm", expr("(n_split * 1000) div n_docs"))
        .withColumn("tail_waste", col("n_windows") * col("ctx") - col("n_tokens"))
        .select(col("ctx"), col("n_docs"), col("n_split"), col("split_pm"),
          col("n_windows"), col("n_tokens"), col("tail_waste"))
        .orderBy("ctx")
    }),

    // word2vec negative-sampling table (Mikolov et al. 2013): per-token
    // draw weight ∝ freq^(3/4) — computed EXACTLY in integers as
    // isqrt(freq · isqrt(freq)) (x^(3/4) = √(x·√x); both isqrt layers
    // carry the ±1 seed correction, so any engine replays the nested
    // floor identically — the α=1/2 temperature-mix trick extended to
    // α=3/4). boosted marks tokens whose sampling share exceeds their
    // natural share — exactly the rare-token lift the exponent exists
    // to produce. Vocabulary-bounded; totals via 1-row broadcast.
    "q_neg_sampling" -> ((s, d) => {
      val freq = Tables.documents(s, d)
        .select(explode(gfn.ascii_tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= 20)
      val w34 = Sampling.isqrt(col("freq") * Sampling.isqrt(col("freq")))
      val weighted = freq.withColumn("w34", w34)
      val tot = weighted.agg(sum(col("w34")).as("tw"), sum(col("freq")).as("tf"))
      weighted.crossJoin(broadcast(tot))
        .withColumn("prob_pm", expr("(w34 * 1000) div tw"))
        .withColumn("natural_pm", expr("(freq * 1000) div tf"))
        .withColumn("boosted", col("prob_pm") > col("natural_pm"))
        .select(col("token"), col("freq"), col("w34"), col("prob_pm"),
          col("natural_pm"), col("boosted"))
        .orderBy("token")
    }),

    // Weak-supervision label matrix (the Snorkel-style input table):
    // three cheap heuristic labelers — word-count window 351/500,
    // half-distinct repetition rule 219/500, 0.4-diversity rule
    // 328/500, each genuinely splitting this corpus — and the majority
    // vote, all exact integer tests. The per-doc vote matrix is what a
    // label model trains on; disagreement rows are the audit queue.
    "q_weak_labels" -> ((s, d) => {
      val tk = gfn.ascii_tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(tk).cast("long").as("nw"),
          size(array_distinct(tk)).cast("long").as("nd"))
        .withColumn("l_wc", col("nw") >= 30L && col("nw") <= 90L)
        .withColumn("l_rep", col("nd") * 2 >= col("nw"))
        .withColumn("l_div", col("nd") * 5 >= col("nw") * 2)
        .withColumn("majority",
          (when(col("l_wc"), 1L).otherwise(0L) +
            when(col("l_rep"), 1L).otherwise(0L) +
            when(col("l_div"), 1L).otherwise(0L)) >= 2L)
        .select(col("doc_id"), col("l_wc"), col("l_rep"), col("l_div"), col("majority"))
        .orderBy("doc_id")
    }),

    // Cohen's kappa between the word-count and repetition labelers as
    // an exact rational: κ = (n·n_agree − Σ marginal products) /
    // (n² − Σ marginal products), emitted as integer numerator,
    // denominator, and ×1000 floor — chance-corrected agreement with
    // zero floats, the annotation-quality figure behind any labeler
    // ensemble.
    "q_kappa" -> ((s, d) => {
      val tk = gfn.ascii_tokens(col("text"))
      val lab = Tables.documents(s, d)
        .select(size(tk).cast("long").as("nw"),
          size(array_distinct(tk)).cast("long").as("nd"))
        .select((col("nw") >= 30L && col("nw") <= 90L).as("a"),
          (col("nd") * 2 >= col("nw")).as("b"))
      lab.agg(count(lit(1)).as("n"),
          sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"),
          sum(when(col("a"), 1L).otherwise(0L)).as("a1"),
          sum(when(col("b"), 1L).otherwise(0L)).as("b1"))
        .withColumn("pe_num",
          col("a1") * col("b1") + (col("n") - col("a1")) * (col("n") - col("b1")))
        .withColumn("kappa_num", col("n") * col("n_agree") - col("pe_num"))
        .withColumn("kappa_den", col("n") * col("n") - col("pe_num"))
        // MEASURED (round 12): DuckDB `//` truncates toward zero on
        // negatives exactly like Spark's `div` (−7//2 = −3 in both), so
        // plain div is the portable rendering even for negative κ —
        // it is `%`/pmod that differ between the engines, not the
        // integer division.
        .withColumn("kappa_x1000", expr("(kappa_num * 1000) div kappa_den"))
        .select(col("n"), col("n_agree"), col("a1"), col("b1"),
          col("kappa_num"), col("kappa_den"), col("kappa_x1000"))
    }),

    // Linearly weighted Cohen's κ (Cohen 1968) on ORDINAL 3-level
    // labels: where q_kappa's binary raters score agree/disagree flat,
    // the weighted variant charges |i−j| for each level of
    // disagreement — adjacent-level confusion costs half of
    // extreme-level confusion, the right loss for ordered quality
    // tiers. Observed weighted disagreement is just Σ|a−b| (no cells
    // table), and the expected one unfolds from the marginals alone:
    // Σᵢⱼ rᵢcⱼ|i−j| = r₀(c₁+2c₂) + r₁(c₀+c₂) + r₂(2c₀+c₁) — ONE
    // aggregate, κ_w = 1 − n·ow/ew cross-multiplied into a single
    // signed division.
    "q_weighted_kappa" -> ((s, d) => {
      val tk = gfn.ascii_tokens(col("text"))
      val lab = Tables.documents(s, d)
        .select(size(tk).cast("long").as("nw"),
          size(array_distinct(tk)).cast("long").as("nd"))
        .select(
          when(col("nw") < 40L, 0L).when(col("nw") < 70L, 1L)
            .otherwise(2L).as("a"),
          when(col("nd") * 10 < col("nw") * 5, 0L)
            .when(col("nd") * 10 < col("nw") * 7, 1L)
            .otherwise(2L).as("b"))
      lab.agg(count(lit(1)).as("n"),
          sum(abs(col("a") - col("b"))).as("ow"),
          sum(when(col("a") === 0, 1L).otherwise(0L)).as("r0"),
          sum(when(col("a") === 1, 1L).otherwise(0L)).as("r1"),
          sum(when(col("a") === 2, 1L).otherwise(0L)).as("r2"),
          sum(when(col("b") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("b") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("b") === 2, 1L).otherwise(0L)).as("c2"))
        .withColumn("ew",
          col("r0") * (col("c1") + col("c2") * 2)
            + col("r1") * (col("c0") + col("c2"))
            + col("r2") * (col("c0") * 2 + col("c1")))
        .withColumn("kw_x1000",
          when(col("ew") === 0, 0L).otherwise(expr(
            "1000 - (CAST(1000 AS DECIMAL(38,0)) * n * ow) div ew")))
        .select(col("n"), col("ow"), col("r0"), col("r1"), col("r2"),
          col("c0"), col("c1"), col("c2"), col("ew"), col("kw_x1000"))
    }),

    // CM-sketch join-size estimation (the optimizer-statistics
    // primitive): |events ⋈ orders| on the shared id space, estimated
    // from two 3×1024-cell sketches via the per-row inner product with
    // min-over-rows — never undercounts (certificate emitted) — beside
    // the exact Σ f_E(k)·f_O(k) computed from the two count tables
    // (a |keys|-row join, never a row-level join).
    "q_join_est" -> ((s, d) => {
      import graft.operators.CMSketch
      val ev = Tables.events(s, d).select(col("user_id").as("k"))
      val or = Tables.orders(s, d).select(col("o_custkey").cast("long").as("k"))
      val sa = CMSketch.build(ev, "k", d = 3, w = 1024)
      val sb = CMSketch.build(or, "k", d = 3, w = 1024)
      val exact = ev.groupBy(col("k")).agg(count(lit(1)).as("fa"))
        .join(or.groupBy(col("k")).agg(count(lit(1)).as("fb")), Seq("k"))
        .agg(sum(col("fa") * col("fb")).as("n_exact"))
      CMSketch.joinSizeEstimate(sa, sb, d = 3)
        .crossJoin(broadcast(exact))
        .select(col("n_exact"), col("join_est"),
          (col("join_est") >= col("n_exact")).as("never_under"),
          expr("(join_est * 100) div n_exact").as("rel_x100"))
    }),

    // Time-travel snapshot over the SCD2 dimension: every user's
    // dimension row AS OF the pinned instant — the validity-interval
    // point lookup every bitemporal consumer runs. One interval filter
    // over the q_scd2 build.
    "q_time_travel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val asOfUs = 1705276800000000L // 2024-01-15T00:00:00Z
      val ev = Tables.events(s, d).filter(col("user_id") < 50)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("valid_to_us",
          coalesce(lead(col("ts_us"), 1).over(w), lit(Long.MaxValue)))
        .withColumn("version", row_number().over(w).cast("long"))
        .filter(col("ts_us") <= asOfUs && col("valid_to_us") > asOfUs)
        .select(col("user_id"), col("version"), col("event_type"),
          col("ts_us").as("valid_from_us"))
        .orderBy("user_id")
    }),

    // Kendall rank correlation between the BM25 ranking and the integer
    // tf·idf ranking over the same three query terms — the ranker-
    // agreement metric an eval harness reports before swapping scorers.
    // Tau-a over the docs common to both top-20s: concordant/discordant
    // pair counts (ranks are strict — no tie term), tau ×1000 by exact
    // integer division. Every frame after the two rankers is ≤20 rows,
    // so the pair join is bounded by construction.
    "q_rank_corr" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val terms = Seq("table", "hash", "window")
      val a = Retrieval.bm25TopK(docs, "doc_id", "text", terms, topK = 20)
        .select(col("doc_id"), col("rank").cast("long").as("rank_a"))
      val hits = docs
        .select(col("doc_id"), explode(gfn.ascii_tokens(col("text"))).as("tok"))
        .filter(col("tok").isin(terms: _*))
      val n = docs.select(count(lit(1)).as("n_corpus"))
      val dfs = hits.select(col("doc_id"), col("tok")).distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .withColumn("idf_x1e6", expr("(n_corpus * 1000000) div df"))
      val b = hits.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .join(broadcast(dfs.select(col("tok"), col("idf_x1e6"))), Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("idf_x1e6")).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
        .withColumn("rank_b", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id"), col("rank_b"))
      val common = a.join(b, Seq("doc_id"))
      val x = common.select(col("doc_id").as("ida"), col("rank_a").as("aa"),
        col("rank_b").as("ba"))
      val y = common.select(col("doc_id").as("idb"), col("rank_a").as("ab"),
        col("rank_b").as("bb"))
      val m = common.agg(count(lit(1)).as("n_common"))
      x.join(y, col("ida") < col("idb")) // ≤ C(20,2) pairs
        .withColumn("conc",
          when((col("aa") - col("ab")) * (col("ba") - col("bb")) > 0, 1L).otherwise(0L))
        .groupBy()
        .agg(count(lit(1)).as("n_pairs"), sum(col("conc")).as("n_conc"))
        .crossJoin(broadcast(m))
        .withColumn("n_disc", col("n_pairs") - col("n_conc"))
        .withColumn("tau_x1000",
          expr("((n_conc - n_disc) * 1000) div n_pairs"))
        .select(col("n_common"), col("n_pairs"), col("n_conc"), col("n_disc"),
          col("tau_x1000"))
    }),

    // Slowly-changing-dimension Type 2 build: each user's event_type
    // history compressed to validity intervals — keep rows where the
    // type CHANGES (vs the (ts, id)-ordered predecessor), close each
    // interval at the next change, flag the open one current, number
    // versions. The warehouse dimension-maintenance op as two per-user
    // windows (keyed parallelism); exact integer micros.
    "q_scd2" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).filter(col("user_id") < 50)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val changes = ev
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      changes
        .withColumn("valid_to_us",
          coalesce(lead(col("ts_us"), 1).over(w2), lit(-1L)))
        .withColumn("version", row_number().over(w2).cast("long"))
        .withColumn("is_current", col("valid_to_us") === -1L)
        .select(col("user_id"), col("version"), col("event_type"),
          col("ts_us").as("valid_from_us"), col("valid_to_us"), col("is_current"))
        .orderBy("user_id", "version")
    }),

    // Kish effective sample size (survey statistics, applied to data
    // mixing): per source, n_eff = (Σw)² / Σw² over inverse-lang-
    // frequency integer weights — the honest "how many docs is this
    // weighted mix really worth" figure, emitted ×100 by exact integer
    // division. Weights broadcast from a |langs|-row table.
    "q_kish_neff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lw = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      val n = docs.agg(count(lit(1)).as("n_total"))
      val weighted = docs.select(col("source"), col("lang"))
        .join(broadcast(lw), Seq("lang"))
        .crossJoin(broadcast(n))
        .withColumn("w", expr("(n_total * 1000) div (n_lang * 5)"))
      weighted.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w")).as("sum_w"),
          sum(col("w") * col("w")).as("sum_w2"))
        .withColumn("neff_x100", expr("(sum_w * sum_w * 100) div sum_w2"))
        .orderBy("source")
    }),

    // Concentration (Gini) of the corpus over source and lang: the
    // exact integer rank formula Σ(2i−n−1)·x_i div (n·Σx) over the
    // BOUNDED group-count spine (20 sources / 5 langs — the rank
    // window is |groups|-sized, never data-sized). The one-row-per-
    // dimension inequality report a dataset card cites.
    "q_gini" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      def gini(dim: String) = {
        val sizes = docs.groupBy(col(dim).as("g")).agg(count(lit(1)).as("x"))
        sizes
          .withColumn("i", row_number().over(Window.orderBy(col("x"), col("g"))).cast("long"))
          .groupBy()
          .agg(count(lit(1)).as("n_groups"),
            sum(col("x")).as("n_total"),
            sum((col("i") * 2 - 1) * col("x")).as("wsum"))
          .select(lit(dim).as("dimension"), col("n_groups"), col("n_total"),
            // Σ(2i−n−1)·x_i = Σ(2i−1)·x_i − n·Σx = wsum − n·n_total
            expr("((wsum - n_groups * n_total) * 1000) div (n_groups * n_total)")
              .as("gini_x1000"))
      }
      gini("source").unionByName(gini("lang")).orderBy("dimension")
    }),

    // Burst detection over the event stream: a (type, day) count is a
    // BURST when it exceeds 1.2× the daily average of its previous 7
    // OBSERVED days — decided by the exact cross-multiplication
    // 35·n > 6·wk over the ROWS(-7,-1) rolling sum (full windows only).
    // Days with zero events for a type are absent from the per-type day
    // table, so the 7 preceding rows may span more than 7 calendar days;
    // the observed-day baseline is the intended semantic (a RANGE frame
    // over a densified spine would give the calendar-week variant).
    // Kleinberg's burst idea in its integer form; windows per event_type
    // over the bounded day spine.
    "q_bursts" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      daily
        .withColumn("wk", sum(col("n")).over(w))
        .withColumn("nd", count(lit(1)).over(w))
        .filter(col("nd") === 7)
        .withColumn("burst", col("n") * 35 > col("wk") * 6)
        .select(col("event_type"), col("day"), col("n"), col("wk"), col("burst"))
        .orderBy("event_type", "day")
    }),

    // Chunk-level cross-doc duplication (the C4/RefinedWeb line-dedup
    // idea over fixed 10-token chunks): per doc, the fraction of its
    // chunks whose hash occurs in ≥2 documents — catches shared
    // boilerplate blocks that full-text exact dedup misses and pair
    // joins only find transitively. One (hash, doc) aggregate; the
    // chunk build is a pure projection.
    "q_chunk_dedup" -> ((s, d) => {
      val ch = Tables.documents(s, d)
        .select(col("doc_id"), gfn.ascii_tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 1)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, (size(tk)-1) div 10), " +
            "i -> md5(concat_ws(' ', slice(tk, i*10+1, 10))))")).as("fp"))
      val dfreq = ch.select(col("doc_id"), col("fp")).distinct()
        .groupBy(col("fp")).agg(countDistinct(col("doc_id")).as("df"))
      ch.join(dfreq, Seq("fp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
        .withColumn("dup_pm", expr("(n_dup_chunks * 1000) div n_chunks"))
        .orderBy("doc_id")
    }),

    // A-priori frequent TRIPLES (the 3-itemset step above
    // q_basket_lift's pairs): distinct items per order, pair join +
    // third-item extension with the pa < pb < pc canonical order,
    // support ≥ 2. The expansion is bounded by the basket-width
    // histogram (q_basket_size), never by order count.
    "q_itemsets3" -> ((s, d) => {
      // r17 note: an a-priori frequent-pair prune (semi-join the pair
      // expansion on support>=2 pairs before extending) was built and
      // MEASURED here — it lost: the pinned pair/frequent frames cost
      // ~6 s of materialization against a triple expansion that is
      // only ~C(4,3) rows per order at the observed basket widths
      // (1.89 s wall un-pruned). The one-pipeline shape below lets
      // the pair rows flow straight into the extension join with the
      // li exchange reused — keep it until the basket-width histogram
      // says otherwise.
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      li.select(col("o"), col("p").as("pa"))
        .join(li.select(col("o"), col("p").as("pb")), Seq("o"))
        .filter(col("pa") < col("pb"))
        .join(li.select(col("o"), col("p").as("pc")), Seq("o"))
        .filter(col("pb") < col("pc"))
        .groupBy(col("pa"), col("pb"), col("pc"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .orderBy("pa", "pb", "pc")
    }),

    // Per-source length-distribution drift as exact integer L1 distance
    // ×1000: token-count bands (10-token buckets, capped at 15) per
    // source vs the corpus, Σ|c_sb·N − c_b·N_s| div (N_s·N) — the
    // histogram-shape complement to q_ks_drift's order-statistic test
    // and q_source_drift's vocabulary test, zero floats.
    "q_hist_l1" -> ((s, d) => {
      val b = Tables.documents(s, d)
        .select(col("source"),
          least(expr("size(filter(split(text, ' '), x -> x != '')) div 10"),
            lit(15)).cast("long").as("band"))
      val csb = b.groupBy(col("source"), col("band")).agg(count(lit(1)).as("c_sb"))
        .localCheckpoint(true)
      val cb = csb.groupBy(col("band")).agg(sum(col("c_sb")).as("c_b"))
      val ns = csb.groupBy(col("source")).agg(sum(col("c_sb")).as("n_s"))
      val n = csb.agg(sum(col("c_sb")).as("n"))
      // full (source × band) grid via cross of the two bounded marginals
      // — absent cells carry c_sb = 0 and still contribute |0 − c_b·N_s|
      ns.crossJoin(broadcast(cb)).crossJoin(broadcast(n))
        .join(csb, Seq("source", "band"), "left")
        .withColumn("c_sb", coalesce(col("c_sb"), lit(0L)))
        .withColumn("dev", abs(col("c_sb") * col("n") - col("c_b") * col("n_s")))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_docs"),
          max(col("n")).as("n_corpus"),
          sum(col("dev")).as("dev_sum"))
        .withColumn("l1_x1000", expr("(dev_sum * 1000) div (n_docs * n_corpus)"))
        .select(col("source"), col("n_docs"), col("l1_x1000"))
        .orderBy("source")
    }),

    // Partition-skew report: order-month partition sizes summarized to
    // one row — n_parts, extremes, exact integer median (bounded
    // |months| rank window), the largest partition's per-mille share
    // and the max/median ratio ×100 — the table a write-path audit
    // reads before picking partition keys.
    "q_partition_skew" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val parts = Tables.orders(s, d)
        .groupBy(expr("(year(o_orderdate) * 100 + month(o_orderdate))").as("part"))
        .agg(count(lit(1)).as("sz"))
      val ranked = parts
        .withColumn("rk", row_number().over(Window.orderBy(col("sz"), col("part"))).cast("long"))
        .withColumn("n_parts", count(lit(1)).over(Window.partitionBy()).cast("long"))
      ranked
        .groupBy()
        .agg(max(col("n_parts")).as("n_parts"),
          sum(col("sz")).as("n_rows"),
          min(col("sz")).as("min_size"), max(col("sz")).as("max_size"),
          min(when(col("rk") === expr("(n_parts + 1) div 2"), col("sz"))).as("median_size"))
        .withColumn("max_share_pm", expr("(max_size * 1000) div n_rows"))
        .withColumn("skew_x100", expr("(max_size * 100) div median_size"))
    }),

    // Fellegi–Sunter probabilistic record linkage with ZERO logs: per
    // blocked candidate pair, the match likelihood is the product of
    // per-field odds — agree ⇒ ×m̂/û = ×9/×1, disagree ⇒ ×(1−m̂)/(1−û)
    // = ×1/×9 (m=0.9, u=0.1 pinned) — carried as an exact integer
    // (num, den) pair; match ⟺ num > den, i.e. positive log-odds
    // without ever computing a log. Blocking = 50-key custkey ranges
    // (bounded blocks, the ER discipline); only matches are emitted.
    "q_er_score" -> ((s, d) => {
      val c = Tables.customer(s, d).select(
        col("c_custkey").cast("long").as("id"),
        expr("c_custkey div 50").as("blk"),
        col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("seg"),
        expr("cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint) div 50000")
          .as("band"))
      val a = c.select(col("blk"), col("id").as("id_a"), col("nation").as("na"),
        col("seg").as("sa"), col("band").as("ba"))
      val b = c.select(col("blk"), col("id").as("id_b"), col("nation").as("nb"),
        col("seg").as("sb"), col("band").as("bb"))
      a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
        .withColumn("agree_nation", col("na") === col("nb"))
        .withColumn("agree_seg", col("sa") === col("sb"))
        .withColumn("agree_band", col("ba") === col("bb"))
        .withColumn("num",
          when(col("agree_nation"), 9L).otherwise(1L) *
            when(col("agree_seg"), 9L).otherwise(1L) *
            when(col("agree_band"), 9L).otherwise(1L))
        .withColumn("den",
          when(col("agree_nation"), 1L).otherwise(9L) *
            when(col("agree_seg"), 1L).otherwise(9L) *
            when(col("agree_band"), 1L).otherwise(9L))
        .filter(col("num") > col("den"))
        .select(col("id_a"), col("id_b"), col("agree_nation"), col("agree_seg"),
          col("agree_band"), col("num"), col("den"))
        .orderBy("id_a", "id_b")
    }),

    // GDPR delete-cascade receipt: forget every 37th customer; count
    // the cascade through orders and lineitem and certify ZERO orphans
    // remain (an order whose customer is gone, an item whose order is
    // gone). One row — the compliance artifact a deletion job files.
    // All joins are key-hash joins; nothing driver-sized.
    "q_delete_cascade" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val orders = Tables.orders(s, d)
      val items = Tables.lineitem(s, d)
      val delCust = cust.filter(pmod(col("c_custkey"), lit(37L)) === 0)
        .select(col("c_custkey"))
      val delOrders = orders.join(delCust,
        col("o_custkey") === col("c_custkey")).select(col("o_orderkey"))
      val keptOrders = orders.join(delCust,
        orders("o_custkey") === delCust("c_custkey"), "left_anti")
      val keptItems = items.join(delOrders,
        items("l_orderkey") === delOrders("o_orderkey"), "left_anti")
      def m(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n")).select(lit(name).as("metric"), col("n"))
      m("n_cust_del", delCust)
        .unionByName(m("n_orders_del", delOrders))
        .unionByName(m("n_items_del", items.join(delOrders,
          items("l_orderkey") === delOrders("o_orderkey"), "left_semi")))
        .unionByName(m("orphan_orders", keptOrders.join(delCust,
          keptOrders("o_custkey") === delCust("c_custkey"), "left_semi")))
        .unionByName(m("orphan_items", keptItems.join(delOrders,
          keptItems("l_orderkey") === delOrders("o_orderkey"), "left_semi")))
        .orderBy("metric")
    }),

    // Long-context packing coherence: per (layout, shard), the fraction
    // of ADJACENT doc pairs in pack order that share a source — id
    // order (the baseline shuffle, ~1/|sources|) vs source order (the
    // long-context curation layout, near 1000‰) side by side. The
    // adjacency lag rides the same per-shard window the packer itself
    // uses.
    "q_pack_coherence" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          pmod(col("doc_id"), lit(8L)).as("shard"))
      def coherence(ordered: Seq[org.apache.spark.sql.Column], layout: String) = {
        val w = Window.partitionBy(col("shard")).orderBy(ordered: _*)
        docs.withColumn("prev_src", lag(col("source"), 1).over(w))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("prev_src").isNotNull, 1L).otherwise(0L)).as("n_adjacent"),
            sum(when(col("prev_src") === col("source"), 1L).otherwise(0L))
              .as("n_same_source"))
          .withColumn("layout", lit(layout))
          .withColumn("coherence_pm", expr("(n_same_source * 1000) div n_adjacent"))
      }
      coherence(Seq(col("doc_id").asc), "id")
        .unionByName(coherence(Seq(col("source").asc, col("doc_id").asc), "source"))
        .select(col("layout"), col("shard"), col("n_docs"), col("n_adjacent"),
          col("n_same_source"), col("coherence_pm"))
        .orderBy("layout", "shard")
    }),

    // Tokenizer fallback audit: per lang, the OOV rate against the
    // top-25 corpus vocabulary (the dictionary cut is genuine — the
    // synthetic vocabulary is larger) — the coverage table a tokenizer
    // release ships. Vocab is a bounded broadcast; one token pass.
    "q_bpe_oov" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = TextAnalysis.buildVocab(docs, "text", size = 25)
      docs.select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("token_id").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_pm", expr("(n_oov * 1000) div n_tokens"))
        .orderBy("lang")
    }),

    // Exact pass@k (EvalOps.passAtK; Chen et al. 2021) over a
    // deterministic eval table: problems = event_id mod 50, a sample
    // passes iff its portable uniform ≡ 0 (mod 4). pass@3 via the
    // telescoped integer product 1000 − Π(n−c−j)·1000 div Π(n−j); the
    // pass@1 column rides along and pass@3 ≥ pass@1 is the monotone
    // law any drift breaks.
    "q_pass_at_k" -> ((s, d) => {
      val samples = Tables.events(s, d)
        .select(pmod(col("event_id"), lit(50L)).as("problem"),
          (Sampling.portableUniform(col("event_id")) % 4 === 0).as("pass"))
      EvalOps.passAtK(samples, "problem", "pass", k = 3)
        .orderBy("problem")
    }),

    // SFT conversation assembly (EvalOps.assembleConversations): each
    // user's last 8 events rendered "type=cents" in (ts, id) order —
    // the chat-template step as ONE keyed collect/sort/slice/join
    // chain, no window, no driver loop. DuckDB replays the rank cut
    // and the string_agg ordered rendering byte-for-byte.
    "q_chat_assemble" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id") < 30)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").cast("string")
            .as("content"))
      EvalOps.assembleConversations(ev, "user_id", "ts_us", "event_id",
        "event_type", "content", maxTurns = 8)
        .orderBy("user_id")
    }),

    // Shuffle-quality audit: the global training order IS the portable
    // uniform, so a doc's decile is a pure projection u·10 div 2³² —
    // NO global rank, no window, nothing data-sized (the de-windowed
    // rendering of "is my shuffle well mixed"). Per (decile, source):
    // count, the |10·n − n_s| deviation, and the 30·isqrt(n_s) bound —
    // a positional clump of any source breaks it.
    "q_shuffle_audit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"), Sampling.portableUniform(col("doc_id")).as("__u"))
        .select(col("source"), expr("(__u * 10) div 4294967296L").as("decile"))
      val ns = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      docs.groupBy(col("decile"), col("source")).agg(count(lit(1)).as("n"))
        .join(broadcast(ns), Seq("source"))
        .withColumn("dev", abs(col("n") * 10 - col("n_s")))
        .withColumn("bound", Sampling.isqrt(col("n_s")) * 30L)
        .withColumn("ok", col("dev") <= col("bound"))
        .orderBy("decile", "source")
    }),

    // Dedup survivorship audit: per near-dup COMPONENT (transitive
    // closure of the winnowed match pairs — the fingerprint index both
    // engines replay exactly), the min-id survivor the canonical policy
    // keeps vs the best-quality member — quality_delta_x1e4 > 0 rows
    // are exactly the clusters where keep-min-id loses quality, the
    // evidence behind a keep-best policy change.
    "q_dedup_survivorship" -> ((s, d) => {
      // doc-spread before the winnowing fingerprint pass — gated
      // (see spreadIfNarrow)
      val docs = spreadIfNarrow(Tables.documents(s, d), "doc_id")
      val pairs = graft.operators.Winnow
        .matches(docs, "doc_id", "text", minShared = 3L)
      val comp = graft.operators.Components.minLabel(pairs)
        .withColumnRenamed("label", "component")
      val q = docs.select(col("doc_id").as("id"),
        round(TextAnalysis.qualityScore(col("text")) * 10000).cast("long").as("q"))
      comp.join(q, Seq("id"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("size"),
          min(col("id")).as("kept_id"),
          min(struct((-col("q")).as("nq"), col("id").as("id"))).as("best"),
          min(when(col("id") === col("component"), col("q"))).as("kept_q"))
        .select(col("component"), col("size"), col("kept_id"),
          col("best.id").as("best_id"), (-col("best.nq")).as("best_q"),
          col("kept_q"), ((-col("best.nq")) - col("kept_q")).as("quality_delta_x1e4"))
        .orderBy("component")
    }),

    // Marginal 4-gram novelty per doc (Dedup.noveltyProfile): fraction
    // of each doc's distinct shingles FIRST seen in that doc (min-id
    // attribution — order/partitioning independent by construction),
    // exact per-mille. The data-valuation complement to pair dedup:
    // boilerplate-heavy docs score low without any pair join.
    "q_novelty" -> ((s, d) => {
      // doc-spread before the shingle explode (r17): the documents
      // parquet reads as ONE split locally, serializing tokenize +
      // gram hashing on a single core (profiled par 1.7, 3.8 task-s);
      // r18: gated on observed split count (see spreadIfNarrow).
      graft.operators.Dedup
        .noveltyProfile(
          spreadIfNarrow(Tables.documents(s, d), "doc_id"),
          "doc_id", "text", k = 4)
        .orderBy("doc_id")
    }),

    // Snapshot diff receipt (Integrity.datasetDiff): corpus vs a
    // deterministically mutated successor — every 97th doc removed,
    // every remaining 89th re-texted, every 101st re-added under a new
    // id — classified added/removed/changed/same by ONE full outer
    // hash join on (id, md5). The row-level receipt behind
    // q_corpus_checksum's one-line verdict.
    "q_dataset_diff" -> ((s, d) => {
      val a = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val b = a.filter(pmod(col("doc_id"), lit(97L)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(89L)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(a.filter(pmod(col("doc_id"), lit(101L)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("added "), col("text")).as("text")))
      graft.operators.Integrity.datasetDiff(a, b, "doc_id", "text")
        .orderBy("status")
    }),

    // Quality-score calibration: the proven integer score (×10⁴)
    // bucketed into deciles against the Gopher pass rate — the
    // validation table that justifies using the cheap score as a
    // curriculum/filter signal. Bounded output (≤10 rows), one pass.
    "q_quality_calib" -> ((s, d) => {
      val g = TextAnalysis.gopherRules(col("text")).toMap
      Tables.documents(s, d)
        .select(col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")) * 10000).cast("long").as("s"),
          when(g("rule_word_count") && g("rule_word_length") &&
            g("rule_stopwords") && g("rule_repetition"), 1L).otherwise(0L).as("gp"))
        .withColumn("bucket", least(expr("s div 1000"), lit(9L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("gp")).as("n_gopher_pass"),
          min(col("s")).as("min_score_x1e4"), max(col("s")).as("max_score_x1e4"))
        .orderBy("bucket")
    }),

    // Sample-ratio-mismatch check over the portable 2-fold assignment:
    // per lang, |n_a − n_b| against the 3·√n integer bound (exact
    // isqrt — the experimentation-hygiene gate that catches a broken
    // randomizer before anyone reads the experiment).
    "q_srm_check" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), Sampling.kFold(col("doc_id"), 2).as("arm"))
        .groupBy(col("lang"))
        .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"))
        .withColumn("n", col("n_a") + col("n_b"))
        .withColumn("diff", abs(col("n_a") - col("n_b")))
        .withColumn("bound", Sampling.isqrt(col("n")) * 3L)
        .withColumn("srm", col("diff") > col("bound"))
        .orderBy("lang")
    }),

    // Longest identical-token run per doc (TextAnalysis.tokenRuns): the
    // degeneration/repetition-loop detector as gaps-and-islands over
    // token positions, champion picked by the (−len, token, start)
    // struct-min total order. Splits this corpus 112/363/24/1 at runs
    // 1/2/3/4 — genuinely mixed. All windows per-doc (keyed
    // parallelism); DuckDB replays every run boundary and the champion
    // pick exactly.
    "q_token_runs" -> ((s, d) => {
      TextAnalysis.tokenRuns(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Per-source vocabulary drift vs the REST of the corpus
    // (TextAnalysis.sourceDrift): over-representation decided by the
    // exact cross-multiplication c_src·n_rest > 2·c_rest·n_src in
    // DECIMAL(38)/HUGEINT, the champion token by (−score, token)
    // struct-min, score = capped per-mille rate ratio. The categorical
    // complement to q_ks_drift's numeric test.
    "q_source_drift" -> ((s, d) => {
      TextAnalysis.sourceDrift(Tables.documents(s, d), "source", "text",
        minCount = 20L)
        .orderBy("source")
    }),

    // Head-prefix duplicate groups (Dedup.headDupGroups): docs sharing
    // the md5 of their first 8 tokens — the truncation-dup catcher
    // (23 groups at sf0.01). Pure hash-groupBy on a 32-char key; the
    // oracle rebuilds every head hash and group roster.
    "q_head_dedup" -> ((s, d) => {
      graft.operators.Dedup
        .headDupGroups(Tables.documents(s, d), "doc_id", "text", nTokens = 8)
        .orderBy("head_fp")
    }),

    // Deterministic T5 span-corruption schedule (Packing.spanCorruption):
    // spanLen=3 spans at positions ≡ pmod(doc_id, 20) (mod 20) — 15%
    // corruption, overlap-free by construction, in_bounds a per-row
    // certificate. One projection + one explode, zero shuffle.
    "q_span_corruption" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(gfn.ascii_tokens(col("text"))).as("n_tok"))
      graft.operators.Packing
        .spanCorruption(docs, "doc_id", "n_tok", spanLen = 3, stride = 20)
        .orderBy("doc_id", "span_start")
    }),

    // Per-source corpus checksum (Integrity.corpusChecksum): order- and
    // partitioning-independent XOR of 60-bit md5 prefixes, content leg
    // (set-of-texts) + id-keyed row leg (no self-cancellation) — the
    // "same data" receipt a migration audit needs. DuckDB rebuilds both
    // 60-bit folds bit-identically.
    "q_corpus_checksum" -> ((s, d) => {
      graft.operators.Integrity
        .corpusChecksum(Tables.documents(s, d), "source", "doc_id", "text")
        .orderBy("source")
    }),

    // Conjunctive keyword search (Retrieval.booleanSearch): docs
    // containing BOTH query terms (311 of 500 here — the AND genuinely
    // cuts), ranked by exact integer Σ tf·idf_x1e6, top-20 via
    // TakeOrderedAndProject with the rank window post-limit.
    "q_bool_search" -> ((s, d) => {
      graft.operators.Retrieval
        .booleanSearch(Tables.documents(s, d), "doc_id", "text",
          Seq("spark", "vector"), topK = 20)
        .orderBy("rk")
    }),

    // Exact-count stratified split (Sampling.stratifiedSplit): 8/1/1
    // train/val/test cut at integer floor boundaries of the per-stratum
    // md5-uniform ranking — sizes exact per (lang, source) stratum, not
    // merely expected. Emitted as the per-stratum count table with the
    // partition-law certificate (counts sum to n).
    "q_stratified_split" -> ((s, d) => {
      graft.operators.Sampling
        .stratifiedSplit(Tables.documents(s, d), Seq("lang", "source"),
          "doc_id", Seq("train" -> 8, "val" -> 1, "test" -> 1))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
        .withColumn("ok",
          col("n_train") + col("n_val") + col("n_test") === col("n"))
        .orderBy("lang", "source")
    }),

    // Per-source curation scorecard: the dataset card broken down by
    // provenance — doc count, exact-dup count, Gopher pass count, mean
    // centitokens — the table a curation pipeline uses to decide which
    // source needs filtering before the mix is weighed.
    "q_source_quality" -> ((s, d) => {
      val g = TextAnalysis.gopherRules(col("text")).toMap
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(col("text"))).as("n_exact_dups"),
          sum(when(g("rule_word_count") && g("rule_word_length") &&
            g("rule_stopwords") && g("rule_repetition"), 1L).otherwise(0L))
            .as("gopher_pass"),
          sum(size(gfn.ascii_tokens(col("text"))).cast("long")).as("n_tokens"))
        .withColumn("mean_tokens_x100", expr("(n_tokens * 100) div n_docs"))
        .orderBy("source")
    }),

    // Top-p nucleus cutoff per context (NgramLm.nucleus): minimal
    // successor prefix reaching 90% of each context's transition mass,
    // ordered (count desc, token asc), kept/covered decided by integer
    // cross-multiplication — the decoding-time truncation set computed
    // corpus-side. covered_ok is structural (the first row at or past
    // the threshold is always kept) — false means the cumsum drifted.
    "q_nucleus" -> ((s, d) => {
      graft.operators.NgramLm
        .nucleus(Tables.documents(s, d), "doc_id", "text", minCount = 50L)
        .orderBy("w1")
    }),

    // Interpolated Kneser-Ney (NgramLm.kneserNey): THE classical
    // n-gram smoother with the d = 3/4 discount kept rational, so the
    // continuation-probability correction emits as one exact x1e6
    // integer next to the MLE — the "Francisco follows only San" gap
    // made visible for the top-20 corpus bigrams.
    "q_kneser_ney" -> ((s, d) => {
      graft.operators.NgramLm.kneserNey(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
    }),

    // Embedding hygiene audit (the QA pass before any vector index):
    // per label, zero-vector and norm-outlier counts over the EXACT
    // integer quantized norm Σq² — no float accumulation anywhere, so
    // the audit is bit-replayable. Outlier thresholds pinned to this
    // corpus's p5/p95 (90k/240k — re-pin, don't debug, if the
    // generator changes).
    "q_embed_qa" -> ((s, d) => {
      val q = graft.operators.Quantize.int8(Tables.embeddings(s, d), "embedding")
        .withColumn("qn", aggregate(col("qvec"),
          lit(0L), (acc, x) => acc + x.cast("long") * x.cast("long")))
      q.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("qn") === 0L, 1L).otherwise(0L)).as("n_zero"),
          sum(when(col("qn") < 90000L, 1L).otherwise(0L)).as("n_low"),
          sum(when(col("qn") > 240000L, 1L).otherwise(0L)).as("n_high"),
          min(col("qn")).as("min_qn"), max(col("qn")).as("max_qn"))
        .orderBy("label")
    }),

    // One-row dataset card: the corpus summary a dataset release ships —
    // doc/token/vocab/lang/source counts, exact-dup count, Gopher pass
    // count, mean tokens per doc as an exact centitoken integer. One
    // token pass + one doc pass, both map-side combined; every number
    // re-derived by the oracle from scratch.
    "q_dataset_card" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs
        .select(explode(gfn.ascii_tokens(col("text"))).as("tok"))
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("tok")).as("vocab_size"))
      val g = TextAnalysis.gopherRules(col("text")).toMap
      val docAgg = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_exact_dups"),
        sum(when(g("rule_word_count") && g("rule_word_length") &&
          g("rule_stopwords") && g("rule_repetition"), 1L).otherwise(0L))
          .as("gopher_pass"))
      docAgg.crossJoin(broadcast(tok))
        .withColumn("mean_tokens_x100", expr("(n_tokens * 100) div n_docs"))
    }),

    // DSIR-style data selection (NgramLm.dsirSelect; Xie et al. 2023):
    // target = src0 docs, candidates = the rest; each candidate bigram's
    // target-vs-corpus likelihood ratio decided by exact integer
    // cross-multiplication of the two add-one-smoothed LMs, docs kept on
    // bigram majority. Splits this corpus 108 kept / 367 dropped with
    // favored fractions 0.10–0.86 — genuinely discriminative, zero
    // float logs, both models broadcast.
    "q_dsir_select" -> ((s, d) => {
      graft.operators.NgramLm
        .dsirSelect(Tables.documents(s, d), "doc_id", "text",
          col("source") === "src0")
        .orderBy("doc_id")
    }),

    // Class-balance audit + resampling factors over the labeled
    // embeddings: per label its count, the inverse-frequency loss
    // weight and the oversample factor to the majority class, both as
    // exact permille integers (n_total·1000 div (n_classes·n) and
    // max_n·1000 div n) — the imbalanced-training prep table with zero
    // float division.
    "q_class_weights" -> ((s, d) => {
      val lab = Tables.embeddings(s, d)
        .filter(col("label").isNotNull)
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
      val tot = lab.agg(sum(col("n")).as("n_total"),
        count(lit(1)).as("n_classes"), max(col("n")).as("max_n"))
      lab.crossJoin(broadcast(tot))
        .select(col("label"), col("n"), col("n_total"), col("n_classes"),
          expr("(n_total * 1000) div (n_classes * n)").as("weight_x1000"),
          expr("(max_n * 1000) div n").as("oversample_x1000"))
        .orderBy("label")
    }),

    // Attention-mask span table over the packed layout
    // (Packing.attentionSpans): one row per (doc, context window) with
    // the doc's position range inside the window — the block-diagonal
    // mask input for training on packed sequences. contiguous_ok is
    // structural (chop packing is gap-free); the oracle replays offsets,
    // window explode, clamps, and the lag tiling check.
    "q_pack_spans" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
      graft.operators.Packing
        .attentionSpans(docs, "doc_id", "n_tokens", ctxSize = 512, nShards = 8)
        .orderBy("doc_id", "win")
    }),

    // Integer Johnson–Lindenstrauss projection (RandomProjection):
    // int8-quantized vectors × a ±1 md5-parity sign matrix → 16-dim
    // BIGINT projections, distances audited pairwise with the pinned
    // [1/5, 5] JL band as an integer cross-mult certificate. DuckDB
    // rebuilds the quantizer, every sign-matrix entry, all 16
    // projected coordinates, and both squared distances exactly.
    "q_rand_project" -> ((s, d) => {
      graft.operators.RandomProjection
        .distortionPairs(Tables.embeddings(s, d), "vec_id", "embedding",
          m = 16, sampleMax = 20L)
        .orderBy("id_a", "id_b")
    }),

    // KMV sketch set algebra (SketchAlgebra.kmvPairwise): the pairwise
    // source-overlap matrix from k-long signatures — union estimate
    // (k-1)·2^32 div h_k over the merged signature (KMV(A∪B) IS the k
    // smallest of KMV(A)∪KMV(B), a set identity), intersection via the
    // Beyer et al. in-both count, all integer arithmetic on the
    // portable md5 hash so DuckDB rebuilds every signature element.
    // Exact legs ground two pinned certificates (union within
    // [3/4,5/4]×, intersection within ±union/4 — measured 0.83–0.97
    // and ±0.18 at k=64 on this corpus). 190 source pairs; elements
    // are distinct per-source token bigrams (~550 per source, so the
    // k=64 sketch is genuinely approximate, not exact-mode).
    "q_kmv_setops" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("source"), gfn.ascii_tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(0, size(tk)-2), i -> concat_ws(' ', tk[i], tk[i+1]))")).as("bg"))
      graft.operators.SketchAlgebra.kmvPairwise(t, "source", "bg", 64)
        .orderBy("src_a", "src_b")
    }),

    // Tf-idf top-3 terms per doc on the EXACT integer sort key
    // (tf·n_docs·1e6 div df) — no float log anywhere, term-string
    // tie-break, so the per-doc cut is total and bit-replayable.
    "q_tfidf_topk" -> ((s, d) => {
      graft.operators.Boilerplate
        .tfidfTopK(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rk")
    }),

    // Heavy hitters: top-5 tokens per language via the Misra-Gries
    // TypedImperativeAggregate (exact at this vocabulary size — capacity
    // exceeds distinct tokens — hence oracle-checkable).
    "q_heavy_hitters" -> ((s, d) => {
      // codegen tokenizer kernel — the filter(split(...)) HOF formulation
      // interprets its lambda per row (same semantics, shared w/ oracle)
      val tokens = graft.expressions.functions.ascii_tokens(col("text"))
      Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(graft.expressions.HeavyHittersAgg.heavy_hitters(tokens, 5).as("hh"))
        .select(col("lang"), explode(col("hh")).as("h"))
        .select(col("lang"), col("h.token").as("token"), col("h.cnt").as("cnt"))
        .orderBy(col("lang"), col("cnt").desc, col("token"))
    }),

    // Count-min sketch (CMSketch under the oracle): frequency estimates
    // from a d×w cell table whose md5-portable hash family lets DuckDB
    // rebuild EVERY cell and estimate bit-identically — the first sketch
    // here whose approximate VALUES (not just error bounds) are fully
    // oracled. w = 64 over the 150 distinct users at oracle scale makes
    // collisions real (38 of 50 probes overestimate), so est > exact rows
    // genuinely occur; is_over must still be true on every row (the
    // structural never-undercount guarantee).
    "q_cm_sketch" -> ((s, d) => {
      import graft.operators.CMSketch
      val ev = Tables.events(s, d)
      val sketch = CMSketch.build(ev, "user_id", d = 3, w = 64)
      val probes = ev.filter(col("user_id") < 50)
      val exact = probes.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      CMSketch.estimate(sketch, probes, "user_id", d = 3, w = 64)
        .join(exact, Seq("user_id"))
        .select(col("user_id"), col("n_exact"), col("cm_est"),
          (col("cm_est") >= col("n_exact")).as("is_over"))
        .orderBy("user_id")
    }),

    // Prefix-filtered set-similarity self-join (SimilarityJoin under
    // the oracle): every doc pair with bigram-set Jaccard >= 7/10,
    // found via the LOSSLESS rarest-first prefix filter instead of the
    // all-pairs scan. The oracle IS the naive quadratic join, so a
    // prefix bug that loses one qualifying pair (or a verify bug that
    // admits one) flips the hash — exact equivalence, stronger than a
    // recall floor. Elements are word TRIGRAMS and t = 7/10: prefix
    // filtering needs a SPARSE element universe and a selective
    // threshold to prune (bigrams at t=0.3 collapsed to a disguised
    // all-pairs join at sf0.1 — 5.9M candidates; trigrams at 0.7 give
    // 202k for the same 256 true pairs). The qualifying set is the
    // J≈1 planted near-dups either way, so the sparser universe costs
    // nothing and the bench exercises the filter's working regime.
    "q_jaccard_join" -> ((s, d) => {
      // tokenize in its OWN projection: word_ngrams references its input
      // many times per row, and HOF lambdas are excluded from
      // subexpression elimination — inlining the tokenizer would re-run
      // it per reference (the Kernels.scala bigramRepetitive trap). The
      // repartition parallelizes the expensive tokenize+ngram+distinct
      // stage: the small documents parquet reads as ONE split locally,
      // which serialized the whole element build on a single core
      // (measured 8.7 s → ~0.4 s at sf0.1); r18: gated on observed
      // split count (see spreadIfNarrow) — at real scale input splits
      // provide this parallelism for free.
      // NO size() filter on bgs: the HOF transform is interpreted (not
      // codegen), and a filter referencing it forces re-evaluation per
      // consumer (measured 0.4 s → 3.8 s); empty gram arrays explode to
      // nothing inside the operator anyway, so the filter was redundant.
      val tk = spreadIfNarrow(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), gfn.ascii_tokens(col("text")).as("tk"))
        .select(col("doc_id"), gfn.word_ngrams(col("tk"), 3).as("bgs"))
      graft.operators.SimilarityJoin.jaccardJoin(tk, "doc_id", "bgs", tNum = 7, tDen = 10)
        .orderBy("id_a", "id_b")
    }),

    // One BPE tokenizer-training merge step (Bpe.mergeStep under the
    // oracle): weighted pair counts over the corpus vocabulary, the
    // argmax pair by (count, lexicographic) total order, and the
    // canonical greedy non-overlapping merge applied per word via
    // gaps-and-islands windows — DuckDB replays the chosen pair and
    // every merged representation string.
    "q_bpe_merge" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(gfn.ascii_tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wt"))
      graft.operators.Bpe.mergeStep(words, "w", "wt").orderBy("w")
    }),

    // The FULL BPE trainer (r11 — the merge step iterated to a merge
    // TABLE, the artifact a tokenizer pipeline actually ships): 16
    // greedy rounds over the weighted [a-z0-9]-token vocabulary, each
    // round's best pair chosen by (weighted count desc, pair
    // lexicographic) and applied with the canonical left-to-right
    // non-overlapping rule via the double-space replace encoding
    // (Bpe.train scaladoc). The oracle UNROLLS all 16 rounds as a
    // generated CTE chain — every chosen pair and every count replayed
    // exactly, so one drifted merge anywhere flips every later row.
    "q_bpe_train" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(gfn.ascii_tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wt"))
      val (merges, _) = graft.operators.Bpe.train(words, "w", "wt", BpeTrainSteps)
      import s.implicits._
      merges.toDF("step", "b1", "b2", "cnt").orderBy("step")
    }),

    // ENCODING with the trained tokenizer (r11): the final per-word
    // symbolization after all 16 learned merges — the other half of the
    // tokenizer artifact (train emits the merge table, encode applies
    // it), plus per-word symbol counts, the fertility statistic
    // tokenizer evaluations report. The oracle replays the identical
    // 16-round chain and reads the final representations.
    "q_bpe_encode" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(explode(gfn.ascii_tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wt"))
      val (_, finalState) = graft.operators.Bpe.train(words, "w", "wt", BpeTrainSteps)
      finalState.select(col("word").as("w"), col("wt"),
          size(split(trim(col("repr")), "  ")).cast("long").as("n_syms"),
          replace(trim(col("repr")), lit("  "), lit(" ")).as("toks"))
        .orderBy("w")
    }),

    // Late-interaction multi-vector retrieval (the MaxSim scoring of
    // ColBERT, Khattab & Zaharia 2020): documents are BAGS of token
    // vectors (vec_id DIV 10 groups 10 embedding rows into one doc);
    // score(q, d) = Σ over q's tokens of the max dot product over d's
    // tokens. Exact-integer milli-quantized dot products (the
    // q_embed_quantize rendering), so every score is oracled, not
    // approximated. Plan: the 50-row query-token side BROADCASTS; the
    // corpus side never shuffles full vectors — the partial max
    // aggregates map-side down to (query, doc) pairs before the one
    // thin shuffle; top-3 per query is a 5-partition window over the
    // score table (|queries| × |docs| rows, never token-sized).
    "q_maxsim" -> ((s, d) => {
      val toks = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
        .select(col("vec_id"), expr("vec_id DIV 10").as("doc"),
          expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))")
            .as("v"))
      val qt = toks.filter(col("doc") < 5)
        .select(col("doc").as("qdoc"), col("vec_id").as("qtok"), col("v").as("qv"))
      // doc-token side spread before the scoring loop (embeddings is a
      // bounded eval set arriving as ONE scan partition — the
      // q_silhouette parallelism fix) and the dot product is the codegen
      // kernel, not the interpreted zip_with lambda — value-identical
      val dt = toks.filter(col("doc") >= 5)
        .select(col("doc").as("ddoc"), col("v").as("dv"))
        .repartition(s.sparkContext.defaultParallelism, col("ddoc"))
      val best = dt.crossJoin(broadcast(qt))
        .select(col("qdoc"), col("qtok"), col("ddoc"),
          gfn.dot_long(col("qv"), col("dv")).as("dot"))
        .groupBy(col("qdoc"), col("qtok"), col("ddoc"))
        .agg(max(col("dot")).as("mx"))
      best.groupBy(col("qdoc"), col("ddoc"))
        .agg(sum(col("mx")).as("maxsim"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qdoc"))
            .orderBy(col("maxsim").desc, col("ddoc"))).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("qdoc"), col("rk"), col("ddoc"), col("maxsim"))
        .orderBy("qdoc", "rk")
    }),

    // KMV distinct sketch (KmvSketchAgg + the portable md5 hash): the
    // k-minimum-values state is a SET property (order- and partition-
    // independent), so unlike HLL the approximate estimates themselves
    // are oracled — DuckDB rebuilds every hash, ranks them, and derives
    // the same (k-1)·2^32 div h_k. Two legs: 'full' (10,000 distinct
    // event_ids >> k, approximate path) and 'small' (40 users < k,
    // exact path) — both modes under the hash gate. Null keys and null
    // group keys are filtered on BOTH sides (the oracle's WHERE +
    // USING-join would silently drop such groups otherwise).
    // Embedding centroid drift: per label, the L1 distance between the
    // integer floor-mean centroids of the even and odd vec_id halves
    // (a scale-independent split) — the distribution-shift monitor for
    // embedding
    // pipelines (a retrained encoder or upstream drift moves
    // centroids long before downstream metrics notice). Vectors
    // quantize to integer milli-units (the q_embed_quantize
    // rendering), per-dimension sums and floor means are exact
    // integers, and the shift is a sum of absolute integer
    // differences — no float aggregation anywhere.
    "q_centroid_shift" -> ((s, d) => {
      val q = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("int").as("label"),
          posexplode(expr(
            "transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))"))
            .as(Seq("dim", "q")))
      def leg(f: org.apache.spark.sql.Column, tag: String) =
        q.filter(f).groupBy(col("label"), col("dim"))
          .agg(count(lit(1)).as(s"n_$tag"),
            expr(s"sum(q) div count(1)").as(s"m_$tag"))
      leg(pmod(col("vec_id"), lit(2L)) === 0, "a")
        .join(leg(pmod(col("vec_id"), lit(2L)) === 1, "b"), Seq("label", "dim"))
        .groupBy(col("label"))
        .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
          sum(abs(col("m_a") - col("m_b"))).as("l1_shift"))
        .orderBy("label")
    }),

    // KMV join-cardinality estimation (Beyer et al. 2007, "On synopses
    // for distinct-value estimation"): estimate the distinct-key
    // overlap of orders⋈customer from two 64-element min-hash sketches
    // — the statistics a cost-based optimizer consults BEFORE running
    // the join, at sketch cost instead of join cost. Union sketch =
    // min-k of the merged sketches; ρ = members present in BOTH side
    // sketches; D∩ ≈ ρ·D∪ div k — all deterministic integers over the
    // portable md5 uniform, so DuckDB replays sketch, estimator, and
    // the within-2× certificate against the exact semi-join count.
    "q_join_card_est" -> ((s, d) => {
      import graft.expressions.KmvSketchAgg
      val k = 64
      val estNum = (k - 1L) * 4294967296L
      val sa = Tables.orders(s, d)
        .agg(KmvSketchAgg.kmv_sketch(
          graft.operators.Sampling.portableUniform(col("o_custkey")), k)
          .as("sa"))
      val sb = Tables.customer(s, d)
        .agg(KmvSketchAgg.kmv_sketch(
          graft.operators.Sampling.portableUniform(col("c_custkey")), k)
          .as("sb"))
      val exact = Tables.orders(s, d).select(col("o_custkey").as("ck"))
        .distinct()
        .join(Tables.customer(s, d).select(col("c_custkey").as("ck")),
          Seq("ck"), "left_semi")
        .agg(count(lit(1)).as("d_inter_exact"))
      sa.crossJoin(broadcast(sb)).crossJoin(broadcast(exact))
        .withColumn("un",
          expr(s"slice(array_sort(array_distinct(concat(sa, sb))), 1, $k)"))
        .withColumn("n_un", size(col("un")).cast("long"))
        .withColumn("u_k", expr("element_at(un, CAST(n_un AS INT))"))
        .withColumn("d_union_est",
          when(col("n_un") < k, col("n_un"))
            .otherwise(expr(s"${estNum}L div greatest(u_k, 1L)")))
        .withColumn("n_inter_sketch",
          size(expr("array_intersect(array_intersect(un, sa), sb)"))
            .cast("long"))
        .withColumn("d_inter_est",
          when(col("n_un") < k, col("n_inter_sketch"))
            .otherwise(expr(s"(n_inter_sketch * d_union_est) div ${k}L")))
        .select(lit(k.toLong).as("k"), col("n_un"), col("d_union_est"),
          col("n_inter_sketch"), col("d_inter_est"), col("d_inter_exact"),
          (col("d_inter_est") * 2 >= col("d_inter_exact") &&
            col("d_inter_est") <= col("d_inter_exact") * 2).as("within_2x"))
    }),

    // Mergeable quantile sketch (deterministic MRL/KLL compactor
    // hierarchy, QuantileSketchAgg) with a SELF-VERIFYING certificate:
    // the sketch tracks its own worst-case rank-error bound exactly (a
    // compaction at item weight w adds w; merges add), and this query
    // joins the estimates BACK against the exact value set to check
    // |true_rank(est) − target| ≤ bound for p ∈ {1,25,50,75,99} — the
    // claim is engine-verified against ground truth, and the oracle
    // replays every reproducible integer (n, the exact-arithmetic
    // target ranks) plus the TRUE verdicts. Falsifiability: the spec
    // shrinks k until only the bound separates estimate from garbage.
    // 100 TB shape: one sketch per partition on the shuffle (O(k·log N)
    // bytes), never the values; the certificate join broadcasts 5 rows.
    "q_quantile_sketch" -> ((s, d) => {
      import graft.expressions.QuantileSketchAgg.quantile_sketch
      val ps = Seq(1, 25, 50, 75, 99)
      val vals = Tables.lineitem(s, d)
        .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
      val per = vals.agg(quantile_sketch(col("v"), 256, ps).as("sk"))
        .select(col("sk.n").as("n_total"), col("sk.bound").as("bound"),
          posexplode(arrays_zip(col("sk.targets"), col("sk.ests"))))
        .select(col("n_total"), col("bound"),
          element_at(array(ps.map(lit(_)): _*), col("pos") + 1).as("p"),
          col("col.targets").as("target_rank"), col("col.ests").as("est"))
      // interval certificate: target ∈ [count(v < est) − bound,
      // count(v ≤ est) + bound] — exact even where est is a duplicated
      // value whose true rank is itself an interval
      vals.crossJoin(broadcast(per))
        .groupBy(col("p"), col("n_total"), col("target_rank"), col("bound"),
          col("est"))
        .agg(sum(when(col("v") < col("est"), 1L).otherwise(0L)).as("true_lo"),
          sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("true_hi"))
        .select(col("p"), col("n_total"), col("target_rank"),
          (col("target_rank") >= col("true_lo") - col("bound") &&
            col("target_rank") <= col("true_hi") + col("bound"))
            .as("within_bound"))
        .orderBy("p")
    }),

    // The quantile sketch GROUPED: one sketch per event type (the
    // per-tenant / per-metric serving shape — partial sketches combine
    // on the shuffle through the merge path, one O(k·log n) state per
    // group), each group's median certificate re-checked against its
    // own exact value set. Null AND NaN values are excluded on BOTH
    // sides (the DECIMAL cast silently nulls NaN so the sketch would
    // skip it while a bare IS NOT NULL oracle counted it — the two
    // filters must agree regardless of data).
    "q_group_quantiles" -> ((s, d) => {
      import graft.expressions.QuantileSketchAgg.quantile_sketch
      val vals = Tables.events(s, d)
        .filter(col("value").isNotNull && !isnan(col("value")))
        .select(col("event_type"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("v"))
      val per = vals.groupBy(col("event_type"))
        .agg(quantile_sketch(col("v"), 128, Seq(50)).as("sk"))
        .select(col("event_type"), col("sk.n").as("n_vals"),
          col("sk.bound").as("bound"),
          element_at(col("sk.targets"), 1).as("target_rank"),
          element_at(col("sk.ests"), 1).as("est"))
      vals.join(broadcast(per), Seq("event_type"))
        .groupBy(col("event_type"), col("n_vals"), col("target_rank"),
          col("bound"), col("est"))
        .agg(sum(when(col("v") < col("est"), 1L).otherwise(0L)).as("true_lo"),
          sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("true_hi"))
        .select(col("event_type"), col("n_vals"), col("target_rank"),
          (col("target_rank") >= col("true_lo") - col("bound") &&
            col("target_rank") <= col("true_hi") + col("bound"))
            .as("within_bound"))
        .orderBy("event_type")
    }),

    "q_kmv_distinct" -> ((s, d) => {
      import graft.expressions.KmvSketchAgg
      val k = 64
      val estNum = (k - 1L) * 4294967296L // (k-1)·2^32
      val ev = Tables.events(s, d)
      def leg(df: DataFrame, key: String, label: String): DataFrame =
        df.filter(col(key).isNotNull && col("event_type").isNotNull)
          .groupBy(col("event_type"))
          .agg(
            KmvSketchAgg.kmv_sketch(
              graft.operators.Sampling.portableUniform(col(key)), k).as("mh"),
            countDistinct(col(key)).as("n_exact"))
          .select(lit(label).as("leg"), col("event_type"), col("n_exact"),
            when(size(col("mh")) < k, size(col("mh")).cast("long"))
              .otherwise(expr(s"${estNum}L div greatest(element_at(mh, $k), 1L)"))
              .as("kmv_est"))
      leg(ev, "event_id", "full")
        .unionByName(leg(ev.filter(col("user_id") < 40), "user_id", "small"))
        .orderBy("leg", "event_type")
    }),

    // Cardinality sketch (the HyperLogLog++ counterpart of the Misra-Gries
    // heavy-hitters sketch): bounded-memory distinct counts per group. The
    // sketch value is engine-specific, so the ORACLE certifies the exact
    // counts plus a WITHIN-BOUNDS boolean (|approx-exact|·20 <= exact ⇔
    // relative error <= 5%, integer arithmetic — both sides are longs):
    // DuckDB emits the exact counts and literal `true`, so the hash fails
    // iff Spark's sketch leaves the bound. (Was rows-only through r3.)
    "q_approx_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("pa"),
          countDistinct(col("l_partkey")).as("nd_parts"),
          approx_count_distinct(col("l_suppkey"), 0.02).as("sa"),
          countDistinct(col("l_suppkey")).as("nd_supps"))
        .select(col("l_returnflag"), col("nd_parts"), col("nd_supps"),
          (abs(col("pa") - col("nd_parts")) * 20 <= col("nd_parts")).as("parts_ok"),
          (abs(col("sa") - col("nd_supps")) * 20 <= col("nd_supps")).as("supps_ok"))
        .orderBy("l_returnflag")
    }),

    // Approximate-quantile certificate (the q_approx_distinct pattern):
    // percentile_approx guarantees rank error <= n/accuracy; the
    // certificate re-ranks the sketch's answer against the REAL data with
    // integer counts and checks the target rank lands inside the
    // value's tie-span widened by that bound. Tie-safe by construction —
    // l_quantity has thousands of rows per integer value, so a naive
    // "count(<= approx) near n/2" check would be meaningless; the
    // [count(<v), count(<=v)] span handles it exactly. All-integer
    // arithmetic; DuckDB certifies with literal `true` plus the exact
    // group counts (genuinely recomputed).
    "q_approx_quantile" -> ((s, d) => {
      val acc = 10000L
      val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_quantity"))
      val ap = li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_quantity"), lit(0.5), lit(acc.toInt)).as("approx"),
          count(lit(1)).as("n"))
      li.join(broadcast(ap), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(
          first(col("n")).as("n"),
          sum((col("l_quantity") < col("approx")).cast("long")).as("n_lt"),
          sum((col("l_quantity") <= col("approx")).cast("long")).as("n_le"))
        .select(col("l_returnflag"), col("n"),
          // rank error bound e = ceil(n/acc) + 1; target rank n/2 must fall
          // in [n_lt - e, n_le + e], doubled to stay integral. DIV (not /)
          // keeps the ceil exact: Column./ on longs is double division and
          // would loosen the bound by a fraction of a rank.
          (((col("n_lt") - expr(s"(n + ${acc - 1}) DIV $acc") - 1) * 2 <= col("n")) &&
            (col("n") <= (col("n_le") + expr(s"(n + ${acc - 1}) DIV $acc") + 1) * 2))
            .as("rank_ok"))
        .orderBy("l_returnflag")
    }),

    // Corpus-level document-frequency cut: drop tokens present in >= 80%
    // of documents (boilerplate/stopword discovery from the corpus
    // itself), preserving token order per document.
    "q_df_cut" -> ((s, d) => {
      TextAnalysis.dfCut(Tables.documents(s, d), "doc_id", "text", maxDocFrac = 0.8)
        .orderBy("doc_id")
    }),

    // PII redaction: the corpus is synthetic word-soup, so deterministic
    // PII derived from doc_id is planted inline and scrubbed — exercising
    // all three patterns under the oracle's eyes.
    "q_pii_redact" -> ((s, d) => {
      val planted = concat(col("text"),
        lit(" reach user"), col("doc_id").cast("string"), lit("@example.com or 10.0."),
        (col("doc_id") % 200).cast("string"), lit(".7 tel +1 555 01"),
        (col("doc_id") % 90 + 10).cast("string"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.redactPii(planted).as("redacted"))
        .orderBy("doc_id")
    }),

    // ---------------- sampling / splitting / decontamination ----------------
    // Deterministic stratified sample (oracle-checkable: pure window
    // semantics, no hashing).
    "q_sample_stratified" -> ((s, d) => {
      Sampling.stratifiedHead(Tables.documents(s, d), Seq("lang"), "doc_id", n = 10)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // Leakage-free hash split: same doc_id → same split on every run.
    // Portable variant (md5-prefix uniform, integer cut thresholds) so the
    // oracle replays EVERY per-row assignment — one flipped split anywhere
    // moves its group's (n, min_id) and the hash. The xxhash64 hashSplit
    // keeps its determinism properties in SamplingSpec.
    // Deterministic bottom-k uniform sample ([[graft.operators.Sampling
    // .bottomK]] under the oracle): the 50 smallest portable-md5-uniform
    // doc_ids — the replayable reservoir sample (same k-subset on any
    // engine/run/partitioning). Plans as TakeOrderedAndProject: local
    // top-k per partition, one bounded merge, no corpus sort.
    "q_bottomk_sample" -> ((s, d) => {
      graft.operators.Sampling.bottomK(
        Tables.documents(s, d).select(col("doc_id"), col("source"), col("lang")),
        "doc_id", k = 50)
        .orderBy("doc_id")
    }),

    "q_hash_split" -> ((s, d) => {
      Sampling.portableSplit(Tables.documents(s, d), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy("split")
    }),

    // Design-based survey estimation over a stratified hash sample:
    // orders are Bernoulli-sampled per priority stratum at KNOWN,
    // deliberately unequal inclusion probabilities (URGENT 1/2, HIGH
    // 1/4, rest 1/8 — exact dyadic cuts on the portable md5 uniform,
    // so the "sample" is replayable on any engine), the expensive
    // measurement y (line-level revenue, a lineitem join) is taken
    // ONLY conceptually inside the sample, and two classical
    // estimators of the population total are emitted per stratum with
    // their realized signed errors against the in-frame truth:
    // Horvitz–Thompson ht_y = (Σ_s y · 2³²) div cut (pure expansion),
    // and the ratio estimator ratio_y = (X_pop · Σ_s y) div Σ_s x
    // exploiting the free population auxiliary x = order header total
    // (audit-sampling's workhorse — calibrates out the sampling noise
    // shared by y and x). The estimator-error certificate a 100 TB
    // pipeline runs before trusting ANY sampled metric: one fact join,
    // one stratum aggregate, every division a single floored
    // cross-multiplication in DECIMAL(38,0).
    "q_ht_estimate" -> ((s, d) => {
      val cut = when(col("o_orderpriority") === "1-URGENT",
          lit(2147483648L))
        .when(col("o_orderpriority") === "2-HIGH", lit(1073741824L))
        .otherwise(lit(536870912L))
      val y = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("y"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x"),
          (Sampling.portableUniform(col("o_orderkey")) < cut).as("in_s"),
          cut.as("cut"))
        .join(y, col("o_orderkey") === col("l_orderkey"), "left")
        .na.fill(0L, Seq("y"))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n_pop"),
          sum(when(col("in_s"), 1L).otherwise(0L)).as("n_samp"),
          max(col("cut")).as("__cut"),
          sum(col("x")).as("__x_pop"),
          sum(when(col("in_s"), col("x")).otherwise(0L)).as("__x_samp"),
          sum(when(col("in_s"), col("y")).otherwise(0L)).as("__y_samp"),
          sum(col("y")).as("true_y"))
        .withColumn("ht_y", expr(
          "(CAST(__y_samp AS DECIMAL(38,0)) * 4294967296) div __cut"))
        .withColumn("ratio_y", when(col("__x_samp") === 0, 0L)
          .otherwise(expr(
            "(CAST(__x_pop AS DECIMAL(38,0)) * __y_samp) div __x_samp")))
        .withColumn("ht_err_pm", when(col("true_y") === 0, 0L)
          .otherwise(expr(
            "((ht_y - true_y) * CAST(1000000 AS DECIMAL(38,0))) div true_y")))
        .withColumn("ratio_err_pm", when(col("true_y") === 0, 0L)
          .otherwise(expr(
            "((ratio_y - true_y) * CAST(1000000 AS DECIMAL(38,0))) div true_y")))
        .select(col("prio"), col("n_pop"), col("n_samp"), col("ht_y"),
          col("ratio_y"), col("true_y"), col("ht_err_pm"),
          col("ratio_err_pm"))
        .orderBy("prio")
    }),

    // One-sample Kolmogorov–Smirnov uniformity certificate of the
    // portable md5 sampler itself: per priority stratum, the exact sup
    // gap between the empirical CDF of u = portableUniform(o_orderkey)
    // and the uniform law on [0, 2³²) — the audit that must pass
    // before ANY q_ht_estimate-style inference is trusted (a biased
    // hash poisons every downstream π). Both one-sided gaps
    // cross-multiplied to integers on the value spine (D⁺ at the step
    // top i·R − u·n, D⁻ at the step bottom u·n − (i−1)·R), the final
    // d_x1e6 one floored division, and kn2_x1000 = 1000·n·D² — the
    // scale-free Kolmogorov λ² whose numerator stays under 7e34 at
    // sf100 — alongside. Goodness-of-fit leg of the KS family
    // (q_ks_test is the two-sample one); per-stratum windows over the
    // spine, never a global sort.
    "q_ks_uniform" -> ((s, d) => {
      val wCum = Window.partitionBy(col("prio")).orderBy(col("u").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wKey = Window.partitionBy(col("prio"))
      Tables.orders(s, d)
        .select(col("o_orderpriority").as("prio"),
          Sampling.portableUniform(col("o_orderkey")).as("u"))
        .groupBy(col("prio"), col("u"))
        .agg(count(lit(1)).as("m"))
        .withColumn("i", sum(col("m")).over(wCum))
        .withColumn("n", sum(col("m")).over(wKey))
        .withColumn("up", expr(
          "CAST(i AS DECIMAL(38,0)) * 4294967296 - CAST(u AS DECIMAL(38,0)) * n"))
        .withColumn("dn", expr(
          "CAST(u AS DECIMAL(38,0)) * n - (CAST(i AS DECIMAL(38,0)) - m) * 4294967296"))
        .groupBy(col("prio"))
        .agg(max(col("n")).as("n"), greatest(max(col("up")), lit(0L).cast(DecimalType(38, 0))).as("__dp"),
          greatest(max(col("dn")), lit(0L).cast(DecimalType(38, 0))).as("__dm"))
        .withColumn("__dnum", greatest(col("__dp"), col("__dm")))
        .withColumn("d_x1e6", expr(
          "(__dnum * 1000000) div (CAST(n AS DECIMAL(38,0)) * 4294967296)"))
        .withColumn("kn2_x1000", expr(
          """(__dnum * __dnum * 1000) div
             (CAST(n AS DECIMAL(38,0)) * 4294967296 * 4294967296)"""))
        .select(col("prio"), col("n"), col("d_x1e6"), col("kn2_x1000"))
        .orderBy("prio")
    }),

    // Priority sampling ([[graft.operators.Sampling.priorityK]] under
    // the oracle): top-50 docs by priority w/u with w = n_chars and u
    // the portable md5 uniform — the weight-proportional sample
    // (Duffield-Lund-Thorup 2005) beside q_bottomk_sample's uniform
    // one. DuckDB re-derives every uniform, every single-division
    // priority, and the ordering, so one drifted hash byte or a
    // swapped boundary row flips the hash.
    "q_weighted_sample" -> ((s, d) => {
      graft.operators.Sampling.priorityK(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 50)
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: docs 0-24 stand in as the "eval set";
    // flag overlapping docs among the rest. Trigram shingles are the
    // discriminative setting on this corpus (bigrams mark ~95% of docs as
    // overlapping via shared vocabulary; trigrams isolate the planted
    // near-copies). Oracled since r4: the FNV hash VALUES aren't
    // SQL-expressible, but the shingle SETS are (distinct word trigrams as
    // strings — same cardinalities modulo hash collisions, none here), so
    // DuckDB reproduces the integer (n_shingles, n_matched) pair and the
    // cross-multiplied threshold (contamination >= 0.2 ⇔ 5·matched >=
    // total) exactly. Planted-overlap behavior stays ContaminationSpec's.
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") < 25)
      // asciiShingles pins tokenization to the oracle's [^a-z0-9]+ regex
      // (see q_ngram_jaccard) — corpus-independent oracle equivalence
      Contamination.overlap(docs.filter(col("doc_id") >= 25), "doc_id", "text",
        bench, "text", shingleN = 3, asciiShingles = true)
        .filter(col("n_matched") * 5 >= col("n_shingles") && col("n_shingles") > 0)
        .select(col("id"), col("n_shingles"), col("n_matched"))
        .orderBy("id")
    }),

    // ---------------- chunking / retrieval / quantization ----------------
    // Overlapping character windows (size 64, overlap 16 → stride 48) with
    // stable (doc_id, chunk_no) identity — the retrieval/training-window
    // prep step. Pure narrow projection (sequence → posexplode →
    // substring): no shuffle at any scale. The oracle rebuilds every chunk
    // with generate_series + substr over the same offsets, so boundary
    // arithmetic (last-chunk truncation, empty-text skip) is cross-checked
    // per row.
    "q_chunk_docs" -> ((s, d) => {
      Chunking.chunkByChars(Tables.documents(s, d).filter(col("doc_id") < 200),
        "text", chunkSize = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_no"), col("chunk_start"),
          col("chunk"), length(col("chunk")).as("chunk_len"))
        .orderBy("doc_id", "chunk_no")
    }),

    // BM25 top-20 for a three-term keyword query. Integer-only output
    // (tf vector, dl, rank): the double score ORDERS but is never emitted,
    // so the oracle recomputes the ranking from the same integers with its
    // own ln — a cross-engine check of the scoring semantics that no float
    // rendering can wobble. Mathematically tied scores (equal tf vector +
    // dl, or tf permuted across equal-df terms) tie exactly in both
    // engines and break by doc_id.
    "q_bm25" -> ((s, d) => {
      Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("table", "hash", "window"), topK = 20)
        .orderBy("rank")
    }),

    // Normalized Kendall distance between the BM25 and Dirichlet-QL
    // top-20s for the same query: HOW DIFFERENTLY the two retrieval
    // axes order the docs they both surface — the ranker-disagreement
    // number read before spending on q_rrf_fusion (distance ~0 = fusion
    // adds nothing). Exact discordant-pair census over the bounded
    // shared list; overlap size rides as the witness.
    "q_rank_distance" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val terms = Seq("table", "hash", "window")
      val sh = Retrieval.bm25TopK(docs, "doc_id", "text", terms, topK = 20)
        .select(col("doc_id"), col("rank").cast("long").as("r_bm"))
        .join(Retrieval.qlmDirichletTopK(docs, "doc_id", "text", terms, topK = 20)
          .select(col("doc_id"), col("rank").cast("long").as("r_qlm")),
          Seq("doc_id"))
        .localCheckpoint(true) // both census legs read the <=20-row list
      val x = sh.select(col("doc_id").as("ida"), col("r_bm").as("a1"),
        col("r_qlm").as("b1"))
      val y = sh.select(col("doc_id").as("idb"), col("r_bm").as("a2"),
        col("r_qlm").as("b2"))
      x.crossJoin(y).filter(col("ida") < col("idb"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when((col("a1") - col("a2")) * (col("b1") - col("b2")) < 0, 1L)
            .otherwise(0L)).as("discordant"))
        .crossJoin(broadcast(sh.agg(count(lit(1)).as("n_shared"))))
        .withColumn("ktd_pm",
          when(col("n_pairs") === 0, 0L)
            .otherwise(expr("(1000 * discordant) div n_pairs")))
        .select(col("n_shared"), col("n_pairs"), col("discordant"),
          col("ktd_pm"))
    }),

    // Dirichlet query likelihood (Retrieval.qlmDirichletTopK) on the
    // same query: the language-modeling retrieval axis next to
    // q_bm25's tf-idf — and, unlike BM25's log-idf, the score is ONE
    // division of two exact integer products (log-free), so the
    // emitted double and the ranking replay bitwise by construction.
    "q_qlm_dirichlet" -> ((s, d) => {
      Retrieval.qlmDirichletTopK(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("table", "hash", "window"), topK = 20)
        .orderBy("rank")
    }),

    // Retrieval evaluation scorecard over the proven BM25 top-20 with
    // the deterministic doc_id % 7 relevance labels (the q_hard_negatives
    // label set): hits@k / n_ranked@k / corpus-relevant-total as exact
    // integers for k ∈ {1,5,10,20}, and the reciprocal rank as the exact
    // integer 1e6 div first_relevant_rank — MRR/precision/recall with no
    // float anywhere near the oracle. The ranked list is ≤ topK rows, so
    // every post-retrieval join is a bounded broadcast.
    "q_retrieval_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ranked = Retrieval.bm25TopK(docs, "doc_id", "text",
        terms = Seq("table", "hash", "window"), topK = 20)
        .select(col("doc_id"), col("rank"),
          (col("doc_id") % 7 === 0).cast("long").as("rel"))
      val firstRel = ranked.filter(col("rel") === 1L)
        .agg(coalesce(min(col("rank")), lit(0)).cast("long").as("first_rel"))
      val nRel = docs.filter(col("doc_id") % 7 === 0)
        .agg(count(lit(1)).as("n_rel_total"))
      val ks = s.range(1)
        .select(explode(array(lit(1L), lit(5L), lit(10L), lit(20L))).as("k"))
      ks.crossJoin(broadcast(ranked))
        .groupBy(col("k"))
        .agg(sum(when(col("rank") <= col("k"), col("rel")).otherwise(0L)).as("hits"),
          sum(when(col("rank") <= col("k"), 1L).otherwise(0L)).as("n_ranked"))
        .crossJoin(broadcast(firstRel))
        .crossJoin(broadcast(nRel))
        .select(col("k"), col("hits"), col("n_ranked"), col("n_rel_total"),
          when(col("first_rel") > 0L,
            expr("CAST(1000000 AS BIGINT) div first_rel"))
            .otherwise(lit(0L)).as("rr_micro"))
        .orderBy("k")
    }),

    // Hard-negative mining (Retrieval.hardNegatives under the oracle):
    // from the proven BM25 top-20, drop the synthetically "relevant" docs
    // (doc_id % 7 = 0 — a deterministic label set both engines derive)
    // and re-rank what the retriever still surfaces: those are the
    // contrastive-training negatives. Integer-only output, same rank
    // discipline as q_bm25.
    "q_hard_negatives" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ranked = Retrieval.bm25TopK(docs, "doc_id", "text",
        terms = Seq("table", "hash", "window"), topK = 20)
      Retrieval.hardNegatives(ranked, "doc_id",
        positives = docs.filter(col("doc_id") % 7 === 0), posIdCol = "doc_id",
        nNeg = 8)
        .orderBy("neg_rank")
    }),

    // Hybrid retrieval: BM25 top-20 (lexical) fused with cosine top-20
    // against the vec_id=0 query embedding (semantic) by reciprocal-rank
    // fusion. Both legs are individually proven green (q_bm25's
    // integer-rank discipline; q_ann_bruteforce's cross-engine cosine
    // ordering); this query certifies the fusion: the oracle recomputes
    // both rankings AND the 1/(60+rank) blend from scratch, so a rank
    // shift in either leg, a dropped coalesce on a one-list id, or a tie
    // inverted between engines flips the hash. Integer-only output.
    // Rank-biased overlap (Webber, Moffat & Zobel 2010) at depth 10
    // between the lexical (BM25) and semantic (exact-cosine) top-10
    // rankings — the TOP-WEIGHTED ranking-agreement measure the
    // uniform-weight row (kendall, spearman, rank_distance) lacks:
    // disagreement at rank 1 costs 9× more than at rank 10. Exact on
    // the 2520·10¹⁰ grid: weight w_d = 9^(d−1)·10^(10−d) carries the
    // (1/10)(9/10)^(d−1) geometric factor, 2520 div d absorbs the
    // per-depth division (2520 = lcm(1..10)), and A_d counts common
    // docs with max(rank) ≤ d — every term a BIGINT, the cumulative
    // sum over the bounded 10-row depth spine is the truncated RBO.
    "q_rbo" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val lex = Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("table", "hash", "window"), topK = 10)
        .select(col("doc_id"), col("rank").as("r1"))
      val sem = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") > 0), emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", "vec_id", k = 10)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("r2"))
      val common = lex.join(sem, Seq("doc_id"))
        .select(greatest(col("r1"), col("r2")).as("rmax"))
      val weights = (1 to 10).map(dd =>
        (BigInt(9).pow(dd - 1) * BigInt(10).pow(10 - dd)).toLong)
      val spine = s.range(1, 11).select(col("id").as("d"))
      spine.join(common, col("rmax") <= col("d"), "left")
        .groupBy(col("d"))
        .agg(sum(when(col("rmax").isNotNull, 1L).otherwise(0L)).as("a_d"))
        .withColumn("term_x",
          element_at(array(weights.map(lit): _*), col("d").cast("int"))
            * expr("2520 div d") * col("a_d"))
        .withColumn("cum_x",
          sum(col("term_x")).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("d"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("d")
    }),

    "q_rrf_fusion" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val lex = Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("table", "hash", "window"), topK = 20)
        .select(col("doc_id"), col("rank"))
      val sem = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") > 0), emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", "vec_id", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq("lex" -> lex, "sem" -> sem), "doc_id", kConst = 60,
        topK = 10)
        .orderBy("fused_rank")
    }),

    // Shard-parallel sequence packing ("concat-and-chop"): whitespace
    // token counts (the proven q_token_count formula) packed into 512-token
    // context windows across 8 deterministic shards. The oracle re-derives
    // every document's span from its own window cumulative sums and
    // integral division, so the shard assignment, the running offsets, the
    // half-open boundary arithmetic, and the zero-token drop are all
    // cross-engine-checked per row.
    "q_pack_sequences" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
      Packing.packSequences(docs, "doc_id", "n_tokens", ctxSize = 512,
        nShards = 8)
        .orderBy("doc_id")
    }),

    // Packing efficiency scorecard over the proven chop-continuous
    // layout: per shard, docs, tokens, windows consumed (max last_win
    // + 1 ≡ ceil(total/512) — the chop packer is gap-free), the tail
    // waste in the final partial window, and how many documents span a
    // window boundary (the attention-mask cost of chop packing vs the
    // padding cost it avoids). All integers off the same per-doc spans.
    "q_pack_efficiency" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
      Packing.packSequences(docs, "doc_id", "n_tokens", ctxSize = 512,
          nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          (max(col("last_win")) + 1L).as("n_windows"),
          sum(when(col("first_win") =!= col("last_win"), 1L).otherwise(0L))
            .as("n_spanning_docs"))
        .withColumn("waste_tokens",
          col("n_windows") * 512L - col("total_tokens"))
        .orderBy("shard")
    }),

    // Incremental dedup (the daily-crawl increment): corpus = docs < 400;
    // the delta replays docs < 100 re-keyed +1000 (recrawled pages — must
    // drop against the CORPUS) and docs 400-449 re-keyed +2000 (a
    // same-batch double-fetch — must lose to the min-id winner WITHIN the
    // delta), plus the genuinely new docs >= 400. Survivors are exactly
    // 400-499; either drop path failing admits extra rows and flips the
    // hash. The corpus contributes only its distinct text keys.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") < 400)
      val delta = docs.filter(col("doc_id") >= 400)
        .unionByName(docs.filter(col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + 1000))
        .unionByName(docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
          .withColumn("doc_id", col("doc_id") + 2000))
      Dedup.incremental(corpus, delta, "doc_id", Seq("text"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Span-level exact dedup (the Lee-et-al duplicated-substring pass):
    // every 32-char shingle occurring >= 2 times corpus-wide marks its
    // span; overlapping spans merge per document. hashShingles = false
    // here so the oracle replays every byte of the decision — the
    // production path shuffles xxhash64 keys instead (same semantics,
    // 32x fewer shuffle bytes; OperatorsSpec "hashed and string shingle
    // paths agree on the corpus" proves the two paths identical).
    "q_dedup_substring" -> ((s, d) => {
      Dedup.duplicateSpans(Tables.documents(s, d), "doc_id", "text", k = 32,
        hashShingles = false)
        .orderBy("doc_id")
    }),

    // Greedy no-split packing (next-fit): documents keep their boundaries,
    // 256-token bins, 8 shards. The fold is sequential per shard — each
    // bin decision depends on the running fill — so the oracle replays it
    // with a recursive CTE walking each shard's docs in order. Any
    // divergence in the fold (a doc split, a bin opened early, a fill
    // miscount) flips the per-row (bin, bin_fill) columns.
    "q_pack_greedy" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
      Packing.packGreedy(docs, "doc_id", "n_tokens", binSize = 256, nShards = 8)
        .orderBy("doc_id")
    }),

    // Per-domain token-budget sampling: each source domain keeps documents
    // in deterministic md5-priority order while its running token total
    // stays within 600 (roughly half of each synthetic domain's ~1200
    // tokens, so the budget genuinely bites). Emits every kept document,
    // so the oracle's replay of the priority order, the cumulative sums,
    // and the budget cutoff is checked row by row.
    "q_token_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
      Sampling.tokenBudget(docs, "doc_id", "source", "n_tokens", budget = 600L)
        .orderBy("doc_id")
    }),

    // Temperature-scaled domain mixing (XLM-R α = 1/2): 130 rows
    // apportioned across source domains ∝ isqrt(count) by
    // largest-remainder — all integer math, so the oracle replays the
    // exact square roots, the Hamilton allocation (including the
    // remainder ranking and its lexicographic tie-break), and every
    // per-row md5-priority draw. 130 is deliberately not a multiple of
    // the domain count, so the shortfall distribution genuinely runs.
    "q_temperature_mix" -> ((s, d) => {
      Sampling.temperatureMix(
        Tables.documents(s, d), "source", "doc_id", totalRows = 130L)
        .select(col("doc_id"), col("source"), col("cnt"), col("w"), col("target"))
        .orderBy("doc_id")
    }),

    // Length-sorted inference batching: longest-first batches of 16 per
    // shard, with the padded-tensor size and padding waste the batcher
    // exists to minimize. Every batch boundary, max, and sum is integer
    // and replayed by the oracle from the same (id, token-count) pairs.
    "q_length_batch" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
      Packing.lengthBatch(docs, "doc_id", "n_tokens", batchSize = 16, nShards = 4)
        .orderBy("shard", "batch")
    }),

    // Deterministic domain-mixture resampling: each source domain keeps
    // documents at rate k/4 where k = (domain number % 4) + 1, decided by
    // the PORTABLE md5-derived uniform (the same one q_hash_split's
    // portableSplit rides — xxhash64's hashSplit keeps its determinism
    // properties in SamplingSpec but has no DuckDB analog). The oracle
    // replays every per-row decision — hash, integer threshold, and all —
    // so this is the fully-certified deterministic sampler. Per-domain
    // conditional aggregates keep it one shuffle; kept-set emptiness is
    // coalesced to -1 identically on both sides.
    "q_mix_domains" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val targetNum =
        regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 4 + 1
      val keep = Sampling.mixDecision(col("doc_id"), targetNum, rateDen = 4)
      docs
        .withColumn("target_num", targetNum)
        .withColumn("__keep", keep)
        .groupBy(col("source"))
        .agg(
          min(col("target_num")).as("target_num"),
          count(lit(1)).as("n_in"),
          sum(col("__keep").cast("long")).as("n_kept"),
          coalesce(min(when(col("__keep"), col("doc_id"))), lit(-1L)).as("min_kept"),
          coalesce(max(when(col("__keep"), col("doc_id"))), lit(-1L)).as("max_kept"),
          coalesce(sum(when(col("__keep"), col("n_chars"))), lit(-1L)).as("sum_chars"))
        .orderBy("source")
    }),

    // Int8 quantization error certificate: all-pairs (vec_id < 200 — the
    // bounded verification primitive) float-vs-quantized cosine error,
    // histogrammed as floor(round(err, 6)·1000) integer buckets (0.001
    // granularity spreads this corpus over 5 buckets; max err < 0.005,
    // i.e. int8 loses <0.5% cosine fidelity). DuckDB
    // independently re-derives the quantizer (list_transform round(x/scale))
    // AND both cosines, so the scale formula, the rounding discipline, and
    // the integer dot products are all cross-engine-checked; round-6 before
    // bucketing kills ulp noise at bucket edges (the q_dedup_embedding
    // rounding discipline).
    // Clustering-validity battery over the LABELED embedding space:
    // per-label mean silhouette and the global Dunn index, both EXACT.
    // Distances are integer L1 on the ×1000-rounded embedding grid
    // (zip_with + aggregate — codegen HOFs, the proven round-grid
    // discipline), so every ratio cross-multiplies: per point,
    // a = S_own/(n_own−1) and b = min_c S_c/n_c pick their argmin by
    // exact fraction comparison (sc'·nc < sc·nc', ties by label), and
    // s·1000 = 1000·(b_num·a_den − a_num·b_den) div max(crossed) is
    // one floored division. Dunn = min inter-cluster distance over max
    // intra-cluster distance rides the same pinned 250k-pair frame
    // (|emb|² — the embeddings table is a bounded evaluation set, not
    // the corpus). Singleton clusters would contribute no rows by
    // construction (none occur at any SF — n_points certifies). The
    // internal-validity audit q_kmeans and the ANN index family never
    // had: is the labeled partition even separable?
    "q_silhouette" -> ((s, d) => {
      val pts = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))")
            .as("q"))
        .localCheckpoint(true) // ≤500 rows; both pair sides
      // probe side spread explicitly: the eval set arrives as ONE scan
      // partition, and |pts|² kernel evaluations on one core was 35 s of
      // the r17 baseline sweep (wall ≈ task_s, par 1.0). defaultParallelism
      // scales with the cluster; the shuffled frame is |pts| rows — trivial
      // at every SF. The distance itself is the codegen L1 kernel, not the
      // interpreted aggregate(zip_with(...)) lambda — value-identical.
      val a = pts.select(col("vec_id").as("ia"), col("label").as("la"),
        col("q").as("qa"))
        .repartition(s.sparkContext.defaultParallelism, col("ia"))
      val b = pts.select(col("vec_id").as("ib"), col("label").as("lb"),
        col("q").as("qb"))
      // the |pts|² pair frame is never pinned: the NLJ + kernel stream
      // straight into ONE map-side-combined aggregate that carries the
      // silhouette sums AND the per-group distance extremes the Dunn
      // index needs (min over inter-, max over intra-group distances
      // fold exactly from group-level min/max) — the r17 baseline pinned
      // 4M pair rows only to re-read them for dunn's two numbers
      val sic = a.join(broadcast(b), col("ia") =!= col("ib"))
        .select(col("ia"), col("la"), col("lb"),
          gfn.l1_dist_long(col("qa"), col("qb")).as("d"))
        .groupBy(col("ia"), col("la"), col("lb"))
        .agg(sum(col("d")).as("sc"), count(lit(1)).as("nc"),
          min(col("d")).as("mind"), max(col("d")).as("maxd"))
        .localCheckpoint(true) // ≤5k rows; own/min/argmin/dunn legs share it
      val own = sic.filter(col("la") === col("lb"))
        .select(col("ia"), col("la"), col("sc").as("a_num"),
          col("nc").as("a_den"))
      val others = sic.filter(col("la") =!= col("lb"))
      val o2 = others.select(col("ia").as("ia2"), col("sc").as("sc2"),
        col("nc").as("nc2"), col("lb").as("lb2"))
      val bmin = others.join(broadcast(o2), col("ia") === col("ia2"))
        .withColumn("better", when(
          expr("sc2 * nc < sc * nc2") ||
            (expr("sc2 * nc = sc * nc2") && col("lb2") < col("lb")), 1L)
          .otherwise(0L))
        .groupBy(col("ia"), col("lb"), col("sc"), col("nc"))
        .agg(sum(col("better")).as("n_better"))
        .filter(col("n_better") === 0)
        .select(col("ia"), col("sc").as("b_num"), col("nc").as("b_den"))
      val si = own.join(bmin, Seq("ia"))
        .withColumn("s_x1000", expr(
          """(1000 * (CAST(b_num AS DECIMAL(38,0)) * a_den
                - CAST(a_num AS DECIMAL(38,0)) * b_den))
             div greatest(CAST(a_num AS DECIMAL(38,0)) * b_den,
                CAST(b_num AS DECIMAL(38,0)) * a_den)"""))
      val dunn = sic.agg(
        min(when(col("la") =!= col("lb"), col("mind"))).as("min_inter"),
        max(when(col("la") === col("lb"), col("maxd"))).as("max_intra"))
        .withColumn("dunn_x1000", when(col("max_intra") <= 0, 0L)
          .otherwise(expr("(1000 * min_inter) div max_intra")))
      si.groupBy(col("la").as("label"))
        .agg(count(lit(1)).as("n_points"),
          expr("sum(s_x1000) div count(*)").as("mean_s_x1000"))
        .crossJoin(broadcast(dunn))
        .select(col("label"), col("n_points"), col("mean_s_x1000"),
          col("min_inter"), col("max_intra"), col("dunn_x1000"))
        .orderBy("label")
    }),

    "q_embed_quantize" -> ((s, d) => {
      val emb = Quantize.int8(
        Tables.embeddings(s, d).filter(col("vec_id") < 200), "embedding")
        .select(col("vec_id"), col("embedding"), col("qvec"))
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("v_a"),
        col("qvec").as("q_a"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b"),
        col("qvec").as("q_b"))
      a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
        .select(
          floor(round(abs(round(gfn.cosine_sim(col("v_a"), col("v_b")), 6)
            - round(Quantize.intCosine(col("q_a"), col("q_b")), 6)), 6) * 1000)
            .cast("int").as("err_bucket"))
        .groupBy(col("err_bucket"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("err_bucket")
    }),

    // ---------------- pipeline composition ----------------
    // The operators composed as one corpus-cleaning pipeline — repetition
    // gate → exact dedup → benchmark decontamination → per-language
    // summary. Each stage's DuckDB mirror is already proven green in
    // isolation (q_repetition, q_dedup_exact, q_decontaminate); this query
    // certifies they compose: the oracle chains the same mirrors as CTEs,
    // so any stage reordering bug, dropped row, or changed semantics
    // between stages flips the hash. Integer-only outputs (counts, ids,
    // char sums) — nothing rounded.
    "q_pipeline_e2e" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the repetition gate is a staged projection + filter — no join (and
      // see dropRepetitive's scaladoc for why not one fused boolean)
      val keep1 = TextAnalysis.dropRepetitive(docs, "text")
      // keep2 feeds BOTH the decontamination corpus and the final summary
      // semi-join: checkpoint it so the repetition gate + dedup stages run
      // once, not once per consumer. Project to the columns the two
      // consumers read BEFORE the eager checkpoint — nothing prunes an
      // already-materialized checkpoint.
      val keep2 = Dedup.exact(keep1, "doc_id", Seq("text"))
        .select("doc_id", "text", "lang", "n_chars").localCheckpoint(true)
      val bench = docs.filter(col("doc_id") < 25)
      val surv = Contamination.overlap(keep2.filter(col("doc_id") >= 25), "doc_id",
          "text", bench, "text", shingleN = 3, asciiShingles = true)
        .filter(!(col("n_matched") * 5 >= col("n_shingles") && col("n_shingles") > 0))
        .select(col("id").as("doc_id"))
      keep2.join(surv, Seq("doc_id"), "left_semi")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    // ---------------- multimodal (REAL JDK codec: ImageIO + sampled audio) --
    // The synthetic PNGs' dimensions/colors are closed-form in media_id and
    // the oracle replicates that arithmetic — so the hash certifies the real
    // encode → ImageIO decode round trip, not a stub. (Rows-only through r3;
    // the container turned out to ship the full JDK imageio/sampled stack.)
    "q_multimodal_decode" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(s, 100)
      Multimodal.decodeImages(media)
        .select(col("media_id"), col("dec_width"), col("dec_height"), col("dec_channels"))
        .orderBy("media_id")
    }),

    // Feature-extract (per-channel pixel means — exact integers on solid
    // fills, PNG is lossless) + aspect-preserving thumbnail resize, then a
    // RE-DECODE of the resized payload: the oracle checks the whole
    // encode → decode → resize → re-encode → re-decode chain.
    "q_multimodal_features" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(s, 60)
      val feats = Multimodal.extractFeatures(media)
      val resized = Multimodal.resizeImages(feats, maxDim = 12)
      Multimodal.decodeImages(resized)
        .select(col("media_id"),
          element_at(col("features"), 1).cast("int").as("mean_r"),
          element_at(col("features"), 2).cast("int").as("mean_g"),
          element_at(col("features"), 3).cast("int").as("mean_b"),
          col("dec_width").as("r_width"), col("dec_height").as("r_height"))
        .orderBy("media_id")
    }),

    // Evenly spaced frame sampling from the packed-frame container, each
    // sampled frame individually decoded (rename frame → payload and reuse
    // the image decoder — the operators compose).
    "q_multimodal_frames" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(s, 20, kind = "video")
      val frames = Multimodal.sampleFrames(media, framesPerVideo = 4)
      Multimodal.decodeImages(frames.withColumnRenamed("frame", "payload"))
        .select(col("media_id"), col("frame_no"), col("src_frame"),
          col("dec_width").as("f_width"), col("dec_height").as("f_height"))
        .orderBy("media_id", "frame_no")
    }),

    // WAV header probe: decoded sample rate + frame count + floor-division
    // duration, all closed-form in media_id.
    "q_multimodal_audio" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(s, 40, kind = "audio")
      Multimodal.decodeAudio(media)
        .select(col("media_id"), col("sample_rate_dec"), col("n_frames"), col("duration_ms"))
        .orderBy("media_id")
    }),

    // Mann–Kendall trend screen (TimeSeries.mannKendall) per event type
    // over the daily count series: the distribution-free S statistic,
    // its τ_a per-mille, and the sign-only direction label. The pair
    // join runs over the 30-day rollup, never the raw events.
    "q_mk_trend" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.mannKendall(daily, Seq("event_type"), "day", "n")
        .orderBy("event_type")
    }),

    // Cox–Stuart paired-halves sign test (1955) per event type — the
    // O(n) member of the trend row: day i pairs with day i + c
    // (c = ⌊n/2⌋, the middle day of an odd series drops), and the
    // up/down census over the c pairs is the whole statistic — no
    // pairwise O(n²) like Mann–Kendall, no slope like Theil–Sen, so
    // it is the trend screen a pipeline runs FIRST at scale. Ties
    // (x_i = x_{i+c}) drop by the standard convention; `direction`
    // states the majority sign, 0 on a tie. Integer counts only.
    "q_cox_stuart" -> ((s, d) => {
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("r", row_number().over(wOrd).cast("long"))
        .withColumn("len", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .localCheckpoint(true) // both halves of the pair join read it
      // x_i pairs with x_{i + ceil(n/2)}: the middle day of an odd
      // series belongs to NEITHER half and drops
      val c = daily.withColumn("c", col("len") - expr("len div 2"))
      c.filter(col("r") <= expr("len div 2"))
        .select(col("event_type"), col("r"), col("n").as("x1"))
        .join(c.select(col("event_type"), (col("r") - col("c")).as("r"),
          col("n").as("x2")), Seq("event_type", "r"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("x2") > col("x1"), 1L).otherwise(0L)).as("n_up"),
          sum(when(col("x2") < col("x1"), 1L).otherwise(0L)).as("n_down"))
        .withColumn("direction",
          when(col("n_up") > col("n_down"), 1L)
            .when(col("n_up") < col("n_down"), -1L).otherwise(0L))
        .orderBy("event_type")
    }),

    // Theil–Sen robust slope (TimeSeries.theilSenSlope) per event type:
    // the lower-median of all pairwise day-count slopes, floor-scaled
    // ×1000 — the trend-rate companion to q_mk_trend's direction.
    "q_theil_sen" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.theilSenSlope(daily, Seq("event_type"), "day", "n")
        .orderBy("event_type")
    }),

    // Maximum drawdown per nation on the monthly-revenue series: the
    // deepest peak-to-trough slide as a per-mille of the running peak —
    // the worst-case-regret number next to q_ohlc's per-bucket spread
    // and q_turning_points' direction census. One running-max window
    // per nation (peak), one per-row per-mille, then the max and ITS
    // month recovered by an exact two-step argmax (max dd first, then
    // the LATEST month attaining it — no engine-specific arg_max tie
    // rule). Revenue rides DECIMAL(38,0) against the ×1000 product so
    // the per-mille never wraps at any corpus scale.
    "q_drawdown" -> ((s, d) => {
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev"))
      val w = Window.partitionBy(col("n_name")).orderBy(col("mon"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = rev.withColumn("peak", max(col("rev")).over(w))
        .withColumn("dd_pm",
          expr("(CAST(1000 AS DECIMAL(38,0)) * (peak - rev)) div peak"))
        .localCheckpoint(true) // nations × months rows; both argmax legs read it
      dd.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_months"), max(col("dd_pm")).as("max_dd_pm"))
        .join(dd.select(col("n_name"), col("dd_pm"), col("mon")), Seq("n_name"))
        .filter(col("dd_pm") === col("max_dd_pm"))
        .groupBy(col("n_name"))
        .agg(max(col("n_months")).as("n_months"),
          max(col("max_dd_pm")).as("max_dd_pm"),
          max(col("mon")).as("trough_mon"))
        .orderBy("n_name")
    }),

    // Poisson c-chart (TimeSeries.cChart) per event type: every day's
    // count with its 2σ control verdict, the √mean band decided by
    // exact cross-multiplication in DECIMAL(38,0) — no float mean, no
    // sqrt, one alarm at sf0.01 and the full chart either way.
    "q_c_chart" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.cChart(daily, Seq("event_type"), "day", "n", sigma = 2)
        .orderBy("event_type", "day")
    }),

    // Allen interval-relation census (TimeSeries.allenRelation) between
    // each (user, day)'s click span and view span — the temporal-audit
    // vocabulary (does clicking happen inside, before, or overlapping
    // the viewing session?) as a 13-bucket census. Spans are µs-exact
    // min/max aggregates; the join is keyed on (user, day), never a
    // cross product.
    "q_allen_census" -> ((s, d) => {
      val spans = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(col("user_id"), col("ts").cast("date").as("day"),
          col("event_type"))
        .agg(unix_micros(min(col("ts"))).as("lo"),
          unix_micros(max(col("ts"))).as("hi"))
      val a = spans.filter(col("event_type") === "click")
        .select(col("user_id"), col("day"), col("lo").as("a1"), col("hi").as("a2"))
      val b = spans.filter(col("event_type") === "view")
        .select(col("user_id"), col("day"), col("lo").as("b1"), col("hi").as("b2"))
      a.join(b, Seq("user_id", "day"))
        .withColumn("rel", TimeSeries.allenRelation(
          col("a1"), col("a2"), col("b1"), col("b2")))
        .groupBy(col("rel")).agg(count(lit(1)).as("n"))
        .orderBy("rel")
    }),

    // χ² token–language association (TextAnalysis.chi2TokenAssoc): the
    // full (lang, token) feature-selection table with exact
    // DECIMAL(38,0)-rendered χ²·1000 — on THIS synthetic corpus (text
    // drawn independently of lang) the values are small by construction,
    // which is itself the correct reading of the statistic.
    "q_chi2_tokens" -> ((s, d) => {
      TextAnalysis.chi2TokenAssoc(Tables.documents(s, d), "doc_id", "text", "lang")
        .withColumnRenamed("cat", "lang")
        .orderBy("lang", "tok")
    }),

    // Token burstiness (TextAnalysis.tokenBurstiness; Church & Gale
    // 1995): cf/df per-mille per token with a df ≥ 5 floor — the
    // concentration signal stopword/spam lexicons read.
    "q_token_burstiness" -> ((s, d) => {
      TextAnalysis.tokenBurstiness(Tables.documents(s, d), "doc_id", "text",
        minDf = 5L).orderBy("tok")
    }),

    // Hapax-legomena rate over trigrams per source
    // (TextAnalysis.hapaxNgramRate): Zipf tail mass as an exact
    // per-mille — the vocabulary-richness audit line of a dataset card.
    "q_hapax_ngrams" -> ((s, d) => {
      TextAnalysis.hapaxNgramRate(Tables.documents(s, d), "source", "text", n = 3)
        .orderBy("source")
    }),

    // Tokenizer fertility per language: corpus-weighted BPE symbols per
    // word ×1000, from the SAME 16-round trained tokenizer as
    // q_bpe_train/encode (one more consumer of the certified merge
    // table — the statistic tokenizer papers report per language). The
    // per-lang word counts join the word-level encode table on the
    // broadcast-sized vocabulary.
    "q_bpe_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val words = docs
        .select(explode(gfn.ascii_tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wt"))
      val (_, finalState) = graft.operators.Bpe.train(words, "w", "wt", BpeTrainSteps)
      val syms = finalState.select(col("word").as("w"),
        size(split(trim(col("repr")), "  ")).cast("long").as("n_syms"))
      val perLang = docs
        .select(col("lang"), explode(gfn.ascii_tokens(col("text"))).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
      perLang.join(broadcast(syms), Seq("w"))
        .groupBy(col("lang"))
        .agg(sum(col("cnt")).as("n_words"),
          sum(col("cnt") * col("n_syms")).as("n_bpe_tokens"))
        .withColumn("fertility_x1000",
          expr("(n_bpe_tokens * 1000) div n_words"))
        .orderBy("lang")
    }),

    // Quality-vote ensemble: four independent integer signals per doc
    // (length band, max-token share, stopword presence, type-token
    // ratio — each a published filter family's simplest member), summed
    // to a 0–4 score and histogrammed per source. The mix table a
    // curation run reads before choosing per-source sampling rates.
    "q_quality_vote" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .withColumn("n_dis", size(array_distinct(col("tk"))).cast("long"))
        .withColumn("s_stop",
          when(array_contains(col("tk"), "the") ||
            array_contains(col("tk"), "a"), 1L).otherwise(0L))
      val mx = base
        .select(col("doc_id"), explode(col("tk")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("mx"))
      base.join(mx, Seq("doc_id"))
        .withColumn("s_len",
          when(col("n_tok").between(20, 90), 1L).otherwise(0L))
        .withColumn("s_rep",
          when(expr("(mx * 1000) div n_tok") < 150, 1L).otherwise(0L))
        .withColumn("s_ttr",
          when(expr("(n_dis * 1000) div n_tok") >= 400, 1L).otherwise(0L))
        .withColumn("score", col("s_len") + col("s_rep") + col("s_stop") + col("s_ttr"))
        .groupBy(col("source"), col("score"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "score")
    }),

    // Seasonal Mann–Kendall (Hirsch & Slack 1984): the MK sign fold run
    // WITHIN each weekday stratum (so a strong weekly cycle cannot fake
    // a trend), strata S and pair counts then summed per type. Reuses
    // TimeSeries.mannKendall with (type, weekday) keys — one operator,
    // two published tests.
    "q_seasonal_mk" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", weekday(col("day")).cast("long"))
      TimeSeries.mannKendall(daily, Seq("event_type", "dow"), "day", "n")
        .groupBy(col("event_type"))
        .agg(sum(col("n_obs")).as("n_obs"),
          sum(col("n_pairs")).as("n_pairs"),
          sum(col("s_stat")).as("s_stat"))
        .withColumn("s_pm",
          when(col("n_pairs") === 0, 0L)
            .otherwise(expr("(s_stat * 1000) div n_pairs")))
        .withColumn("trend",
          when(col("s_stat") > 0, "up")
            .when(col("s_stat") < 0, "down").otherwise("flat"))
        .orderBy("event_type")
    }),

    // Record-day statistics (TimeSeries.recordDays; Foster & Stuart
    // 1954): running-high and running-low counts per event type — the
    // zero-assumption trend probe (ln n expected under exchangeability,
    // high/low asymmetry = drift).
    "q_record_days" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.recordDays(daily, Seq("event_type"), "day", "n")
        .orderBy("event_type")
    }),

    // Turning-point census (TimeSeries.turningPoints; Kendall's
    // randomness test): strict local extrema per type with the exact
    // 3T − 2(n−2) deviation from the randomness expectation.
    "q_turning_points" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.turningPoints(daily, Seq("event_type"), "day", "n")
        .orderBy("event_type")
    }),

    // Wilcoxon signed-rank test (Stats.wilcoxonSignedRank) on the
    // weekday-vs-weekend paired weekly series per event type: does the
    // workweek systematically out-count the weekend? Zero differences
    // drop, |d| ties take exact DOUBLED average ranks, and the emitted
    // halves satisfy w_plus_x2 + w_minus_x2 = n(n+1) — the identity the
    // oracle re-derives rank by rank.
    "q_wilcoxon" -> ((s, d) => {
      Stats.wilcoxonSignedRank(weekdayWeekendPairs(s, d),
        Seq("event_type"), "x", "y")
        .orderBy("event_type")
    }),

    // Sign test (Stats.signTest) on the SAME paired weekly frame as
    // q_wilcoxon: positive/negative/zero difference counts, the
    // direction statistic, and the exact-binomial tail count
    // min(n_pos, n_neg) — the magnitude-free paired sibling. One
    // aggregate, no window.
    "q_sign_test" -> ((s, d) => {
      Stats.signTest(weekdayWeekendPairs(s, d),
        Seq("event_type"), "x", "y")
        .orderBy("event_type")
    }),

    // Friedman repeated-measures rank test (Stats.friedman): do the
    // event types hold the same rank ordering across weekly blocks?
    // Doubled midranks within each complete week, χ²_F and Kendall's W
    // rendered as floor-divided integers; per-treatment rank sums
    // emitted for the audit trail.
    "q_friedman" -> ((s, d) => {
      val weekly = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("week", col("ts").cast("date")).cast("date").as("wk"))
        .agg(count(lit(1)).as("n"))
      Stats.friedman(weekly, "wk", "event_type", "n")
        .orderBy("event_type")
    }),

    // Quade test (Stats.quade) on the q_friedman frame: the same
    // complete weekly blocks, but each block's rank deviations weighted
    // by the block's range rank — wide-spread weeks carry more signal.
    // The power upgrade over Friedman when block scales differ.
    "q_quade" -> ((s, d) => {
      val weekly = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("week", col("ts").cast("date")).cast("date").as("wk"))
        .agg(count(lit(1)).as("n"))
      Stats.quade(weekly, "wk", "event_type", "n")
        .orderBy("event_type")
    }),

    // Cramér's V (Stats.cramersV): effect-size of the lang × source
    // association in the corpus — the global χ² with ZERO cells
    // materialized from the marginal cross join, per-cell floor
    // contributions in DECIMAL(38,0), and V² scaled ×10⁶ so no root
    // is ever taken. The "is my corpus mix confounded" one-number audit.
    "q_cramers_v" -> ((s, d) => {
      Stats.cramersV(Tables.documents(s, d), "lang", "source")
    }),

    // Page's ordered-trend test (Stats.pageTrend): within each complete
    // week does daily volume rise monotonically Mon→Sun per event
    // type? Blocks = weeks, treatments = isodow 1..7, the doubled L
    // statistic against its exact null expectation — the
    // repeated-measures cousin of q_jonckheere.
    "q_page_trend" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("wk", date_trunc("week", col("day")).cast("date"))
        .withColumn("j", (weekday(col("day")) + 1).cast("long"))
      Stats.pageTrend(daily, Seq("event_type"), "wk", "j", "n", k = 7)
        .orderBy("event_type")
    }),

    // Two-group log-rank test (Mantel 1966) on the q_survival frame:
    // do error-exposed users CONVERT on a different timescale than the
    // error-free cohort, with censoring handled — the hypothesis-test
    // companion to q_survival's descriptive Kaplan–Meier curve (and
    // the time-to-event cousin of q_mantel_haenszel: same
    // hypergeometric O−E machinery, strata = event times instead of
    // tables). At-risk sets come from one DESCENDING cumulative sum
    // over the (group × lifetime) grid — the grid is 2·|distinct
    // lifetimes| rows, calendar-bounded (lifetime = distinct active
    // days ≤ the observation window), never O(users). Per-time E and V
    // terms are the floor-composed ×1000/×10⁶ renderings (exact
    // hypergeometric numerators in DECIMAL(38,0), one truncating div
    // per term, deterministically replayed); χ²×1000 composes from the
    // two sums with one more division.
    "q_logrank" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(countDistinct(to_date(col("ts"))).as("t"),
          (max(when(col("event_type") === "purchase", 1).otherwise(0)) === 1)
            .as("obs"),
          (max(when(col("event_type") === "error", 1).otherwise(0)) === 1)
            .as("in_a"))
      graft.operators.Survival.logRank(perUser, "t", "obs", "in_a")
    }),

    // Mood's scale test (Stats.moodScaleTest) per nation: do URGENT
    // order totals SPREAD differently than LOW ones around the common
    // center? Squared rank deviations in the exact ×12 doubled
    // rendering — the dispersion companion to q_mannwhitney (location)
    // and q_ks_test (whole distribution) on the same cohort frame.
    "q_mood_scale" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          (col("o_orderpriority") === "1-URGENT").as("in_a"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.moodScaleTest(o, Seq("n_name"), "in_a", "v")
        .orderBy("n_name")
    }),

    // Exact 1-D Wasserstein-1 (earth mover's) distance per nation
    // between URGENT and LOW order totals: HOW MANY CENTS of
    // probability mass must move, where q_ks_test only reports the
    // single worst CDF gap and q_cvm_test the integrated square — the
    // metric (not just test) member of the two-sample family on the
    // same cohort frame. W₁ = ∫|F_a−F_b| dv collapses on the shared
    // cent spine to Σ_rows |n_b·C_a − n_a·C_b|·Δv (cross-multiplied
    // CDFs, Δv = gap to the next spine value, last row's gap
    // vanishing since both CDFs reach 1), one truncating ÷(n_a·n_b)
    // at the end: every intermediate an exact DECIMAL(38,0) integer.
    // Per-nation value-spine cumsum windows — bounded key frames,
    // never pairs.
    "q_wasserstein" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          (col("o_orderpriority") === "1-URGENT").as("in_a"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.wasserstein1(o, Seq("n_name"), "in_a", "v")
        .select(col("n_name"), col("n_a"), col("n_b"),
          col("w1_x1000").as("w1_cents_x1000"))
        .orderBy("n_name")
    }),

    // Two-sample energy distance (Székely & Rizzo 2004) per nation on
    // the same URGENT/LOW frame: D² = 2E|X−Y| − E|X−X'| − E|Y−Y'| —
    // sensitive to ANY distributional difference (location, scale,
    // shape), rotation-free where q_ks_test is sup-norm and
    // q_wasserstein is transport cost. The O(n²) pairwise |x−y| sums
    // collapse on the sorted cent spine to strictly-below prefix
    // count/sum windows: Σ pairs |v−w| = Σ_rows m·(c_below·v −
    // s_below) per sample and the mirrored above/below split for the
    // cross term — three exact DECIMAL(38,0) sums from ONE spine,
    // never pairs. The three floored per-mille components ride as
    // witnesses; d2_x1000 composes from the EXACT common-denominator
    // numerator (not from the floored components), one division.
    "q_energy_dist" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          (col("o_orderpriority") === "1-URGENT").as("in_a"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.energyDistance(o, Seq("n_name"), "in_a", "v")
        .select(col("n_name"), col("n_a"), col("n_b"), col("eab_pm"),
          col("eaa_pm"), col("ebb_pm"), col("d2_x1000"))
        .orderBy("n_name")
    }),

    // Kruskal–Wallis H (Stats.kruskalWallis) per nation: do the FIVE
    // order priorities share one totals distribution? The k-sample
    // generalization of q_mannwhitney on the same cohort frame —
    // doubled midranks via one per-nation RANGE window over the
    // (value, priority) spine, H in the exact floor-composed ×1000
    // rendering.
    "q_kruskal_wallis" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"), col("o_orderpriority").as("prio"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.kruskalWallis(o, Seq("n_name"), "prio", "v")
        .orderBy("n_name")
    }),

    // Cliff's delta (Stats.cliffsDelta) per nation: the effect SIZE
    // q_mannwhitney's U only implies — P(urgent > low) − P(urgent <
    // low) in exact pair counts off the same value spine, never a
    // pair join.
    "q_cliffs_delta" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          (col("o_orderpriority") === "1-URGENT").as("in_a"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.cliffsDelta(o, Seq("n_name"), "in_a", "v")
        .orderBy("n_name")
    }),

    // Fleiss' kappa (Stats.fleissKappa) per source: do the THREE
    // binary quality filters (q_cochran_q's exact frame) AGREE on
    // documents beyond chance? Cochran Q asks whether pass rates
    // differ; kappa asks whether verdicts coincide — the rater-
    // agreement completion of the quality-filter battery.
    "q_fleiss_kappa" -> ((s, d) => {
      // NO doc-spread here (r17, measured): the kappa base is cheap
      // (0.2 task-s) and the spread's per-task fixed costs exceeded it
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("n_dis", size(array_distinct(col("tk"))).cast("long"))
      val mx = base
        .select(col("doc_id"), explode(col("tk")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("mx"))
      val v = base.join(mx, Seq("doc_id"))
        .withColumn("v_len", col("n_tok").between(20, 90))
        .withColumn("v_rep", expr("(mx * 1000) div n_tok") < 150)
        .withColumn("v_ttr", expr("(n_dis * 1000) div n_tok") >= 400)
      Stats.fleissKappa(v, Seq("source"), Seq("v_len", "v_rep", "v_ttr"))
        .orderBy("source")
    }),

    // Krippendorff's alpha (Stats.krippendorffAlpha) on the same three
    // quality raters — but with ABSTENTIONS, the case Fleiss' fixed-k
    // design cannot express: the length rater abstains under 10
    // tokens, repetition under 20, TTR under 30, so units carry 1-3
    // ratings, single-rating docs drop (no pairable information), and
    // every pairable rating weighs equally via the exact
    // 420 div (m_u − 1) unit weights. The nominal-agreement audit a
    // heuristic-labeling pipeline runs when some signals are
    // undefined on short inputs.
    "q_krippendorff" -> ((s, d) => {
      // doc-spread before tokenize — gated (see spreadIfNarrow)
      val base = spreadIfNarrow(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("n_dis", size(array_distinct(col("tk"))).cast("long"))
      val mx = base
        .select(col("doc_id"), explode(col("tk")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("mx"))
      val j = base.join(mx, Seq("doc_id"))
      val ratings = j.filter(col("n_tok") >= 10)
        .select(col("source"), col("doc_id"),
          col("n_tok").between(20, 90).as("verdict"))
        .unionByName(j.filter(col("n_tok") >= 20)
          .select(col("source"), col("doc_id"),
            (expr("(mx * 1000) div n_tok") < 150).as("verdict")))
        .unionByName(j.filter(col("n_tok") >= 30)
          .select(col("source"), col("doc_id"),
            (expr("(n_dis * 1000) div n_tok") >= 400).as("verdict")))
      Stats.krippendorffAlpha(ratings, Seq("source"), "doc_id", "verdict")
        .orderBy("source")
    }),

    // Cronbach's α (1951) per source: do the three per-mille quality
    // items (TTR, repetition-cleanliness, hapax share) measure ONE
    // construct — i.e. is averaging them into a single quality score
    // legitimate? With k = 3 fixed, α = (3/2)(1 − ΣVᵢ/V_T) and every
    // variance shares the n·Σx²−(Σx)² numerator with the SAME hidden
    // denominator, so it cancels: alpha_pm = (1500·(V_T − ΣVᵢ)) div
    // V_T, signed exact DECIMAL end to end. One aggregate.
    "q_cronbach" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
      val perTok = base
        .select(col("doc_id"), explode(col("tk")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("mx"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      val items = base.join(perTok, Seq("doc_id"))
        .withColumn("x1", expr(
          "(CAST(size(array_distinct(tk)) AS BIGINT) * 1000) div n_tok"))
        .withColumn("x2", lit(1000L) - expr("(mx * 1000) div n_tok"))
        .withColumn("x3", expr("(hapax * 1000) div n_tok"))
        .withColumn("t", col("x1") + col("x2") + col("x3"))
      def vnum(x: String): org.apache.spark.sql.Column =
        col("__n").cast(dec) * col(s"__q_$x") - col(s"__s_$x").cast(dec) * col(s"__s_$x")
      items.groupBy(col("source"))
        .agg(count(lit(1)).as("__n"),
          sum(col("x1")).as("__s_x1"), sum(col("x1").cast(dec) * col("x1")).as("__q_x1"),
          sum(col("x2")).as("__s_x2"), sum(col("x2").cast(dec) * col("x2")).as("__q_x2"),
          sum(col("x3")).as("__s_x3"), sum(col("x3").cast(dec) * col("x3")).as("__q_x3"),
          sum(col("t")).as("__s_t"), sum(col("t").cast(dec) * col("t")).as("__q_t"))
        .withColumn("__vt", vnum("t"))
        .withColumn("__vsum", vnum("x1") + vnum("x2") + vnum("x3"))
        .withColumn("n_docs", col("__n"))
        .withColumn("alpha_pm",
          when(col("__vt") === 0, 0L).otherwise(
            expr("((__vt - __vsum) * 1500) div __vt")))
        .select(col("source"), col("n_docs"), col("alpha_pm"))
        .orderBy("source")
    }),

    // Krippendorff's α + Gwet's AC1 (Stats.multiRaterAgreement) per
    // source: the THREE heuristic annotators upgraded from binary
    // verdicts (q_fleiss_kappa) to a 3-point quality scale — length
    // band, TTR band, repetition band each grade 0/1/2 — and the two
    // chance-corrected agreement coefficients that disagree exactly
    // when prevalence skews (α collapses, AC1 stays informative).
    // Exact integer category census; both per-mille by one truncating
    // division.
    "q_rater_agreement" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("n_dis", size(array_distinct(col("tk"))).cast("long"))
      val mx = base
        .select(col("doc_id"), explode(col("tk")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("mx"))
      val r = base.join(mx, Seq("doc_id"))
        .withColumn("r_len",
          when(col("n_tok") < 20, 0L).when(col("n_tok") <= 90, 1L).otherwise(2L))
        .withColumn("r_ttr",
          when(expr("(n_dis * 1000) div n_tok") < 400, 0L)
            .when(expr("(n_dis * 1000) div n_tok") < 700, 1L).otherwise(2L))
        .withColumn("r_rep",
          when(expr("(mx * 1000) div n_tok") >= 250, 0L)
            .when(expr("(mx * 1000) div n_tok") >= 100, 1L).otherwise(2L))
      Stats.multiRaterAgreement(r, Seq("source"), Seq("r_len", "r_ttr", "r_rep"))
        .orderBy("source")
    }),

    // Cochran–Armitage trend (Stats.cochranArmitage) per nation: does
    // the share of big-ticket orders (> $150k) fall MONOTONICALLY as
    // priority relaxes 1-URGENT → 5-LOW? Priority digits are the
    // ordered dose scores; T and z² exact by cross-multiplication.
    "q_cochran_armitage" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("w"),
          (expr("CAST(round(o_totalprice * 100) AS BIGINT)") > 15000000L).as("big"))
      Stats.cochranArmitage(o, Seq("n_name"), "w", "big")
        .orderBy("n_name")
    }),

    // Ordinal association battery (Stats.ordinalAssocFromCounts) per
    // region: priority rank × $50k total-price band as an
    // ordinal×ordinal contingency — Goodman–Kruskal gamma, both
    // Somers' D directions, and Stuart's tau-c from ONE bounded
    // cell-pair fold (cells ≤ 5×6 per region, never the data).
    "q_ordinal_assoc" -> ((s, d) => {
      val geo = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name"))
      val cells = Tables.orders(s, d)
        .join(geo, col("o_custkey") === col("c_custkey"))
        .select(col("r_name"),
          expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)").as("__r"),
          least(expr("CAST(round(o_totalprice * 100) AS BIGINT) div 5000000"),
            lit(5L)).as("__c"))
        .groupBy(col("r_name"), col("__r"), col("__c"))
        .agg(count(lit(1)).as("__o"))
      Stats.ordinalAssocFromCounts(cells, Seq("r_name"))
        .orderBy("r_name")
    }),

    // Winsorized mean (Stats.winsorizedSum) per nation: the clamping
    // robust mean next to q_trimmed_mean's dropping one — same exact
    // rank-cut machinery, boundary masses re-valued at the cut-rank
    // values instead of discarded.
    "q_winsorized_mean" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.winsorizedSum(o, Seq("n_name"), "v", trimPm = 100L)
        .orderBy("n_name")
    }),

    // Tukey-fence outlier census (Stats.tukeyOutliers) per nation:
    // type-7 quartiles ×4 and fences ×8 keep the boxplot rule exact
    // over integer cents — the robust outlier screen completing the
    // dispersion row (MAD, IQR) of the battery.
    "q_tukey_outliers" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.tukeyOutliers(o, Seq("n_name"), "v")
        .orderBy("n_name")
    }),

    // Grubbs' most-extreme-value test (1950) per nation — the
    // PARAMETRIC member of the outlier bench next to q_tukey_outliers'
    // fences and q_mad's robust scale: is the single worst customer
    // spend too extreme for a normal sample? G² cross-multiplies to
    // pure integers — with dev = n·x − S, G² = max(dev)²·(n−1) /
    // (n·(n·Σx² − S²)) — so the emitted g2_x1e6 takes one floor and
    // no root or mean ever materializes. The argmax customer rides
    // via an exact two-step (max dev² first, then the smallest
    // custkey attaining it — no engine arg_max tie rule). One window
    // pass + one aggregate + a thin self-join.
    "q_grubbs" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val spend = Tables.orders(s, d)
        .join(nat, col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"), col("c_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))
      val wKey = Window.partitionBy(col("n_name"))
      val devs = spend
        .withColumn("__n", count(lit(1)).over(wKey))
        .withColumn("__s", sum(col("x")).over(wKey))
        .withColumn("__sxx", sum(col("x").cast(dec) * col("x")).over(wKey))
        .withColumn("__dev", col("__n").cast(dec) * col("x") - col("__s"))
        .withColumn("__dev2", col("__dev") * col("__dev"))
        .localCheckpoint(true) // nation × customer rows; max + argmax legs
      val mx = devs.groupBy(col("n_name"))
        .agg(max(col("__n")).as("n"), max(col("__dev2")).as("__mx"),
          max(col("__n").cast(dec) * col("__sxx")
            - col("__s").cast(dec) * col("__s")).as("__ssq"))
      mx.join(devs.select(col("n_name"), col("c_custkey"), col("__dev2")),
          Seq("n_name"))
        .filter(col("__dev2") === col("__mx"))
        .groupBy(col("n_name"))
        .agg(max(col("n")).as("n"), min(col("c_custkey")).as("worst_cust"),
          max(col("__mx")).as("__mx2"), max(col("__ssq")).as("__ssq2"))
        .withColumn("g2_x1e6",
          when(col("n") <= 1 || col("__ssq2") === 0, 0L)
            .otherwise(expr(
              """(CAST(1000000 AS DECIMAL(38,0)) * __mx2 * (n - 1))
                 div (CAST(n AS DECIMAL(38,0)) * __ssq2)""")))
        .select(col("n_name"), col("n"), col("worst_cust"), col("g2_x1e6"))
        .orderBy("n_name")
    }),

    // Westgard multi-rule QC census (1981) on daily event counts per
    // type — the clinical-lab control discipline next to q_c_chart's
    // single Poisson band: rule 1₃ₛ (one day beyond 3σ), rule 2₂ₛ
    // (two CONSECUTIVE days beyond 2σ on the SAME side), rule R₄ₛ
    // (consecutive days straddling 4σ apart). All three decide by
    // cross-multiplication against the self-baseline — with
    // dev = n·x − S, z² > k² ⇔ dev²·(n−1) > k²·n·(nΣx²−S²) — so the
    // census is exact integers end-to-end; consecutive-day context is
    // one lag window per key.
    "q_westgard" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val wKey = Window.partitionBy(col("event_type"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("n", count(lit(1)).over(wKey))
        .withColumn("s", sum(col("x")).over(wKey))
        .withColumn("sxx", sum(col("x").cast(dec) * col("x")).over(wKey))
        .withColumn("ssq",
          col("n").cast(dec) * col("sxx") - col("s").cast(dec) * col("s"))
        .withColumn("dev", col("n").cast(dec) * col("x") - col("s"))
        .withColumn("pdev", lag(col("dev"), 1).over(wOrd))
        .withColumn("r13",
          col("dev") * col("dev") * (col("n") - 1)
            > col("ssq") * col("n") * 9)
        .withColumn("z2gt4",
          col("dev") * col("dev") * (col("n") - 1)
            > col("ssq") * col("n") * 4)
        .withColumn("pz2gt4",
          col("pdev").isNotNull
            && col("pdev") * col("pdev") * (col("n") - 1)
               > col("ssq") * col("n") * 4)
        .withColumn("r22",
          col("z2gt4") && col("pz2gt4")
            && ((col("dev") > 0 && col("pdev") > 0)
                || (col("dev") < 0 && col("pdev") < 0)))
        .withColumn("r4s",
          col("pdev").isNotNull
            && (col("dev") - col("pdev")) * (col("dev") - col("pdev"))
               * (col("n") - 1) > col("ssq") * col("n") * 16
            && ((col("dev") > 0 && col("pdev") < 0)
                || (col("dev") < 0 && col("pdev") > 0)))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_days"),
          sum(when(col("r13"), 1L).otherwise(0L)).as("n_13s"),
          sum(when(col("r22"), 1L).otherwise(0L)).as("n_22s"),
          sum(when(col("r4s"), 1L).otherwise(0L)).as("n_r4s"))
        .orderBy("event_type")
    }),

    // MMR diversity re-ranking (Retrieval.mmrRerank): per query the
    // brute-force top-8 re-ranked greedily by λ·rel − (1−λ)·max-sim-
    // to-selected in exact ×10⁶ integers — the stage that stops
    // near-duplicate hits crowding a context window. The oracle
    // replays the greedy chain as an unrolled CTE ladder.
    "q_mmr_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") >= 5)
      val queries = emb.filter(col("vec_id") < 3)
      val cands = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 8)
        .select(col("query_id"), col("neighbor_id").as("id"),
          expr("CAST(round(cosine * 1000000) AS BIGINT)").as("rel"))
      val cv = cands.select(col("query_id"), col("id"))
        .join(corpus.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
      Retrieval.mmrRerank(
        cands,
        cv.as("x")
          .join(cv.as("y"), expr("x.query_id = y.query_id AND x.id <> y.id"))
          .withColumn("c", gfn.cosine_sim(col("x.embedding"), col("y.embedding")))
          .select(col("x.query_id").as("query_id"), col("x.id").as("id_a"),
            col("y.id").as("id_b"),
            expr("CAST(round(round(c, 6) * 1000000) AS BIGINT)").as("sim")),
        k = 4, lambdaPm = 700L)
        .orderBy("query_id", "sel_rank")
    }),

    // Ranked-retrieval evaluation (hits@5 + exact MRR): the sign-bit
    // ANN's top-5 graded against the exact cosine top-5 — MRR's 1/rank
    // stays integral as mrr_x2520 (2520 = lcm(1..10), so every
    // reciprocal of a rank ≤ 10 is exact). The certificate that turns
    // q_ann_recall_hamming's overlap count into the standard IR
    // metrics.
    "q_rank_eval" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") >= 5)
      val queries = emb.filter(col("vec_id") < 5)
      val approx = Similarity.signBitTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5, prefilterK = 20)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val truth = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      truth.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("rank").isNotNull, 1L).otherwise(0L)).as("hits_at_5"),
          min(col("rank")).as("__fr"))
        .withColumn("first_hit_rank", coalesce(col("__fr"), lit(0L)))
        .withColumn("mrr_x2520",
          when(col("__fr").isNull, 0L).otherwise(expr("2520 div __fr")))
        .drop("__fr")
        .orderBy("query_id")
    }),

    // Expected reciprocal rank (Chapelle 2009) of the sign-bit ANN
    // against GRADED exact-rank relevance — the cascade-model ranking
    // metric that needs NO logarithm (NDCG's log₂ discount is banned
    // by house law; ERR is the standard log-free graded alternative):
    // grades from the exact ranking (true rank 1-2 → R = 3/4, 3-5 →
    // R = 1/4, miss → 0, dyadic by construction), and
    // ERR = Σ_r (1/r)·R_r·Π_{i<r}(1−R_i) is EXACT on the ×61440 grid —
    // 61440 = 60·4⁵ is divisible by every r·4^r for r ≤ 5, so not one
    // floor anywhere. The survival product Π(1−R_i) never multiplies
    // row-by-row: its numerator is 4^(#prior misses)·3^(#prior
    // partials) off two conditional window counts (shiftleft + a
    // 5-case power table — integers end to end). Completes the
    // retrieval-metric row: hits@k (set), MRR (first hit), AP (binary
    // ranks), ERR (graded cascade).
    "q_err_rank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") >= 5)
      val queries = emb.filter(col("vec_id") < 5)
      val approx = Similarity.signBitTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5, prefilterK = 20)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
      val truth = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("t_rank"))
      val graded = approx
        .join(truth, Seq("query_id", "neighbor_id"), "left")
        .withColumn("gn", when(col("t_rank") <= 2, 3L)
          .when(col("t_rank") <= 5, 1L).otherwise(0L))
        .na.fill(0L, Seq("gn"))
      val wPrior = Window.partitionBy(col("query_id")).orderBy(col("rank"))
        .rowsBetween(Window.unboundedPreceding, -1)
      graded
        .withColumn("c_miss", coalesce(
          sum(when(col("gn") === 0L, 1L).otherwise(0L)).over(wPrior), lit(0L)))
        .withColumn("c_part", coalesce(
          sum(when(col("gn") === 1L, 1L).otherwise(0L)).over(wPrior), lit(0L)))
        .withColumn("surv_num", expr(
          """CAST(shiftleft(1, CAST(2 * c_miss AS INT)) AS BIGINT)
             * (CASE c_part WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 9
                WHEN 3 THEN 27 ELSE 81 END)"""))
        .withColumn("coef", expr(
          """CASE rank WHEN 1 THEN 15360 WHEN 2 THEN 1920 WHEN 3 THEN 320
             WHEN 4 THEN 60 ELSE 12 END"""))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_ranked"),
          sum(when(col("gn") > 0L, 1L).otherwise(0L)).as("n_graded"),
          sum(col("gn") * col("surv_num") * col("coef")).as("err_x61440"))
        .orderBy("query_id")
    }),

    // Average precision of the sign-bit ANN against the exact top-5
    // (the q_rank_eval frame): AP = (1/R)·Σ_{k rel} P@k, EXACT because
    // every k ≤ 5 divides 60 — per-hit terms (60·h_k) div k lose
    // nothing, one floor at the final ×1000. MAP's per-query row; the
    // rank-sensitive companion to hits@5 (which can't tell rank 1 from
    // rank 5) and MRR (which sees only the FIRST hit).
    "q_rank_ap" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") >= 5)
      val queries = emb.filter(col("vec_id") < 5)
      val approx = Similarity.signBitTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5, prefilterK = 20)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
      val truth = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val tn = truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_truth"))
      val rel = approx
        .join(truth.withColumn("__rel", lit(1L)), Seq("query_id", "neighbor_id"), "left")
        .na.fill(0L, Seq("__rel"))
      val wCum = Window.partitionBy(col("query_id")).orderBy(col("rank").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rel
        .withColumn("__h", sum(col("__rel")).over(wCum))
        .withColumn("__term",
          when(col("__rel") === 1L, expr("(60 * __h) div rank")).otherwise(0L))
        .groupBy(col("query_id"))
        .agg(sum(col("__rel")).as("hits_at_5"), sum(col("__term")).as("__apn"))
        .join(tn, Seq("query_id"))
        .withColumn("ap_x1000",
          when(col("n_truth") === 0, 0L)
            .otherwise(expr("(1000 * __apn) div (60 * n_truth)")))
        .select(col("query_id"), col("n_truth"), col("hits_at_5"), col("ap_x1000"))
        .orderBy("query_id")
    }),

    // Quality-classifier calibration (reliability bins + integer
    // Brier): the TTR per-mille score as a predictor of the length-
    // band verdict, binned by score decile per source — per-bin
    // observed rate vs predicted mass, plus the per-source ECE
    // numerator Σ|Σp − 1000·pos| and Brier ×10⁶, all exact integers.
    // The eval harness a learned quality filter would be tuned with.
    "q_calibration" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("p_pm",
          expr("(CAST(size(array_distinct(tk)) AS BIGINT) * 1000) div n_tok"))
        .withColumn("y", col("n_tok").between(20, 90).cast("long"))
        .withColumn("bin", expr("p_pm div 100"))
      val binned = base.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("y")).as("n_pos"),
          sum(col("p_pm")).as("sum_p_pm"),
          sum((col("p_pm") - lit(1000L) * col("y"))
            * (col("p_pm") - lit(1000L) * col("y"))).as("__sq"))
      val wSrc = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      binned
        .withColumn("rate_pm", expr("(1000 * n_pos) div n_docs"))
        .withColumn("ece_num",
          sum(abs(col("sum_p_pm") - lit(1000L) * col("n_pos"))).over(wSrc))
        .withColumn("brier_x1e6",
          expr("sum(__sq) OVER (PARTITION BY source) div sum(n_docs) OVER (PARTITION BY source)"))
        .drop("__sq")
        .orderBy("source", "bin")
    }),

    // Isotonic (PAV) recalibration (Stats.isotonicBinned) of the
    // q_calibration reliability curve per source: the monotone fit
    // production calibrators actually apply, rendered by the minimax
    // identity over the bounded bin frame — next to q_calibration
    // (measures) and q_brier_decomp (attributes), this one FIXES.
    "q_isotonic_calib" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("p_pm",
          expr("(CAST(size(array_distinct(tk)) AS BIGINT) * 1000) div n_tok"))
        .withColumn("y", col("n_tok").between(20, 90).cast("long"))
        .withColumn("bin", expr("p_pm div 100"))
      val binned = base.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
      Stats.isotonicBinned(binned, Seq("source"), "bin", "n_docs", "n_pos")
        .orderBy("source", "bin")
    }),

    // Murphy decomposition of the Brier score (1973) per source —
    // WHERE q_calibration's one-number Brier comes from: reliability
    // (bin-mean miscalibration, the fixable part), resolution (how
    // much the bins separate outcomes, the skill part) and outcome
    // uncertainty, each ×10⁶ as exact integer rationals FLOORED PER
    // BIN (documented; ≤10 bins/source so the floor error is ≤10 on a
    // 10⁶ scale) — REL−RES+UNC equals the Brier OF THE BIN-MEAN
    // forecast; the raw-p Brier alongside differs by the within-bin
    // forecast variance/covariance terms (measured ~1-3% here).
    // Per-bin squares ride DECIMAL(38,0);
    // exact to N < 10⁸ docs per source (the n⁴ in RES), loud past it.
    "q_brier_decomp" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val maxN = 100000000L
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("p_pm",
          expr("(CAST(size(array_distinct(tk)) AS BIGINT) * 1000) div n_tok"))
        .withColumn("y", col("n_tok").between(20, 90).cast("long"))
        .withColumn("bin", expr("p_pm div 100"))
      val binned = base.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_k"), sum(col("y")).as("pos_k"),
          sum(col("p_pm")).as("sp_k"),
          sum((col("p_pm") - lit(1000L) * col("y"))
            * (col("p_pm") - lit(1000L) * col("y"))).as("sq_k"))
      val tot = binned.groupBy(col("source"))
        .agg(sum(col("n_k")).as("n"), sum(col("pos_k")).as("pos"),
          sum(col("sq_k")).as("sq"))
        .withColumn("n",
          when(col("n") > maxN, raise_error(
            lit(s"q_brier_decomp: N exceeds the exact RES bound $maxN"))
            .cast("long")).otherwise(col("n")))
      binned.join(tot, Seq("source"))
        .withColumn("__reld", (col("sp_k").cast(dec) - col("pos_k") * 1000)
          * (col("sp_k").cast(dec) - col("pos_k") * 1000))
        .withColumn("__resd",
          (col("pos_k").cast(dec) * col("n") - col("pos").cast(dec) * col("n_k"))
            * (col("pos_k").cast(dec) * col("n") - col("pos").cast(dec) * col("n_k")))
        .withColumn("rel_t", expr("__reld div (CAST(n_k AS DECIMAL(38,0)) * n)"))
        .withColumn("res_t", expr(
          """(__resd * 1000000) div
             (CAST(n_k AS DECIMAL(38,0)) * n * n * n)"""))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n_docs"), max(col("pos")).as("n_pos"),
          expr("max(sq) div max(n)").cast("long").as("brier_x1e6"),
          sum(col("rel_t")).cast("long").as("rel_x1e6"),
          sum(col("res_t")).cast("long").as("res_x1e6"),
          expr("""(CAST(1000000 AS DECIMAL(38,0)) * max(pos)
                   * (max(n) - max(pos)))
                  div (CAST(max(n) AS DECIMAL(38,0)) * max(n))""")
            .as("unc_x1e6"))
        .orderBy("source")
    }),

    // Hodges–Lehmann location estimate (TimeSeries.hodgesLehmann) per
    // event type: the median of all pairwise Walsh sums over the daily
    // series, doubled so no .5 materializes — the robust "typical
    // daily volume" the Wilcoxon family's point estimate.
    "q_hodges_lehmann" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.hodgesLehmann(daily, Seq("event_type"), "day", "n")
        .orderBy("event_type")
    }),

    // Jonckheere–Terpstra ordered-alternative test (Stats.jonckheere):
    // do order totals rise monotonically across the five priority
    // tiers? The doubled J statistic folds from ONE distributed
    // grouped prefix-sum over the pivoted per-cent counts — never a
    // global window — with the exact doubled null expectation
    // alongside for the signed excess.
    "q_jonckheere" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(substring(col("o_orderpriority"), 1, 1).cast("int").as("g"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.jonckheere(o, "g", "v", k = 5)
    }),

    // 10%-trimmed order totals (Stats.trimmedSum) per nation: the
    // robust aggregate between mean and median, tie runs split exactly
    // at the rank cuts — the outlier-resistant revenue number next to
    // q_mad's scale and q_hodges_lehmann's location.
    "q_trimmed_mean" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.trimmedSum(o, Seq("n_name"), "v", trimPm = 100L)
        .orderBy("n_name")
    }),

    // Median absolute deviation (Stats.madPerKey) per nation over
    // order cents: the 50%-breakdown robust scale estimate, both
    // medians LOWER medians so the integers match engine-for-engine.
    "q_mad" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.madPerKey(o, Seq("n_name"), "v")
        .orderBy("n_name")
    }),

    // Copeland pairwise-majority consensus (Retrieval.copeland) on the
    // SAME per-language ballots as q_borda: a source beats another when
    // it out-counts it in a majority of languages. Positional vs
    // pairwise consensus disagreeing flags polarizing sources.
    "q_copeland" -> ((s, d) => {
      val ballots = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
      Retrieval.copeland(ballots, "lang", "source", "n_docs")
        .orderBy("final_rank")
    }),

    // Minimax-Condorcet (Retrieval.minimaxCondorcet) on the same
    // language-ballot frame: the source whose WORST pairwise defeat is
    // smallest — the least-objectionable consensus that (unlike Borda
    // and Copeland) elects the Condorcet winner whenever one exists.
    // Bounded pairwise spine, exact ballot counts.
    "q_minimax" -> ((s, d) => {
      val ballots = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
      Retrieval.minimaxCondorcet(ballots, "lang", "source", "n_docs")
        .orderBy("final_rank")
    }),

    // k-anonymity / l-diversity release GATE (Integrity.kAnonymity):
    // the single-row verdict rollup — smallest QI group, below-k mass,
    // minimum sensitive diversity — complementing q_k_anonymity /
    // q_l_diversity's per-group audit tables with the one boolean a
    // release pipeline asserts on.
    "q_anon_gate" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("dow", weekday(col("ts").cast("date")).cast("long"))
      graft.operators.Integrity.kAnonymity(
        ev, Seq("event_type", "dow"), "user_id", k = 300L)
    }),

    // Bartels rank von-Neumann ratio (TimeSeries.bartelsRvn) per event
    // type: rank-level serial correlation of the daily series —
    // tie-exact because doubled midranks make the mean rank exactly
    // n+1, so numerator and denominator are both integers.
    "q_bartels" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.bartelsRvn(daily, Seq("event_type"), "day", "n")
        .orderBy("event_type")
    }),

    // Borda-count rank fusion (Retrieval.bordaFuse): each language is a
    // ballot ranking the sources by document count (doubled midranks);
    // the consensus corpus-mix ordering falls out as integer sums —
    // the positional sibling of q_rrf_fusion.
    "q_borda" -> ((s, d) => {
      val ballots = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
      Retrieval.bordaFuse(ballots, "lang", "source", "n_docs")
        .orderBy("final_rank")
    }),

    // Yule's characteristic K (TextAnalysis.yuleK) per source: the
    // frequency-spectrum repetitiveness constant — the corpus-mix
    // companion to q_token_burstiness (which is per-token) and
    // q_hapax_ngrams (which is tail-mass).
    "q_yule_k" -> ((s, d) => {
      TextAnalysis.yuleK(Tables.documents(s, d), "text", "source")
        .orderBy("cat")
    }),

    // Burrows' Delta stylometric distance between every source pair,
    // in the EXACT median/MAD normalization (Delta's classic z-score
    // uses σ — a square root — so the robust variant IS the
    // integer-exact one): per top-30 vocabulary word, each source's
    // frequency-per-million f; the word's doubled median
    // med2 = f(⌈n/2⌉) + f(⌊n/2⌋+1) and doubled-twice MAD
    // mad4 = dev(⌈n/2⌉) + dev(⌊n/2⌋+1) over dev = |2f − med2| (the
    // two-order-stat trick is parity-free: odd n picks the same rank
    // twice). The pair distance telescopes the median away —
    // |z_s − z_t| = 4·|f_s − f_t|/mad4 — so delta_x1e6 is a per-word
    // floored cross-multiplication summed then ONE div by the word
    // count. Zero-dispersion words (mad4 = 0) carry no signal and drop,
    // as in classic Delta. The "which corpus sources share a pen"
    // audit: all frames are |vocab|×|sources| ≤ 600 rows, pinned once;
    // the pair join is 190 × 30 rows — constant in SF.
    "q_stylometry_delta" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(gfn.ascii_tokens(col("text"))).as("tok"))
      val cnt = toks.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // ≤|sources|·|vocab| rows; vocab/totals/profiles share it
      val vocab = cnt.groupBy(col("tok")).agg(sum(col("c")).as("gc"))
        .withColumn("rk",
          row_number().over(Window.orderBy(col("gc").desc, col("tok").asc)))
        .filter(col("rk") <= 30).select(col("tok"))
      val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("tot"))
      val prof = vocab.crossJoin(broadcast(tot))
        .join(cnt, Seq("tok", "source"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("f", expr("(1000000 * c) div tot"))
      val wT = Window.partitionBy(col("tok"))
      val wF = Window.partitionBy(col("tok"))
        .orderBy(col("f").asc, col("source").asc)
      val m = prof
        .withColumn("rn", row_number().over(wF))
        .withColumn("ns", count(lit(1)).over(wT))
        .withColumn("mlo", expr("(ns + 1) div 2"))
        .withColumn("mhi", expr("ns div 2 + 1"))
        .withColumn("med2",
          sum(when(col("rn") === col("mlo"), col("f")).otherwise(0L)).over(wT)
            + sum(when(col("rn") === col("mhi"), col("f")).otherwise(0L))
              .over(wT))
        .withColumn("dev", abs(lit(2L) * col("f") - col("med2")))
      val wD = Window.partitionBy(col("tok"))
        .orderBy(col("dev").asc, col("source").asc)
      val mf = m
        .withColumn("rd", row_number().over(wD))
        .withColumn("mad4",
          sum(when(col("rd") === col("mlo"), col("dev")).otherwise(0L)).over(wT)
            + sum(when(col("rd") === col("mhi"), col("dev")).otherwise(0L))
              .over(wT))
        .filter(col("mad4") > 0)
        .select(col("tok"), col("source"), col("f"), col("mad4"))
        .localCheckpoint(true) // ≤600 rows; both sides of the pair join
      val a = mf.select(col("source").as("s_a"), col("tok"),
        col("f").as("fa"), col("mad4"))
      val b = mf.select(col("source").as("s_b"), col("tok").as("tok_b"),
        col("f").as("fb"))
      a.join(broadcast(b),
          col("tok") === col("tok_b") && col("s_a") < col("s_b"))
        .withColumn("cw", expr("(4000000 * abs(fa - fb)) div mad4"))
        .groupBy(col("s_a"), col("s_b"))
        .agg(count(lit(1)).as("n_words"), sum(col("cw")).as("__sum"))
        .withColumn("delta_x1e6", expr("__sum div n_words"))
        .select(col("s_a"), col("s_b"), col("n_words"), col("delta_x1e6"))
        .orderBy("s_a", "s_b")
    }),

    // Chao1 richness + Good-Turing coverage (TextAnalysis.chao1) per
    // source: ESTIMATE the unseen vocabulary from the singleton/
    // doubleton spectrum — the "has this source plateaued or is its
    // tail still unexplored" scaling signal next to q_yule_k's
    // repeat-rate and q_vocab_growth's empirical Heaps curve.
    "q_chao1" -> ((s, d) => {
      TextAnalysis.chao1(Tables.documents(s, d), "text", "source")
        .orderBy("cat")
    }),

    // Decision-stump split selection by exact Gini impurity: over a
    // FIXED 18-candidate (feature, threshold) grid — length, TTR,
    // repetition, the q_quality_vote signals — pick the split that
    // best separates English from non-English docs. Each child's
    // impurity mass is the exact integer (10⁶·pos·(n−pos)) div n
    // (floored per child, summed as integers — shuffle-order-free);
    // the weak-learner-in-engine primitive under every boosted quality
    // classifier. The grid is a bounded broadcast; ONE corpus pass.
    "q_stump_split" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("ttr_pm",
          expr("(CAST(size(array_distinct(tk)) AS BIGINT) * 1000) div n_tok"))
        .withColumn("y", (col("lang") === "en").cast("long"))
        .select(col("n_tok"), col("ttr_pm"), col("y"))
      val grid = (Seq(10L, 20L, 40L, 60L, 90L, 120L).map(("n_tok", _)) ++
        Seq(300L, 400L, 500L, 600L, 700L, 800L).map(("ttr_pm", _)))
        .toDF("feature", "thr")
      base.crossJoin(broadcast(grid))
        .withColumn("v",
          when(col("feature") === "n_tok", col("n_tok")).otherwise(col("ttr_pm")))
        .groupBy(col("feature"), col("thr"))
        .agg(
          sum(when(col("v") <= col("thr"), 1L).otherwise(0L)).as("n_l"),
          sum(when(col("v") <= col("thr"), col("y")).otherwise(0L)).as("pos_l"),
          sum(when(col("v") > col("thr"), 1L).otherwise(0L)).as("n_r"),
          sum(when(col("v") > col("thr"), col("y")).otherwise(0L)).as("pos_r"))
        .withColumn("imp_x1e6",
          when(col("n_l") === 0, 0L).otherwise(expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * pos_l * (n_l - pos_l)) div n_l")) +
          when(col("n_r") === 0, 0L).otherwise(expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * pos_r * (n_r - pos_r)) div n_r")))
        .withColumn("split_rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("imp_x1e6").asc, col("feature").asc, col("thr").asc))
            .cast("long"))
        .orderBy("split_rank")
    }),

    // Wilson lower-bound leaderboard (Stats.wilsonRank): sources
    // ranked by the z=2 lower confidence bound of their length-band
    // pass rate — the uncertainty-honest sort where a 3-for-3 source
    // ranks below a 900-for-1000 one; "clears 50%" decided exactly
    // with no floats via the squared form.
    "q_wilson_rank" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("pass", col("n_tok").between(20, 90))
      Stats.wilsonRank(base, "source", "pass")
        .orderBy("final_rank")
    }),

    // ROUGE-L components (Lin 2004) over consecutive same-(lang,
    // source) doc pairs: LCS length through the full O(n·m) DP as a
    // nested codegen fold (3-way-max recurrence — the running-max
    // form needs no intra-row back-reference beyond the append), on
    // 30-token-capped prefixes so per-pair cost is a constant ~27k
    // fold steps regardless of SF — embarrassingly parallel across
    // pairs, the bounded-single-row-fold exception (q_dtw precedent).
    // P/R/F all exact per-mille off the integer LCS (F1 = 2l/(m+n) —
    // the harmonic mean collapses to one division). DuckDB replays
    // the identical DP via nested list_reduce over per-token
    // ys-position masks (exact equality, no hashing).
    "q_rouge_lcs" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          slice(gfn.ascii_tokens(col("text")), 1, 30).as("tk"))
        .filter(size(col("tk")) > 0)
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("doc_id"))
      base
        .withColumn("doc_id_b", lead(col("doc_id"), 1).over(w))
        .withColumn("tk_b", lead(col("tk"), 1).over(w))
        .filter(col("doc_id_b").isNotNull)
        .withColumn("len_a", size(col("tk")).cast("long"))
        .withColumn("len_b", size(col("tk_b")).cast("long"))
        .withColumn("lcs_len", expr(
          """aggregate(tk,
               array_repeat(CAST(0 AS BIGINT), size(tk_b) + 1),
               (row, x) -> aggregate(
                 sequence(1, size(tk_b)),
                 array(CAST(0 AS BIGINT)),
                 (nr, j) -> concat(nr, array(greatest(
                   element_at(nr, -1),
                   element_at(row, j + 1),
                   element_at(row, j)
                     + IF(element_at(tk_b, j) = x, 1L, 0L)))),
                 nr -> nr),
               row -> element_at(row, -1))"""))
        .select(col("doc_id").as("doc_id_a"), col("doc_id_b"),
          col("len_a"), col("len_b"), col("lcs_len"),
          expr("(1000 * lcs_len) div len_a").as("recall_pm"),
          expr("(1000 * lcs_len) div len_b").as("precision_pm"),
          expr("(2000 * lcs_len) div (len_a + len_b)").as("f_pm"))
        .orderBy("doc_id_a")
    }),

    // BLEU-1/2 components (Papineni et al. 2002) over the blocked
    // near-dup pairs: CLIPPED multiset n-gram precisions — the
    // asymmetric candidate-vs-reference overlap the set-based
    // q_ngram_jaccard/q_containment_join family can't see (a candidate
    // repeating one reference word 50x scores 50/50 on sets, 1/50
    // clipped) — plus the exact brevity ratio; the exp-weighted BLEU
    // composite is deliberately NOT emitted (logs — the PMI/BM25 law),
    // the components are the auditable integers.
    "q_bleu_components" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val pairs = ccBlockingPairs(docs)
      val toks = docs.select(col("doc_id"),
        gfn.ascii_tokens(col("text")).as("tk"))
      def grams(n: Int) =
        if (n == 1) col("tk")
        else expr("transform(sequence(0, size(tk)-2), i -> concat_ws(' ', tk[i], tk[i+1]))")
      def counts(side: String, idCol: String, n: Int) = pairs
        .join(toks.withColumnRenamed("doc_id", idCol), Seq(idCol))
        .filter(size(col("tk")) >= n)
        .select(col("id_a"), col("id_b"), explode(grams(n)).as("g"))
        .groupBy(col("id_a"), col("id_b"), col("g"))
        .agg(count(lit(1)).as(s"c_$side"))
      def clipped(n: Int) = counts("cand", "id_a", n)
        .join(counts("ref", "id_b", n), Seq("id_a", "id_b", "g"), "left")
        .na.fill(0L, Seq("c_ref"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(sum(col("c_cand")).as(s"len$n"),
          sum(least(col("c_cand"), col("c_ref"))).as(s"clip$n"))
      clipped(1).join(clipped(2), Seq("id_a", "id_b"), "left")
        .na.fill(0L, Seq("len2", "clip2"))
        .withColumn("p1_pm", expr("(1000 * clip1) div len1"))
        .withColumn("p2_pm",
          when(col("len2") === 0, 0L).otherwise(expr("(1000 * clip2) div len2")))
        .join(toks.select(col("doc_id").as("id_b"),
          size(col("tk")).cast("long").as("len_ref")), Seq("id_b"))
        .withColumn("brevity_pm",
          when(col("len_ref") === 0, 0L)
            .otherwise(expr("(1000 * len1) div len_ref")))
        .select(col("id_a"), col("id_b"), col("len1"), col("len_ref"),
          col("clip1"), col("p1_pm"), col("clip2"), col("p2_pm"),
          col("brevity_pm"))
        .orderBy("id_a", "id_b")
    }),

    // Rand + Adjusted Rand (Stats.randIndex) between the source and
    // language partitions of the corpus: pair-counting partition
    // agreement with no label alignment and no logs — the "is
    // provenance just language in disguise" dedup-blocking audit (ARI
    // ~0 = independent cuts; ~10⁶ = identical partitions).
    "q_rand_index" -> ((s, d) =>
      Stats.randIndex(Tables.documents(s, d), "source", "lang")),

    // Gries' DP dispersion (TextAnalysis.griesDp) of the top-12 corpus
    // terms across sources: which high-frequency terms are corpus-wide
    // vocabulary and which are one source's tic — the
    // template-contamination axis raw frequency hides. Exact
    // cross-multiplied deviations over a bounded 12 x |sources| grid.
    "q_gries_dp" -> ((s, d) => {
      TextAnalysis.griesDp(Tables.documents(s, d), "text", "source")
        .orderBy(col("cf").desc, col("term").asc)
    }),

    // Gunning fog index (TextAnalysis.gunningFog) per source: the
    // complex-word grade-level axis next to q_flesch's reading ease —
    // two filters that disagree are exactly what q_mcnemar audits.
    "q_gunning_fog" -> ((s, d) => {
      TextAnalysis.gunningFog(
        Tables.documents(s, d), "doc_id", "text", keepCols = Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("fog_x1000")).as("sum_fog_x1000"),
          min(col("fog_x1000")).as("min_fog_x1000"),
          max(col("fog_x1000")).as("max_fog_x1000"))
        .orderBy("source")
    }),

    // Mood's median test (Brown & Mood 1951) as a COMPOSITION: the
    // exact global lower-median of order totals (distributed grouped
    // prefix-sum, never a global sort) splits every order above /
    // at-or-below, and Stats.cramersV scores the 2×k split-by-priority
    // table — two proven operators, one new published test.
    "q_median_test" -> ((s, d) => {
      // ONE orders scan: the (v, prio) count spine pins once; the
      // median legs re-aggregate it and the χ² cells derive from its
      // multiplicities via cramersVFromCounts — raw rows never revisit.
      val perVP = Tables.orders(s, d)
        .select(col("o_orderpriority").as("prio"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
        .groupBy(col("v"), col("prio")).agg(count(lit(1)).as("m"))
        .localCheckpoint(true)
      // The v-level rollup stays LAZY over the pinned (v, prio) spine:
      // its consumers (runningTotals' sample, the n rollup, the median
      // scan) each re-run a CHEAP spine-sized groupBy off the pin —
      // measured faster than a second eager materialization, whose
      // job-scheduling cost exceeded the tiny recomputes (r15).
      val perV = perVP.groupBy(col("v")).agg(sum(col("m")).as("m"))
      val cum = graft.operators.PrefixSum.runningTotals(perV, "v", Seq("m"))
      val n = perV.agg(sum(col("m")).as("n"))
      val med = cum.crossJoin(broadcast(n))
        .filter(col("cum_m") >= expr("(n + 1) div 2"))
        .agg(min(col("v")).as("med"))
      // DENSE 2×C cells in ONE pass: both split cells per priority come
      // out of a single groupBy (above / total−above), so the χ² runs
      // through the window-based cramersVFromDenseCounts — no margin
      // broadcast legs, no densifying join, no cell pin (r15: the
      // generic path cost ~4 extra jobs of pure scheduling here).
      val cells = perVP.crossJoin(broadcast(med))
        .groupBy(col("prio").as("__c"))
        .agg(sum(when(col("v") > col("med"), col("m")).otherwise(0L)).as("__ab"),
          sum(col("m")).as("__tot"))
        .select(col("__c"),
          expr("stack(2, 'above', __ab, 'at_or_below', __tot - __ab) AS (__r, __o)"))
      Stats.cramersVFromDenseCounts(cells)
        .crossJoin(broadcast(med))
    }),

    // Flesch reading-ease (TextAnalysis.fleschReadability) rolled up
    // per source: vowel-group syllables, [.!?]+ sentences, the
    // floor-composed integer score — curriculum binning's readability
    // axis, replayed to the digit by DuckDB list lambdas.
    "q_flesch" -> ((s, d) => {
      TextAnalysis.fleschReadability(
        Tables.documents(s, d), "doc_id", "text", keepCols = Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("flesch_x1000")).as("sum_flesch_x1000"),
          min(col("flesch_x1000")).as("min_flesch_x1000"),
          max(col("flesch_x1000")).as("max_flesch_x1000"))
        .orderBy("source")
    }),

    // Coleman–Liau readability (TextAnalysis.colemanLiau) per source:
    // the syllable-free member of the readability battery — characters
    // and sentences only, the robust cross-check where vowel-group
    // counting misfires on noisy web text. Same floor-composed
    // integer rendering and rollup shape as q_flesch.
    "q_coleman_liau" -> ((s, d) => {
      TextAnalysis.colemanLiau(
        Tables.documents(s, d), "doc_id", "text", keepCols = Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("cli_x1000")).as("sum_cli_x1000"),
          min(col("cli_x1000")).as("min_cli_x1000"),
          max(col("cli_x1000")).as("max_cli_x1000"))
        .orderBy("source")
    }),

    // LIX/RIX readability (TextAnalysis.lixRix) per source: the
    // heuristic-free European pair (long word = ≥7 letters, nothing
    // language-specific) — the range check on multilingual corpora
    // where English vowel-group counting misfires. Same rollup shape.
    "q_lix" -> ((s, d) => {
      TextAnalysis.lixRix(
        Tables.documents(s, d), "doc_id", "text", keepCols = Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("lix_x1000")).as("sum_lix_x1000"),
          sum(col("rix_x1000")).as("sum_rix_x1000"),
          max(col("lix_x1000")).as("max_lix_x1000"))
        .orderBy("source")
    }),

    // Function-word fingerprint (TextAnalysis.stopwordProfile) per
    // source: the Mosteller–Wallace style signature — per-mille-free
    // ppm rates of a fixed 12-word function lexicon, densified so every
    // source emits the full aligned profile. Authorship / register /
    // source-drift tripwire.
    "q_stopword_profile" -> ((s, d) => {
      TextAnalysis.stopwordProfile(Tables.documents(s, d), "text", "source")
        .orderBy("cat", "tok")
    }),

    // Partial correlation (Stats.partialCorrelation) per return flag:
    // does the price↔quantity association survive controlling for the
    // discount? Exact DECIMAL moment sums, one fixed double tree (the
    // regression determinism discipline) — the confound-screening
    // companion to q_corr_pairs.
    "q_partial_corr" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"),
          expr("CAST(round(l_discount * 1000) AS BIGINT)").as("disc_pm"))
      Stats.partialCorrelation(li, Seq("l_returnflag"), "price_c", "qty", "disc_pm")
        .orderBy("l_returnflag")
    }),

    // Pettitt change-point test (TimeSeries.pettitt): WHERE did each
    // event type's daily level shift — max-|U| rank statistic with the
    // earliest-argmax day, all-integer via the r_s recursion. The
    // "when did it break" companion the MK battery was missing.
    "q_pettitt" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.pettitt(daily, Seq("event_type"), "day", "n")
        .orderBy("event_type")
    }),

    // Spearman rank correlation against time (TimeSeries.spearmanTrend):
    // ρ·1000 per event type over the daily series — day ranks are
    // distinct (2·row_number), value ties take doubled midranks, and
    // the oracle replays Σd₂² and the floor-divided ρ identically.
    "q_spearman_trend" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      TimeSeries.spearmanTrend(daily, Seq("event_type"), "day", "n")
        .orderBy("event_type")
    }),

    // Two-sample Kolmogorov–Smirnov (Stats.ksTwoSample) per nation:
    // does the URGENT order-total distribution match the LOW one? The
    // D statistic exact by cross-multiplication over integer cents —
    // the distribution-level companion to q_mannwhitney's location
    // test, on the same cohort frame.
    "q_ks_test" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          (col("o_orderpriority") === "1-URGENT").as("in_a"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.ksTwoSample(o, Seq("n_name"), "in_a", "v")
        .orderBy("n_name")
    }),

    // Cramér–von Mises two-sample test (Stats.cramerVonMises) per
    // nation on the q_ks_test cohort frame: the L2 distribution
    // distance that weights EVERY ECDF gap, catching the spread-out
    // discrepancies KS's single sup underweights — the third member of
    // the distribution-comparison row (location: mannwhitney, sup: ks,
    // L2: cvm).
    "q_cvm_test" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          (col("o_orderpriority") === "1-URGENT").as("in_a"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.cramerVonMises(o, Seq("n_name"), "in_a", "v")
        .orderBy("n_name")
    }),

    // Anderson–Darling two-sample test (Stats.andersonDarling) on the
    // q_ks_test cohort frame — the TAIL-weighted member of the
    // two-sample row: each ECDF gap divided by B·(N−B), so extreme-
    // price divergence between urgent and low-priority orders
    // dominates where KS (sup) and CvM (uniform L2) dilute it. Exact
    // per-term floors in DECIMAL(38,0), replayed in DuckDB HUGEINT.
    "q_ad_test" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          (col("o_orderpriority") === "1-URGENT").as("in_a"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.andersonDarling(o, Seq("n_name"), "in_a", "v")
        .orderBy("n_name")
    }),

    // Distance covariance (Stats.distanceCovariance, Székely 2007) per
    // nation between monthly revenue and monthly order count — the
    // NONLINEAR-dependence audit the Pearson/Spearman row cannot see
    // (dCov = 0 ⟺ independence). Monthly series are calendar-bounded
    // (~80 points), so the n² double-centered pair frame is a bounded
    // spine; dCor⁴ renders by the ordered two-stage floor (q₁ ≤ 1000
    // by Cauchy–Schwarz) with every intermediate inside DECIMAL(38,0).
    "q_dcov" -> ((s, d) => {
      val m = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
        .agg(sum(expr("CAST(round(o_totalprice) AS BIGINT) div 1000"))
          .as("x"), count(lit(1)).as("y"))
      Stats.distanceCovariance(m, Seq("n_name"), "mon", "x", "y")
        .orderBy("n_name")
    }),

    // Kuiper two-sample test (Stats.kuiper) on a CYCLIC covariate —
    // each event type's hour-of-day distribution against the 'click'
    // baseline: V = D⁺ + D⁻ weights both tails symmetrically and is
    // rotation-invariant on the 24-hour circle, the property that
    // makes it the canonical cyclic drift test where KS's single sup
    // (q_ks_test) is origin-dependent. The baseline replicates once
    // per compared type — bounded by the event-type catalog (5), never
    // by row count. Exact cross-multiplied spine; v_pm tops at 2000.
    "q_kuiper" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).cast("long").as("hr"))
      val others = ev.filter(col("event_type") =!= "click")
      val frame = others
        .select(col("event_type"), lit(true).as("in_a"), col("hr"))
        .unionByName(
          broadcast(others.select(col("event_type")).distinct())
            .crossJoin(ev.filter(col("event_type") === "click").select(col("hr")))
            .select(col("event_type"), lit(false).as("in_a"), col("hr")))
      Stats.kuiper(frame, Seq("event_type"), "in_a", "hr")
        .orderBy("event_type")
    }),

    // Ansari–Bradley scale test (Stats.ansariBradley) on the q_ks_test
    // cohort frame: same centers, different DISPERSION — the member of
    // the distribution row the location (mannwhitney) and shape
    // (ks/cvm) tests can't isolate. Closed-form doubled scores over the
    // value spine, floor-composed per tie run, expectation alongside.
    "q_ansari_bradley" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          (col("o_orderpriority") === "1-URGENT").as("in_a"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.ansariBradley(o, Seq("n_name"), "in_a", "v")
        .orderBy("n_name")
    }),

    // Lepage joint location-scale omnibus (Stats.lepage) on the same
    // cohort frame: the χ²₂ sum of the squared standardized Wilcoxon
    // (location) and Ansari–Bradley (scale) legs — fires when EITHER
    // moment moved, the last open seat in the two-sample battery
    // (mannwhitney/ks/cvm/ansari each isolate one alternative). The W
    // side is integer-exact end to end (doubled midranks, tie-corrected
    // variance as one DECIMAL(38,0) expression, two-stage floored
    // rendering); the AB side rides q_ansari_bradley's stated ×1000
    // grid. One value spine, one bounded window, one final aggregate.
    "q_lepage" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"),
          (col("o_orderpriority") === "1-URGENT").as("in_a"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.lepage(o, Seq("n_name"), "in_a", "v")
        .orderBy("n_name")
    }),

    // Pairwise Mann–Whitney census (Stats.pairwiseMannWhitney): the
    // post-hoc battery after a Kruskal–Wallis omnibus — per nation,
    // every unordered priority pair's exact pair counts, doubled U, and
    // rank-biserial effect size. Never a pair join: one value-spine
    // aggregate + a densified bounded-group window.
    "q_pairwise_mw" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM", "5-LOW"))
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"), col("o_orderpriority").as("prio"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.pairwiseMannWhitney(o, Seq("n_name"), "prio", "v")
        .orderBy("n_name", "g1", "g2")
    }),

    // Pairwise KS distance matrix (Stats.pairwiseKs) on the same
    // frame: WHICH priority pairs drift, not just whether one does —
    // the per-pair sup-gap companion to q_pairwise_mw's location
    // census, same densified-spine shape.
    "q_pairwise_ks" -> ((s, d) => {
      val nat = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM", "5-LOW"))
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"), col("o_orderpriority").as("prio"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      Stats.pairwiseKs(o, Seq("n_name"), "prio", "v")
        .orderBy("n_name", "g1", "g2")
    }),

    // Lo–MacKinlay variance-ratio test (Stats.varianceRatio) on daily
    // revenue per priority: random walk (≈1000), mean reversion
    // (<1000), or trend (>1000) at lag q=5 — the one-number memory
    // diagnostic for a daily business series, exact integer numerators
    // end to end. KILODOLLAR grid, not cents: the variance numerator
    // grows ~n²·d², and cent-scale daily totals overflow its BIGINT
    // output around sf0.01 (the loud guard caught exactly this); k$
    // keeps the emitted numerators exact to ~sf10 with 50x margin.
    "q_variance_ratio" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice) AS BIGINT) div 1000")).as("kusd"))
      Stats.varianceRatio(daily, Seq("prio"), "day", "kusd", q = 5)
        .orderBy("prio")
    }),

    // Durbin–Watson (Stats.durbinWatson) on the same daily series:
    // the raw-value lag-1 autocorrelation diagnostic next to
    // q_variance_ratio's multi-lag view and q_bartels' rank rendering
    // — ≈2000 under independence, <2000 positive drift, >2000
    // alternation. Scaled integer residuals, one floor at the end.
    "q_durbin_watson" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("prio"), col("o_orderdate").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice) AS BIGINT) div 1000")).as("kusd"))
      Stats.durbinWatson(daily, Seq("prio"), "day", "kusd")
        .orderBy("prio")
    }),

    // McNemar's paired-binary test (Stats.mcnemar) per source: do the
    // length-band and type-token-ratio quality filters (q_quality_vote's
    // own signals) disagree symmetrically on the same documents? Only
    // the discordant cells enter the statistic; the full 2×2 is emitted
    // for the audit trail.
    "q_mcnemar" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        // zero-token docs drop EXPLICITLY: without the filter Spark's
        // non-ANSI div-by-zero nulls h_ttr (the doc vanishes from every
        // 2×2 cell — counts stop summing to n_docs) while DuckDB's //
        // raises, an engine divergence. Mirrored in the oracle CTE.
        .filter(col("n_tok") > 0)
        .withColumn("n_dis", size(array_distinct(col("tk"))).cast("long"))
        .withColumn("h_len", col("n_tok").between(20, 90))
        .withColumn("h_ttr", expr("(n_dis * 1000) div n_tok") >= 400)
      Stats.mcnemar(base, Seq("source"), "h_len", "h_ttr")
        .orderBy("source")
    }),

    // Odds ratio (Stats.oddsRatio) on the q_mcnemar 2×2: do the two
    // quality filters AGREE more than chance (OR > 1000) — the
    // association answer next to McNemar's marginal-change one, same
    // single aggregate, exact floor rendering.
    "q_odds_ratio" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("n_dis", size(array_distinct(col("tk"))).cast("long"))
        .withColumn("h_len", col("n_tok").between(20, 90))
        .withColumn("h_ttr", expr("(n_dis * 1000) div n_tok") >= 400)
      Stats.oddsRatio(base, Seq("source"), "h_len", "h_ttr")
        .orderBy("source")
    }),

    // Youden's J + signed MCC² (Stats.youdenJ) on the q_mcnemar 2×2:
    // informedness and correlation complete the paired-verdict battery
    // (change: mcnemar; association: odds ratio) — one aggregate,
    // exact cross-multiplied integers, sign carried explicitly.
    "q_youden_j" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("n_dis", size(array_distinct(col("tk"))).cast("long"))
        .withColumn("h_len", col("n_tok").between(20, 90))
        .withColumn("h_ttr", expr("(n_dis * 1000) div n_tok") >= 400)
      Stats.youdenJ(base, Seq("source"), "h_len", "h_ttr")
        .orderBy("source")
    }),

    // Exact ROC AUC (Stats.auc) of the TTR per-mille score against the
    // length-band label per source — the threshold-free ranking number
    // a learned quality filter is tuned by, via the Mann–Whitney
    // identity on the value spine (never a pair join).
    "q_auc" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("n_dis", size(array_distinct(col("tk"))).cast("long"))
        .withColumn("y", col("n_tok").between(20, 90))
        .withColumn("p_pm", expr("(n_dis * 1000) div n_tok"))
      Stats.auc(base, Seq("source"), "y", "p_pm")
        .orderBy("source")
    }),

    // Precision/recall curve of the same score: per score-decile
    // threshold (predict positive at p_pm div 100 >= t), the exact
    // confusion counts plus per-mille precision and recall — the
    // operating-point table next to q_auc's one-number ranking view
    // and q_calibration's reliability bins. Bounded 10-threshold
    // frame per source, cumulatives by one descending window over the
    // decile spine.
    "q_pr_curve" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("n_dis", size(array_distinct(col("tk"))).cast("long"))
        .withColumn("y", col("n_tok").between(20, 90))
        .withColumn("bin",
          least(expr("((n_dis * 1000) div n_tok) div 100"), lit(9L)))
      val binned = base.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n"), sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
      // densify all 10 deciles so every threshold row exists
      val grid = binned.select(col("source")).distinct()
        .crossJoin(broadcast(
          Tables.documents(s, d).sparkSession.range(0, 10).toDF("bin")))
      val dense = grid.join(binned, Seq("source", "bin"), "left")
        .na.fill(0L, Seq("n", "pos"))
      val wDesc = Window.partitionBy(col("source")).orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wSrc = Window.partitionBy(col("source"))
      dense
        .withColumn("tp", sum(col("pos")).over(wDesc))
        .withColumn("pp", sum(col("n")).over(wDesc))
        .withColumn("fp", col("pp") - col("tp"))
        .withColumn("npos", sum(col("pos")).over(wSrc))
        .withColumn("fn", col("npos") - col("tp"))
        .withColumn("precision_pm",
          when(col("pp") === 0, 0L).otherwise(expr("(1000 * tp) div pp")))
        .withColumn("recall_pm",
          when(col("npos") === 0, 0L).otherwise(expr("(1000 * tp) div npos")))
        .select(col("source"), col("bin").cast("long").as("threshold_bin"),
          col("tp"), col("fp"), col("fn"), col("precision_pm"), col("recall_pm"))
        .orderBy("source", "threshold_bin")
    }),

    // Goodman–Kruskal λ (Stats.gkLambda) between lang and source: the
    // proportional-reduction-in-error association — "how much better
    // do I predict a doc's language knowing its source" (and the
    // reverse) — pure count maxima, no χ², both directions emitted.
    "q_gk_lambda" -> ((s, d) => {
      Stats.gkLambda(Tables.documents(s, d), "source", "lang")
    }),

    // Hoover (Robin Hood) index (Stats.hoover) of per-customer spend
    // within each nation — the L1 inequality member next to q_gini
    // (pair-based) and q_hhi (quadratic): the share of revenue that
    // would have to move between customers to equalize. One window
    // pass + one aggregate, never a pair.
    "q_hoover" -> ((s, d) => {
      val spend = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      Stats.hoover(spend, Seq("n_name"), "cents")
        .orderBy("n_name")
    }),

    // Atkinson inequality index at ε = 2 per nation — the WELFARE
    // member of the battery (Gini counts pairs, Hoover moves mass,
    // Atkinson asks how much total income society would give up for
    // equality, with ε=2 weighting the poor heavily): A₂ = 1 −
    // n²/(S·Σ1/xᵢ). The harmonic sum is the only non-integer piece,
    // so each reciprocal FLOORS once at ×10¹² (stated rendering:
    // T = Σ (10¹² div xᵢ), deterministic term-by-term, then ONE
    // division) — no doubles, no logs (which is why ε=2 and not the
    // Theil/ε=1 entropy form). Zero/negative spenders are excluded
    // LOUDLY via the census column. One aggregate after the shared
    // per-customer spend frame.
    "q_atkinson" -> ((s, d) => {
      val spend = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))
      spend.groupBy(col("n_name"))
        .agg(sum(when(col("x") > 0, 1L).otherwise(0L)).as("n"),
          sum(when(col("x") <= 0, 1L).otherwise(0L)).as("n_nonpos"),
          sum(when(col("x") > 0, col("x")).otherwise(0L)).as("total"),
          sum(when(col("x") > 0, expr("1000000000000 div x")).otherwise(0L))
            .as("__t"))
        .withColumn("a2_pm",
          when(col("n") === 0 || col("total") === 0 || col("__t") === 0, 0L)
            .otherwise(lit(1000L) - expr(
              """(CAST(1000 AS DECIMAL(38,0)) * n * n * 1000000000000)
                 div (CAST(total AS DECIMAL(38,0)) * __t)""")))
        .select(col("n_name"), col("n"), col("n_nonpos"), col("total"),
          col("a2_pm"))
        .orderBy("n_name")
    }),

    // Peaks-over-threshold tail census (the extreme-value-theory
    // intake audit, Pickands 1975 before any GPD fit): per nation,
    // daily revenue exceedances over the empirical p90 — threshold =
    // the EXACT lower order statistic at rank ⌈0.9·n⌉ (no
    // interpolation, stated), exceedance count, mean excess as one
    // floored per-mille (the quantity whose linearity in the
    // threshold justifies a GPD tail at all), and the max excess.
    // Heavy-tail triage that needs no logs and no fitting; per-nation
    // rank windows over bounded key frames.
    "q_pot" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("o_orderdate"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev"))
      val wKey = Window.partitionBy(col("n_name"))
      val wOrd = Window.partitionBy(col("n_name"))
        .orderBy(col("rev").asc, col("o_orderdate").asc)
      val ranked = daily
        .withColumn("__n", count(lit(1)).over(wKey))
        .withColumn("__r", row_number().over(wOrd))
        .localCheckpoint(true) // nation × day rows; threshold + census legs share it
      // threshold = the order statistic at rank ⌈0.9·n⌉ exactly
      val thr = ranked
        .filter(col("__r") === expr("(__n * 9 + 9) div 10"))
        .select(col("n_name"), col("rev").as("thr"))
      ranked.join(broadcast(thr), Seq("n_name"))
        .groupBy(col("n_name"))
        .agg(max(col("__n")).as("n_days"), max(col("thr")).as("threshold"),
          sum(when(col("rev") > col("thr"), 1L).otherwise(0L)).as("n_exceed"),
          sum(when(col("rev") > col("thr"), col("rev") - col("thr"))
            .otherwise(0L)).as("__excess"),
          max(when(col("rev") > col("thr"), col("rev") - col("thr"))
            .otherwise(0L)).as("max_excess"))
        .withColumn("mean_excess_x1000",
          when(col("n_exceed") === 0, 0L).otherwise(expr(
            "(CAST(1000 AS DECIMAL(38,0)) * __excess) div n_exceed")))
        .select(col("n_name"), col("n_days"), col("threshold"),
          col("n_exceed"), col("mean_excess_x1000"), col("max_excess"))
        .orderBy("n_name")
    }),

    // Lorenz asymmetry coefficient (Damgaard & Weiner 2000) per
    // nation: WHICH tail drives the inequality q_gini only sizes —
    // S = F(μ) + L(μ) (unit share below the mean + mass share below
    // the mean), < 1000 = driven by many small spenders, > 1000 = by
    // few giants. Strict-below-mean by cross-multiplication x·n < T
    // (the exact no-interpolation convention, stated); two shares,
    // two truncating divisions.
    "q_lorenz_asym" -> ((s, d) => {
      val spend = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))
      val wKey = org.apache.spark.sql.expressions.Window.partitionBy(col("n_name"))
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      spend
        .withColumn("__n", count(lit(1)).over(wKey))
        .withColumn("__t", sum(col("x")).over(wKey))
        .withColumn("__below", col("x").cast(dec) * col("__n") < col("__t"))
        .groupBy(col("n_name"))
        .agg(max(col("__n")).as("n"), max(col("__t")).as("total"),
          sum(when(col("__below"), 1L).otherwise(0L)).as("n_below"),
          sum(when(col("__below"), col("x")).otherwise(0L)).as("mass_below"))
        .withColumn("s_x1000",
          when(col("n") === 0 || col("total") === 0, 0L)
            .otherwise(
              expr("(CAST(1000 AS DECIMAL(38,0)) * n_below) div n") +
              expr("(CAST(1000 AS DECIMAL(38,0)) * mass_below) div total")))
        .orderBy("n_name")
    }),

    // Palma and 20:20 share ratios (Stats.palmaRatios) on the same
    // per-customer spend frame: WHERE the inequality lives — top-decile
    // vs bottom-40% mass (Palma) and quintile tails — the localized
    // companions to q_gini/q_hoover's one-number views. Deterministic
    // (cents, custkey) rank order, complementary floor cuts, exact
    // DECIMAL sums.
    "q_palma" -> ((s, d) => {
      val spend = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("c_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      Stats.palmaRatios(spend, Seq("n_name"), "cents", "c_custkey")
        .orderBy("n_name")
    }),

    // Bowley skewness + Moors kurtosis (Stats.quantileShape) of order
    // value per nation: the moment-free SHAPE diagnostics (octile
    // ranks, no fourth powers) next to q_outliers' fences and
    // q_trimmed_mean's robust center — is the spend distribution
    // right-skewed and heavy-tailed enough to justify them?
    "q_bowley_moors" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      Stats.quantileShape(o, Seq("n_name"), "cents", "o_orderkey")
        .orderBy("n_name")
    }),

    // Sample L-moments (Stats.lMoments) of order value per nation in
    // KILODOLLARS: L-scale, L-CV, L-skewness t3, L-kurtosis t4 — the
    // linear-in-order-statistics shape battery (Hosking 1990) that
    // stays finite and robust where classic third/fourth moments
    // explode, next to q_bowley_moors' octile diagnostics (L-moments
    // use EVERY rank, not eight of them). All falling-factorial rank
    // weights fold off the value spine via closed-form prefix
    // polynomials kept UNDIVIDED until the final floored divisions —
    // see the operator scaladoc; the k$ grid keeps n⁴·x inside
    // DECIMAL(38,0) at 100× (the q_variance_ratio discipline).
    "q_lmoments" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          expr("CAST(round(o_totalprice) AS BIGINT) div 1000").as("kusd"))
      Stats.lMoments(o, Seq("n_name"), "kusd")
        .orderBy("n_name")
    }),

    // Pairwise total-variation matrix (Stats.pairwiseTotalVariation)
    // between source language mixes: WHICH sources' mixes disagree and
    // by how much (plus the single worst language gap) — the
    // corpus-composition drift audit, bounded cells end to end.
    "q_pairwise_tv" -> ((s, d) => {
      Stats.pairwiseTotalVariation(Tables.documents(s, d), "source", "lang")
        .orderBy("g1", "g2")
    }),

    // Cochran's Q (Stats.cochranQ) per source: do the THREE binary
    // quality filters (length band, repetition, TTR — q_quality_vote's
    // integer signals) pass documents at the same rate? Q exact by
    // integer cross-multiplication; one aggregate folds S, ΣC², ΣR².
    "q_cochran_q" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          gfn.ascii_tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
        // the inner join on mx (built from the exploded tokens) already
        // drops zero-token docs in both engines, but the contract that
        // every divisor is > 0 belongs in the frame, not in a join
        // side-effect — filter explicitly, mirrored in the oracle.
        .filter(col("n_tok") > 0)
        .withColumn("n_dis", size(array_distinct(col("tk"))).cast("long"))
      val mx = base
        .select(col("doc_id"), explode(col("tk")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("mx"))
      val v = base.join(mx, Seq("doc_id"))
        .withColumn("v_len", col("n_tok").between(20, 90))
        .withColumn("v_rep", expr("(mx * 1000) div n_tok") < 150)
        .withColumn("v_ttr", expr("(n_dis * 1000) div n_tok") >= 400)
      Stats.cochranQ(v, Seq("source"), Seq("v_len", "v_rep", "v_ttr"))
        .orderBy("source")
    }),

    // Recall certificate for the binary-quantized ANN: per query, how
    // many of the exact cosine top-5 survive the Hamming-top-20
    // prefilter + rerank. DuckDB replays BOTH legs and the overlap
    // count, so the certified number IS the measured recall — the
    // tuning table for choosing prefilterK at corpus scale.
    "q_ann_recall_hamming" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") >= 5)
      val queries = emb.filter(col("vec_id") < 5)
      val approx = Similarity.signBitTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5, prefilterK = 20)
        .select(col("query_id"), col("neighbor_id"))
      val truth = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      // left join + sum, not semi-join: a zero-recall query must appear
      // as 0 in the tuning table, not vanish (the q_ann_ivf lesson;
      // r15 — the semi-join rendering silently dropped such queries)
      truth.join(approx.withColumn("__hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .orderBy("query_id")
    }),

    // Matryoshka truncation recall: how much of the exact cosine top-5
    // survives searching only the FIRST 16 of 64 dims (the
    // Matryoshka-embedding serving trick — prefix dims carry most of
    // the signal, 4× less I/O and compute per comparison). DuckDB
    // replays BOTH legs on list_slice, so the certified recall IS the
    // measured one — the dimension-budget tuning table next to
    // q_ann_recall_hamming's bit-budget one.
    "q_ann_matryoshka" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") >= 5)
      val queries = emb.filter(col("vec_id") < 5)
      def prefixed(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("emb16", expr("slice(embedding, 1, 16)"))
      val approx = Similarity.bruteForceTopK(prefixed(corpus), prefixed(queries),
        "vec_id", "emb16", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      val truth = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      // left join + sum, not semi-join: a zero-recall query must appear
      // as 0 in the tuning table, not vanish (the q_ann_ivf lesson)
      truth.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .orderBy("query_id")
    }),

    // Persisted sign-bit index (Similarity.writeSignIndex /
    // querySignIndex): the materialized-signature layout the ad-hoc
    // q_ann_hamming computes on the fly — one (id, lo, hi, v) parquet,
    // the prefilter reading 24 B/row via column pruning. Sign words
    // are integers, so the indexed path is bit-identical to ad-hoc
    // and the SAME DuckDB replay oracles it directly (no equality
    // certificate needed, unlike the float IVF index).
    "q_ann_hamming_indexed" -> ((s, d) => {
      val dir = Fixtures.root(d, "embeddings", "sign_index_s5").toString
      val emb = Tables.embeddings(s, d)
      if (!new java.io.File(s"$dir/signs").exists()) {
        Similarity.writeSignIndex(emb.filter(col("vec_id") >= 5),
          "vec_id", "embedding", dir)
      }
      Similarity.querySignIndex(s, dir, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, prefilterK = 20)
        .orderBy("query_id", "rank")
    }),

    // Binary-quantized ANN (Similarity.signBitTopK): 1-bit sign
    // signatures → Hamming top-20 prefilter carrying 24 bytes/row →
    // exact-cosine rerank of ONLY the candidates. The
    // quantize-then-rerank mode every production vector store ships,
    // alongside the IVF/PQ/bruteforce family; DuckDB replays the sign
    // words, the Hamming rank, and the rerank bit-for-bit.
    "q_ann_hamming" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.signBitTopK(emb.filter(col("vec_id") >= 5),
        emb.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id",
        k = 5, prefilterK = 20)
        .orderBy("query_id", "rank")
    }))

  // ------------------------------------------------------------------
  // Oracles
  // ------------------------------------------------------------------

  /** Rounds of the BPE trainer — one constant feeding BOTH the Spark
    * loop and the generated oracle chain, so the two cannot drift.
    */
  private val BpeTrainSteps = 16

  /** q_bpe_train oracle: the full trainer UNROLLED — `n` rounds of
    * (pair-count → best-pair → replace) as a generated CTE chain over
    * the same double-space symbol encoding as [[graft.operators.Bpe.train]].
    * Plain `replace` (left-to-right, non-overlapping) is the greedy
    * merge rule in both engines; no regex lookarounds (RE2-safe).
    */
  /** The shared n-round CTE chain (toks → words0 → … → words`n`, with
    * each round's best pair in b`k`), reused by the trainer oracle
    * (reads every b`k`) and the encoder oracle (reads words`n`).
    */
  private def bpeChainSql(n: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH toks AS (
           SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                     x -> x <> '')) AS w
           FROM documents WHERE text IS NOT NULL),
         words0 AS MATERIALIZED (
           SELECT w, count(*) AS wt,
             '  ' || regexp_replace(w, '(.)', '\1  ', 'g') AS repr
           FROM toks GROUP BY w)"""
    for (k <- 1 to n) {
      sb ++= s""",
         p$k AS (
           SELECT p.s1 AS s1, p.s2 AS s2, wt FROM (
             SELECT wt, unnest(list_transform(range(2, len(syms) + 1),
               i -> struct_pack(s1 := syms[i - 1], s2 := syms[i]))) AS p
             FROM (SELECT wt, string_split(trim(repr), '  ') AS syms
                   FROM words${k - 1}) t$k
             WHERE len(syms) >= 2) u$k),
         b$k AS MATERIALIZED (
           SELECT s1, s2, CAST(sum(wt) AS BIGINT) AS cnt FROM p$k
           GROUP BY s1, s2 ORDER BY cnt DESC, s1, s2 LIMIT 1),
         words$k AS MATERIALIZED (
           SELECT w, wt,
             replace(repr, ' ' || s1 || '  ' || s2 || ' ',
                     ' ' || s1 || s2 || ' ') AS repr
           FROM words${k - 1} CROSS JOIN b$k)"""
    }
    sb.toString
  }

  private def bpeTrainSql(n: Int): String =
    bpeChainSql(n) + (1 to n)
      .map(k => s"SELECT $k AS step, s1 AS b1, s2 AS b2, cnt FROM b$k")
      .mkString("\n         SELECT * FROM (", " UNION ALL ", ") mm ORDER BY step")

  private def bpeEncodeSql(n: Int): String =
    bpeChainSql(n) + s"""
         SELECT w, CAST(wt AS BIGINT) AS wt,
           CAST(len(string_split(trim(repr), '  ')) AS BIGINT) AS n_syms,
           replace(trim(repr), '  ', ' ') AS toks
         FROM words$n ORDER BY w"""

  /** langid oracle generated from the SAME stopword lexicons the Scala
    * operator uses — guarantees the two stay in sync.
    */
  private def langIdSql: String = {
    val counts = TextAnalysis.stopwords.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), t -> list_contains($list, t))) AS cnt_$lang"
    }.mkString(",\n             ")
    val langs = TextAnalysis.stopwords.map(_._1)
    val best = s"greatest(${langs.map("cnt_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN cnt_$l = best AND best > 0 THEN '$l'").mkString(" ")
    s"""WITH c AS (
           SELECT doc_id,
             $counts
           FROM documents),
         b AS (SELECT doc_id, $best AS best, * FROM c)
         SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
         FROM b ORDER BY doc_id"""
  }

  /** q_codeswitch oracle generated from the SAME stopword lexicons as
    * the engine's counts — lexicon drift breaks the hash.
    */
  private def codeSwitchSql: String = {
    val langs = TextAnalysis.stopwords.map(_._1)
    val counts = TextAnalysis.stopwords.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(string_split_regex(lower(text), '[^\\p{L}]+'), t -> list_contains($list, t))) AS BIGINT) AS cnt_$lang"
    }.mkString(",\n             ")
    val hits = langs.map(l => s"CASE WHEN cnt_$l >= 2 THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH c AS (
           SELECT doc_id,
             $counts
           FROM documents)
         SELECT doc_id, ${langs.map("cnt_" + _).mkString(", ")},
           CAST($hits AS BIGINT) AS n_langs_hit,
           ($hits) >= 2 AS is_mixed
         FROM c ORDER BY doc_id"""
  }

  /** q_text_clean oracle generated from the SAME stopword lexicons. */
  private def textCleanSql: String = {
    val all = TextAnalysis.stopwords.flatMap(_._2).distinct
    val list = all.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH c AS (
           SELECT doc_id,
             array_to_string(
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                 t -> len(t) > 0 AND NOT list_contains($list, t)),
               ' ') AS clean_text
           FROM documents)
         SELECT doc_id, clean_text,
           CAST(len(regexp_extract_all(clean_text, '\\S+')) AS BIGINT) AS n_clean_tokens
         FROM c ORDER BY doc_id"""
  }

  /** The BM25 mirror's CTE chain (tokenize → tf/dl → corpus stats →
    * score), shared verbatim by q_bm25 and the lexical leg of
    * q_rrf_fusion so a tokenizer or constant fix can never drift between
    * the certified oracle and the fusion's embedded copy.
    */
  /** The binary-sign ANN CTE chain (sign words → Hamming prefilter →
    * candidate cosine rerank rows `rr(query_id, id, hamming, cosine)`),
    * shared by q_ann_hamming and its recall certificate so the two
    * replays cannot drift. Also exposes `q`/`c` (full query/corpus
    * vector legs) for the certificate's exact-truth side.
    */
  private val annSignCte: String =
    """WITH sig AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_sum(list_transform(range(1, 33),
               i -> CASE WHEN embedding[i] > 0
                    THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END)) AS lo,
             list_sum(list_transform(range(33, 65),
               i -> CASE WHEN embedding[i] > 0
                    THEN CAST(1 AS BIGINT) << (i - 33) ELSE CAST(0 AS BIGINT) END)) AS hi
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv, lo AS q_lo, hi AS q_hi
               FROM sig WHERE vec_id < 5),
         c AS (SELECT vec_id AS id, v, lo AS c_lo, hi AS c_hi
               FROM sig WHERE vec_id >= 5),
         h AS (
           SELECT query_id, id,
             CAST(bit_count(xor(c_lo, q_lo)) + bit_count(xor(c_hi, q_hi))
                  AS BIGINT) AS hamming
           FROM c CROSS JOIN q),
         pre AS (
           SELECT query_id, id, hamming,
             row_number() OVER (PARTITION BY query_id
               ORDER BY hamming, id) AS rn
           FROM h),
         cand AS (SELECT query_id, id, hamming FROM pre WHERE rn <= 20),
         rr AS (
           SELECT cand.query_id AS query_id, cand.id AS id, cand.hamming,
             round(list_cosine_similarity(c.v, q.qv), 6) AS cosine
           FROM cand JOIN c ON cand.id = c.id
                     JOIN q ON cand.query_id = q.query_id)"""

  private val bm25CteSql: String =
    """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
           FROM documents),
         f AS (
           SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
             CAST(len(list_filter(tk, x -> x = 'table')) AS BIGINT) AS tf_table,
             CAST(len(list_filter(tk, x -> x = 'hash')) AS BIGINT) AS tf_hash,
             CAST(len(list_filter(tk, x -> x = 'window')) AS BIGINT) AS tf_window
           FROM tok),
         st AS (
           SELECT count(*) AS n, sum(dl) AS sum_dl,
             sum(CASE WHEN tf_table > 0 THEN 1 ELSE 0 END) AS df_table,
             sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
             sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS df_window
           FROM f),
         sc AS (
           SELECT doc_id, dl, tf_table, tf_hash, tf_window,
               ln(1 + (n - df_table + 0.5) / (df_table + 0.5))
                 * tf_table * 2.2 / (tf_table + 1.2 * (0.25 + 0.75 * dl / (sum_dl * 1.0 / n)))
             + ln(1 + (n - df_hash + 0.5) / (df_hash + 0.5))
                 * tf_hash * 2.2 / (tf_hash + 1.2 * (0.25 + 0.75 * dl / (sum_dl * 1.0 / n)))
             + ln(1 + (n - df_window + 0.5) / (df_window + 0.5))
                 * tf_window * 2.2 / (tf_window + 1.2 * (0.25 + 0.75 * dl / (sum_dl * 1.0 / n)))
             AS score
           FROM f, st)"""

  /** Shared Cramér's-V CTE chain over a caller-provided `src(r, c)`
    * CTE, ending in `cvout(n_total, n_rows, n_cols, chi2_x1000,
    * v2_x1e6)` — ONE replay of the zero-cell-materializing χ² for both
    * q_cramers_v and q_median_test (the composition discipline: the
    * Spark side shares Stats.cramersV the same way).
    */
  private val cramersVSqlChain =
    """cells AS (
         SELECT r, c, CAST(count(*) AS BIGINT) AS o FROM src GROUP BY 1, 2),
       crt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rtv FROM cells GROUP BY 1),
       cct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ctv FROM cells GROUP BY 1),
       ctot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
              CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
              CAST(count(DISTINCT c) AS BIGINT) AS n_cols FROM cells),
       cfl AS (
         SELECT crt.r, cct.c, rtv, ctv, COALESCE(o, 0) AS o
         FROM crt CROSS JOIN cct LEFT JOIN cells
           ON cells.r = crt.r AND cells.c = cct.c),
       ccb AS (
         SELECT CAST((1000 * (CAST(n AS HUGEINT) * o - CAST(rtv AS HUGEINT) * ctv)
           * (CAST(n AS HUGEINT) * o - CAST(rtv AS HUGEINT) * ctv))
           // (CAST(n AS HUGEINT) * rtv * ctv) AS BIGINT) AS contrib
         FROM cfl CROSS JOIN ctot),
       cvout AS (
         SELECT n_total, n_rows, n_cols, chi2_x1000,
           CASE WHEN least(n_rows, n_cols) < 2 THEN 0
                ELSE (chi2_x1000 * 1000)
                  // (n_total * (least(n_rows, n_cols) - 1)) END AS v2_x1e6
         FROM (
           SELECT max(n) AS n_total, max(n_rows) AS n_rows,
             max(n_cols) AS n_cols,
             CAST(sum(contrib) AS BIGINT) AS chi2_x1000
           FROM ccb CROSS JOIN ctot))"""

  /** Shared paired-weekly CTE (`wk(event_type, wk, x, y)`) mirroring
    * [[weekdayWeekendPairs]] — ONE definition feeding both the
    * q_wilcoxon and q_sign_test oracles, the same no-drift discipline
    * as the Spark side's single helper.
    */
  private val pairedWeeklyCte =
    """WITH dl AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1, 2),
       wk AS (
         SELECT event_type, CAST(date_trunc('week', day) AS DATE) AS wk,
           CAST(sum(CASE WHEN isodow(day) <= 5 THEN n ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN isodow(day) >= 6 THEN n ELSE 0 END) AS BIGINT) AS y
         FROM dl GROUP BY 1, 2)"""

  /** The sorted distinct union of TextAnalysis.stopwords rendered as a SQL
    * IN-list — ONE source of truth shared by the q_textrank / q_rake
    * oracles with the Spark side (which folds TextAnalysis.stopwords
    * directly), so a future edit to the Scala lexicons cannot silently
    * desynchronize the two oracle queries (r16 ADVICE #3). IN-list order
    * is irrelevant to the predicate; sorted for readable EXPLAIN output.
    */
  private val stopwordInList: String =
    TextAnalysis.stopwords.flatMap(_._2).distinct.sorted
      .map(w => s"'$w'").mkString(", ")

  def oracleSql: Map[String, String] = Map(
    // The shared distinct (key, 3-gram shingle) substrate of the two
    // queries below, as a DuckDB list comprehension — byte-identical to
    // the engine's index-lambda transform.
    "q_ngram_novelty" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id,
             unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                     for i in range(1, greatest(len(t)-1, 1))]) AS sh
           FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
                 FROM documents)
           WHERE len(t) >= 3),
         f AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
         SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
         FROM sh s JOIN f ON s.sh = f.sh
         GROUP BY 1 ORDER BY s.doc_id""",

    // the 8-cell mask census; n=3 Shapley weights are exact sixths
    "q_shapley_coverage" ->
      """WITH sh AS (
           SELECT DISTINCT source,
             unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                     for i in range(1, greatest(len(t)-1, 1))]) AS sh
           FROM (SELECT source,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
                 FROM documents
                 WHERE source IN ('src0','src1','src2'))
           WHERE len(t) >= 3),
         mk AS (
           SELECT sh,
             max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS b0,
             max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS b1,
             max(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS b2
           FROM sh GROUP BY 1),
         c AS (
           SELECT CAST(sum(b0) AS BIGINT) AS v0,
             CAST(sum(b1) AS BIGINT) AS v1,
             CAST(sum(b2) AS BIGINT) AS v2,
             CAST(sum(CASE WHEN b0 = 1 OR b1 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS v01,
             CAST(sum(CASE WHEN b0 = 1 OR b2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS v02,
             CAST(sum(CASE WHEN b1 = 1 OR b2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS v12,
             CAST(count(*) AS BIGINT) AS vn
           FROM mk)
         SELECT u.source, u.v_single, u.shap_x6, c.vn AS v_all
         FROM c, LATERAL (VALUES
           ('src0', v0, 2*v0 + (v01 - v1) + (v02 - v2) + 2*(vn - v12)),
           ('src1', v1, 2*v1 + (v01 - v0) + (v12 - v2) + 2*(vn - v02)),
           ('src2', v2, 2*v2 + (v02 - v0) + (v12 - v1) + 2*(vn - v01)))
           AS u(source, v_single, shap_x6)
         ORDER BY u.source""",

    "q_source_overlap" ->
      """WITH sh AS (
           SELECT DISTINCT source,
             unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                     for i in range(1, greatest(len(t)-1, 1))]) AS sh
           FROM (SELECT source,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
                 FROM documents
                 WHERE source IN ('src0','src1','src2','src3','src4'))
           WHERE len(t) >= 3),
         c AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
         p AS (
           SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
           GROUP BY 1, 2)
         SELECT p.src_a, p.src_b, p.n_shared, ca.n AS n_a, cb.n AS n_b
         FROM p
           JOIN c ca ON p.src_a = ca.source
           JOIN c cb ON p.src_b = cb.source
         ORDER BY p.src_a, p.src_b""",

    // The greedy unrolled: wN picks round N's winner, cN accumulates its
    // shingles, gN+1 recounts gains over the uncovered remainder.
    "q_set_cover" ->
      """WITH td AS (
           SELECT DISTINCT doc_id,
             unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                     for i in range(1, greatest(len(t)-1, 1))]) AS sh
           FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
                 FROM documents WHERE doc_id < 100)
           WHERE len(t) >= 3),
         w1 AS (SELECT doc_id, count(*) AS gain FROM td GROUP BY 1
                ORDER BY gain DESC, doc_id LIMIT 1),
         c1 AS (SELECT DISTINCT sh FROM td
                WHERE doc_id IN (SELECT doc_id FROM w1)),
         g2 AS (SELECT doc_id, count(*) AS gain FROM td
                WHERE sh NOT IN (SELECT sh FROM c1) GROUP BY 1),
         w2 AS (SELECT doc_id, gain FROM g2 ORDER BY gain DESC, doc_id LIMIT 1),
         c2 AS (SELECT sh FROM c1 UNION
                SELECT DISTINCT sh FROM td
                WHERE doc_id IN (SELECT doc_id FROM w2)),
         g3 AS (SELECT doc_id, count(*) AS gain FROM td
                WHERE sh NOT IN (SELECT sh FROM c2) GROUP BY 1),
         w3 AS (SELECT doc_id, gain FROM g3 ORDER BY gain DESC, doc_id LIMIT 1)
         SELECT CAST(1 AS INTEGER) AS round, doc_id, gain FROM w1
         UNION ALL SELECT 2, doc_id, gain FROM w2
         UNION ALL SELECT 3, doc_id, gain FROM w3
         ORDER BY round""",

    "q_name_similarity" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
         SELECT a.p_name AS name_a, b.p_name AS name_b,
           round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
         FROM n a JOIN n b ON a.p_name < b.p_name
         WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.8
         ORDER BY name_a, name_b""",

    // Parallel unnests zip in DuckDB, giving the 0-based positions
    // posexplode emits; list(... ORDER BY) pins the posting head.
    "q_inverted_index" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
           FROM documents),
         p AS (
           SELECT doc_id, unnest(t) AS tok,
             unnest(range(0, len(t))) AS pos
           FROM toks)
         SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df_docs,
           count(*) AS n_postings,
           array_to_string(list(doc_id || ':' || pos ORDER BY doc_id, pos)[1:3], ',')
             AS head_postings
         FROM p GROUP BY tok ORDER BY tok""",

    // DuckDB spells IGNORE NULLS inside the call parens (the
    // q_window_ignore_nulls dialect note); epoch_us mirrors unix_micros
    // exactly.
    "q_attribution" ->
      """WITH t AS (
           SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type IN ('click','view')
                             THEN event_id END IGNORE NULLS) OVER w AS touch_id,
             last_value(CASE WHEN event_type IN ('click','view')
                             THEN event_type END IGNORE NULLS) OVER w AS touch_type,
             epoch_us(ts) - last_value(CASE WHEN event_type IN ('click','view')
                             THEN epoch_us(ts) END IGNORE NULLS) OVER w AS gap_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT event_id AS purchase_id, user_id, touch_id, touch_type, gap_us
         FROM t WHERE event_type = 'purchase' ORDER BY purchase_id""",

    // The q_ngram_jaccard pair CTEs composed with the q_kfold fold
    // arithmetic — one replayed audit.
    "q_fold_leakage" ->
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
           FROM documents WHERE doc_id < 50),
         s AS (
           SELECT doc_id,
             CASE WHEN len(tk) >= 2
                  THEN list_distinct(list_transform(range(1, len(tk)),
                         i -> tk[i] || ' ' || tk[i+1]))
                  WHEN len(tk) = 1 THEN [tk[1]]
                  ELSE CAST([] AS VARCHAR[]) END AS sh
           FROM tok),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.sh, b.sh)) AS n_inter,
             len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS n_union
           FROM s a JOIN s b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, CAST(n_inter AS INTEGER) AS n_inter,
           CAST(n_union AS INTEGER) AS n_union,
           ('0x' || substr(md5(CAST(id_a AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold_a,
           ('0x' || substr(md5(CAST(id_b AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold_b,
           (('0x' || substr(md5(CAST(id_a AS VARCHAR)), 1, 8))::BIGINT % 5 <>
            ('0x' || substr(md5(CAST(id_b AS VARCHAR)), 1, 8))::BIGINT % 5) AS leaks
         FROM p WHERE n_inter * 20 >= n_union AND n_union > 0
         ORDER BY id_a, id_b""",

    "q_edit_distances" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
         SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev,
           CAST(damerau_levenshtein(a.p_name, b.p_name) AS BIGINT) AS dlev,
           CASE WHEN length(a.p_name) = length(b.p_name)
                THEN CAST(hamming(a.p_name, b.p_name) AS BIGINT) END AS ham
         FROM n a JOIN n b ON a.p_name < b.p_name
         WHERE levenshtein(a.p_name, b.p_name) <= 4
         ORDER BY name_a, name_b""",

    "q_robust_scale" ->
      """WITH ranked AS (
           SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
           FROM documents),
         med AS (
           SELECT source, n_chars AS med FROM ranked
           WHERE rk = (n + 1) // 2),
         dev AS (
           SELECT d.doc_id, d.source, d.n_chars, m.med,
             abs(d.n_chars - m.med) AS dev
           FROM documents d JOIN med m USING (source)),
         dr AS (
           SELECT *, row_number() OVER (PARTITION BY source
               ORDER BY dev, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
           FROM dev),
         mad AS (SELECT source, dev AS mad FROM dr WHERE rk = (n + 1) // 2)
         SELECT v.doc_id, v.source, v.n_chars, v.med, v.dev, a.mad
         FROM dev v JOIN mad a USING (source)
         ORDER BY v.doc_id""",

    "q_quantile_norm" ->
      """WITH ranked AS (
           SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS src_rank,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_grp
           FROM documents),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
         spine AS (
           SELECT v, hi - cnt AS lo, hi FROM (
             SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(count(*)) OVER (ORDER BY n_chars) AS BIGINT) AS hi
             FROM documents GROUP BY 1)),
         ti AS (
           SELECT doc_id, source, n_chars, src_rank,
             CASE WHEN n_grp = 1 THEN 0
                  ELSE (src_rank * (n_total - 1)) // (n_grp - 1)
             END AS target_idx
           FROM ranked, t)
         SELECT ti.doc_id, ti.source, ti.n_chars, ti.src_rank,
           ti.target_idx, s.v AS norm_val
         FROM ti JOIN spine s
           ON ti.target_idx >= s.lo AND ti.target_idx < s.hi
         ORDER BY ti.doc_id""",

    "q_interleave" ->
      """WITH idx AS (
           SELECT source,
             CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx
           FROM (SELECT DISTINCT source FROM documents)),
         ns AS (SELECT count(*) AS n_src FROM idx),
         r AS (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1
               AS BIGINT) AS rk
           FROM documents)
         SELECT r.doc_id, r.source, i.src_idx, r.rk,
           r.rk * ns.n_src + i.src_idx AS pos
         FROM r JOIN idx i USING (source), ns
         ORDER BY pos""",

    "q_text_clean" -> textCleanSql,

    // DuckDB accents the same vowels with its own translate, then its
    // utf8proc strip_accents must agree with the engine's NFD→Mn→NFC
    // expression byte for byte (strlen = bytes, like Spark octet_length).
    "q_text_normalize" ->
      """SELECT doc_id,
           strip_accents(translate(text, 'aeiou', 'áèîöü')) AS norm,
           strlen(translate(text, 'aeiou', 'áèîöü')) AS n_bytes_accented,
           strlen(strip_accents(translate(text, 'aeiou', 'áèîöü'))) AS n_bytes_norm
         FROM documents ORDER BY doc_id""",

    // Exact group counts + literal `true`: the hash certifies the
    // percentile_approx sketch's answer re-ranked within its declared
    // rank-error bound on the real data (tie-safe integer check,
    // computed Spark-side — see the query).
    "q_approx_quantile" ->
      """SELECT l_returnflag, count(*) AS n, true AS rank_ok
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    // Exact distinct counts + literal `true` bounds: the hash certifies
    // Spark's HLL++ estimate stayed within 5% relative error per group.
    "q_approx_distinct" ->
      """SELECT l_returnflag,
           count(DISTINCT l_partkey) AS nd_parts,
           count(DISTINCT l_suppkey) AS nd_supps,
           true AS parts_ok, true AS supps_ok
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    // Every count re-derived from the shared [^a-z0-9]+ tokenizer; the
    // PMI threshold is the same cross-multiplied integer comparison in
    // HUGEINT (DuckDB's exact 128-bit), mirroring Spark's DECIMAL(38,0).
    "q_cooccur_pmi" ->
      """WITH tok AS (
           SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '') AS tk
           FROM documents),
         uni AS (SELECT unnest(tk) AS w FROM tok),
         un AS (SELECT w, count(*) AS n_w FROM uni GROUP BY 1),
         tot AS (SELECT count(*) AS n FROM uni),
         big AS (
           SELECT unnest(list_transform(range(1, len(tk)),
                                        i -> tk[i] || ' ' || tk[i+1])) AS bg
           FROM tok),
         bn AS (SELECT bg, count(*) AS n_xy FROM big GROUP BY 1),
         btot AS (SELECT count(*) AS b FROM big),
         j AS (
           SELECT bg, n_xy, split_part(bg, ' ', 1) AS w1,
             split_part(bg, ' ', 2) AS w2
           FROM bn WHERE n_xy >= 10)
         SELECT j.bg AS bigram, j.n_xy, u1.n_w AS n_x, u2.n_w AS n_y,
           CAST(j.n_xy AS HUGEINT) * (SELECT n FROM tot) * (SELECT n FROM tot)
             >= CAST((SELECT b FROM btot) AS HUGEINT) * u1.n_w * u2.n_w
             AS pmi_ge_0
         FROM j
           JOIN un u1 ON j.w1 = u1.w
           JOIN un u2 ON j.w2 = u2.w
         ORDER BY bigram""",

    // The full scrub replayed: same tokenizer, same >= 4-distinct-doc
    // frequent-trigram set, same position coverage, and the surviving
    // tokens re-joined in order — the reassembled strings themselves are
    // hashed, not just the counts.
    "q_boilerplate_scrub" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id, s.i AS i, s.g AS gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
               i -> struct_pack(i := i, g := array_to_string(tk[i:i+2], ' ')))) AS s
             FROM tok WHERE len(tk) >= 3)),
         freq AS (
           SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 4),
         cov AS (
           SELECT DISTINCT doc_id, p FROM (
             SELECT doc_id, unnest(range(i, i + 3)) AS p
             FROM g WHERE gram IN (SELECT gram FROM freq))),
         t2 AS (
           SELECT doc_id, s.i AS i, s.w AS w FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
               i -> struct_pack(i := i, w := tk[i]))) AS s
             FROM tok)),
         kept AS (
           SELECT t2.doc_id, t2.i, t2.w FROM t2
           ANTI JOIN cov ON t2.doc_id = cov.doc_id AND t2.i = cov.p),
         agg AS (
           SELECT doc_id, count(*) AS n_kept,
             string_agg(w, ' ' ORDER BY i) AS scrubbed_text
           FROM kept GROUP BY doc_id)
         SELECT tok.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(tk) - coalesce(n_kept, 0) AS BIGINT) AS n_scrubbed,
           coalesce(scrubbed_text, '') AS scrubbed_text
         FROM tok LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",

    // Integer familiarity: corpus bigram counts >= 30 (a data-dependent
    // constant — the synthetic corpus's median bigram count is 29, so
    // the cut genuinely splits), per-doc familiar/total pair, majority
    // test as 2·familiar >= total — never a float ratio.
    "q_bigram_familiarity" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL),
         bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(tk)),
             i -> tk[i] || ' ' || tk[i+1])) AS gram
           FROM tok WHERE len(tk) >= 2),
         fam AS (
           SELECT gram FROM bg GROUP BY gram HAVING count(*) >= 30),
         pd AS (
           SELECT doc_id, count(*) AS n_bigrams,
             count(*) FILTER (WHERE gram IN (SELECT gram FROM fam)) AS n_familiar
           FROM bg GROUP BY doc_id)
         SELECT tok.doc_id,
           coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(n_familiar, 0) AS n_familiar,
           coalesce(n_familiar, 0) * 2 >= coalesce(n_bigrams, 0) AS familiar_majority
         FROM tok LEFT JOIN pd USING (doc_id) ORDER BY doc_id""",

    // The full bigram LM replayed: same tokenizer, same c12/c1/V model,
    // same (c12+1)·m·V < c1+V band tests — HUGEINT-safe via the BIGINT
    // casts on the CASE sums.
    "q_lm_surprise" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents),
         b AS (
           SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(tk)),
               i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS s
             FROM t WHERE len(tk) >= 2)),
         c12 AS (SELECT w1, w2, count(*) AS n12 FROM b GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS n1 FROM b GROUP BY 1),
         v AS (SELECT count(DISTINCT w2) AS vv FROM b),
         per AS (
           SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(CASE WHEN (n12 + 1) * 1 * vv < n1 + vv THEN 1 ELSE 0 END) AS BIGINT) AS n_below_u,
             CAST(sum(CASE WHEN (n12 + 1) * 2 * vv < n1 + vv THEN 1 ELSE 0 END) AS BIGINT) AS n_below_u2
           FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
           GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(n_below_u, 0) AS n_below_u,
           coalesce(n_below_u2, 0) AS n_below_u2,
           coalesce(n_below_u, 0) * 2 >= coalesce(n_bigrams, 0) AS mostly_surprising
         FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""",

    // Every Gopher rule re-decided from scratch: token list, alnum char
    // count, distinct-word and stopword-intersection sizes, and the four
    // integer-window / cross-multiplication / majority tests.
    "q_gopher_rules" ->
      """WITH t AS (
           SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                            x -> x <> '') AS tk
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS n_alnum_chars,
             CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct_words,
             CAST(len(list_intersect(list_distinct(tk),
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stopwords
           FROM t)
         SELECT doc_id, n_words, n_alnum_chars, n_distinct_words, n_stopwords,
           n_words >= 30 AND n_words <= 90 AS rule_word_count,
           n_alnum_chars >= n_words * 4 AND n_alnum_chars <= n_words * 5 AS rule_word_length,
           n_stopwords >= 2 AS rule_stopwords,
           n_distinct_words * 2 >= n_words AS rule_repetition,
           (n_words >= 30 AND n_words <= 90)
             AND (n_alnum_chars >= n_words * 4 AND n_alnum_chars <= n_words * 5)
             AND n_stopwords >= 2
             AND n_distinct_words * 2 >= n_words AS pass
         FROM m ORDER BY doc_id""",

    // The full winnowing selection replayed: same md5 4-gram hashes,
    // same (h, -pos) struct-min over the same w=4 frame, same window-
    // start filter, then the per-doc profile including the max-gap
    // density certificate.
    "q_winnow" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, CAST(len(tk) - 3 AS BIGINT) AS n_grams, s.p AS pos, md5(s.g) AS h
           FROM (
             SELECT doc_id, tk, unnest(list_transform(range(1, len(tk) - 2),
               i -> struct_pack(p := i - 1,
                 g := tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS s
             FROM t WHERE len(tk) >= 4)),
         w AS (
           SELECT doc_id, n_grams, pos,
             min(struct_pack(h := h, np := -pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
           FROM g),
         sel AS (
           SELECT DISTINCT doc_id, n_grams, CAST(-(m.np) AS BIGINT) AS sel_pos, m.h AS fp
           FROM w WHERE pos <= greatest(n_grams - 4, 0)),
         gaps AS (
           SELECT doc_id, n_grams, sel_pos, fp,
             sel_pos - lag(sel_pos, 1) OVER (PARTITION BY doc_id ORDER BY sel_pos) AS gap
           FROM sel)
         SELECT doc_id, max(n_grams) AS n_grams,
           greatest(max(n_grams) - 4, 0) + 1 AS n_windows,
           CAST(count(DISTINCT sel_pos) AS BIGINT) AS n_sel,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_fp,
           coalesce(max(gap), 0) AS max_gap,
           coalesce(max(gap), 0) <= 4 AS gap_ok
         FROM gaps GROUP BY doc_id ORDER BY doc_id""",

    // The matching step over the same selection: distinct (doc, fp),
    // fp-keyed self-join, >= 3 shared.
    "q_winnow_matches" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, CAST(len(tk) - 3 AS BIGINT) AS n_grams, s.p AS pos, md5(s.g) AS h
           FROM (
             SELECT doc_id, tk, unnest(list_transform(range(1, len(tk) - 2),
               i -> struct_pack(p := i - 1,
                 g := tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS s
             FROM t WHERE len(tk) >= 4)),
         w AS (
           SELECT doc_id, n_grams, pos,
             min(struct_pack(h := h, np := -pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
           FROM g),
         sel AS (
           SELECT DISTINCT doc_id, m.h AS fp
           FROM w WHERE pos <= greatest(n_grams - 4, 0))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY id_a, id_b""",

    // The full encode→decode loop and the per-doc identity certificate
    // replayed.
    "q_vocab_roundtrip" ->
      """WITH ct AS (
           SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         vc AS (SELECT token, count(*) AS freq FROM ct
                WHERE token <> '' GROUP BY token),
         vocab AS (
           SELECT token, CAST(row_number() OVER (ORDER BY freq DESC, token ASC)
             AS BIGINT) AS token_id
           FROM vc QUALIFY token_id <= 1000),
         toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           FROM documents),
         enc AS (
           SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS token_id
           FROM toks t LEFT JOIN vocab v USING (token)),
         dec AS (
           SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_decoded,
             string_agg(v.token, ' ' ORDER BY e.pos) AS decoded
           FROM enc e JOIN vocab v USING (token_id)
           WHERE e.token_id > 0 GROUP BY e.doc_id),
         orig AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
               AS n_tokens,
             array_to_string(list_filter(string_split(text, ' '), x -> x <> ''), ' ')
               AS orig
           FROM documents)
         SELECT o.doc_id, o.n_tokens, coalesce(d.n_decoded, 0) AS n_decoded,
           coalesce(d.n_decoded, 0) = o.n_tokens AND
             coalesce(d.decoded, '') = o.orig AS roundtrip_ok
         FROM orig o LEFT JOIN dec d USING (doc_id) ORDER BY o.doc_id""",

    // Every bucket, every sign, and all 16 conditional sums replayed.
    "q_hash_embed" ->
      """WITH t AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                             x -> x <> '')) AS tok
           FROM documents),
         h AS (
           SELECT doc_id,
             ('0x' || substr(md5('b:' || tok), 1, 8))::BIGINT % 16 AS b,
             CASE WHEN ('0x' || substr(md5('s:' || tok), 1, 8))::BIGINT % 2 = 0
               THEN 1 ELSE -1 END AS sgn
           FROM t)
         SELECT doc_id,
           CAST(sum(CASE WHEN b = 0 THEN sgn ELSE 0 END) AS BIGINT) AS f0,
           CAST(sum(CASE WHEN b = 1 THEN sgn ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN b = 2 THEN sgn ELSE 0 END) AS BIGINT) AS f2,
           CAST(sum(CASE WHEN b = 3 THEN sgn ELSE 0 END) AS BIGINT) AS f3,
           CAST(sum(CASE WHEN b = 4 THEN sgn ELSE 0 END) AS BIGINT) AS f4,
           CAST(sum(CASE WHEN b = 5 THEN sgn ELSE 0 END) AS BIGINT) AS f5,
           CAST(sum(CASE WHEN b = 6 THEN sgn ELSE 0 END) AS BIGINT) AS f6,
           CAST(sum(CASE WHEN b = 7 THEN sgn ELSE 0 END) AS BIGINT) AS f7,
           CAST(sum(CASE WHEN b = 8 THEN sgn ELSE 0 END) AS BIGINT) AS f8,
           CAST(sum(CASE WHEN b = 9 THEN sgn ELSE 0 END) AS BIGINT) AS f9,
           CAST(sum(CASE WHEN b = 10 THEN sgn ELSE 0 END) AS BIGINT) AS f10,
           CAST(sum(CASE WHEN b = 11 THEN sgn ELSE 0 END) AS BIGINT) AS f11,
           CAST(sum(CASE WHEN b = 12 THEN sgn ELSE 0 END) AS BIGINT) AS f12,
           CAST(sum(CASE WHEN b = 13 THEN sgn ELSE 0 END) AS BIGINT) AS f13,
           CAST(sum(CASE WHEN b = 14 THEN sgn ELSE 0 END) AS BIGINT) AS f14,
           CAST(sum(CASE WHEN b = 15 THEN sgn ELSE 0 END) AS BIGINT) AS f15
         FROM h GROUP BY doc_id ORDER BY doc_id""",

    // Both pair sets and the full-outer classification replayed.
    "q_dedup_agreement" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, CAST(len(tk) - 3 AS BIGINT) AS n_grams, s.p AS pos, md5(s.g) AS h
           FROM (
             SELECT doc_id, tk, unnest(list_transform(range(1, len(tk) - 2),
               i -> struct_pack(p := i - 1,
                 g := tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS s
             FROM t WHERE len(tk) >= 4)),
         w AS (
           SELECT doc_id, n_grams, pos,
             min(struct_pack(h := h, np := -pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
           FROM g),
         sel AS (
           SELECT DISTINCT doc_id, m.h AS fp
           FROM w WHERE pos <= greatest(n_grams - 4, 0)),
         pw AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 3),
         chs AS (
           SELECT DISTINCT doc_id,
             unnest(list_transform(range(0, (len(tk)-1) // 10 + 1),
               i -> md5(array_to_string(tk[i*10+1 : i*10+10], ' ')))) AS fp
           FROM t WHERE len(tk) >= 1),
         pc AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM chs a JOIN chs b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         j AS (
           SELECT coalesce(pw.id_a, pc.id_a) AS ia, coalesce(pw.id_b, pc.id_b) AS ib,
             pw.id_a IS NOT NULL AS in_w, pc.id_a IS NOT NULL AS in_c
           FROM pw FULL OUTER JOIN pc ON pw.id_a = pc.id_a AND pw.id_b = pc.id_b)
         SELECT CASE WHEN in_w AND in_c THEN 'both'
                     WHEN in_w THEN 'winnow_only'
                     ELSE 'chunk_only' END AS status,
           CAST(count(*) AS BIGINT) AS n
         FROM j GROUP BY 1 ORDER BY status""",

    // The per-(ctx, shard) cumsum, window spans, and all three curve
    // rows replayed from one ctx spine.
    "q_ctx_curve" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok,
             doc_id % 8 AS shard
           FROM documents
           WHERE len(regexp_extract_all(text, '\S+')) > 0),
         cx AS (SELECT unnest([128, 256, 512]) AS ctx),
         p AS (
           SELECT ctx, shard, doc_id, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY ctx, shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
           FROM d, cx),
         q AS (
           SELECT ctx, shard, n_tok,
             (end_off - n_tok) // ctx AS first_win,
             (end_off - 1) // ctx AS last_win
           FROM p),
         sh AS (
           SELECT ctx, shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN first_win <> last_win THEN 1 ELSE 0 END) AS BIGINT)
               AS n_split,
             CAST(max(last_win) + 1 AS BIGINT) AS shard_windows,
             CAST(sum(n_tok) AS BIGINT) AS shard_tokens
           FROM q GROUP BY 1, 2)
         SELECT CAST(ctx AS BIGINT) AS ctx, CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(n_split) AS BIGINT) AS n_split,
           CAST((sum(n_split) * 1000) // sum(n_docs) AS BIGINT) AS split_pm,
           CAST(sum(shard_windows) AS BIGINT) AS n_windows,
           CAST(sum(shard_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(shard_windows) * ctx - sum(shard_tokens) AS BIGINT) AS tail_waste
         FROM sh GROUP BY ctx ORDER BY ctx""",

    // Both corrected isqrt layers, the weight table, and every share
    // division replayed.
    "q_neg_sampling" ->
      """WITH f AS (
           SELECT tok AS token, CAST(count(*) AS BIGINT) AS freq FROM (
             SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                       x -> x <> '')) AS tok
             FROM documents)
           GROUP BY 1 HAVING count(*) >= 20),
         s1 AS (
           SELECT token, freq,
             CAST(floor(sqrt(CAST(freq AS DOUBLE))) AS BIGINT) AS r0
           FROM f),
         s1c AS (
           SELECT token, freq,
             CASE WHEN (r0+1)*(r0+1) <= freq THEN r0+1
                  WHEN r0*r0 > freq THEN r0-1 ELSE r0 END AS sq
           FROM s1),
         s2 AS (
           SELECT token, freq, freq * sq AS x,
             CAST(floor(sqrt(CAST(freq * sq AS DOUBLE))) AS BIGINT) AS r0
           FROM s1c),
         s2c AS (
           SELECT token, freq,
             CASE WHEN (r0+1)*(r0+1) <= x THEN r0+1
                  WHEN r0*r0 > x THEN r0-1 ELSE r0 END AS w34
           FROM s2),
         t AS (SELECT CAST(sum(w34) AS BIGINT) AS tw, CAST(sum(freq) AS BIGINT) AS tf
               FROM s2c)
         SELECT token, freq, w34,
           (w34 * 1000) // tw AS prob_pm,
           (freq * 1000) // tf AS natural_pm,
           (w34 * 1000) // tw > (freq * 1000) // tf AS boosted
         FROM s2c, t ORDER BY token""",

    // All three integer labeler tests and the majority vote replayed.
    "q_weak_labels" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS tk
           FROM documents),
         m AS (
           SELECT doc_id, CAST(len(tk) AS BIGINT) AS nw,
             CAST(len(list_distinct(tk)) AS BIGINT) AS nd
           FROM t)
         SELECT doc_id,
           nw >= 30 AND nw <= 90 AS l_wc,
           nd * 2 >= nw AS l_rep,
           nd * 5 >= nw * 2 AS l_div,
           (CASE WHEN nw >= 30 AND nw <= 90 THEN 1 ELSE 0 END +
            CASE WHEN nd * 2 >= nw THEN 1 ELSE 0 END +
            CASE WHEN nd * 5 >= nw * 2 THEN 1 ELSE 0 END) >= 2 AS majority
         FROM m ORDER BY doc_id""",

    // The agreement census, both marginals, and the exact rational κ
    // (floor ×1000) replayed.
    "q_kappa" ->
      """WITH t AS (
           SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '') AS tk
           FROM documents),
         m AS (
           SELECT CAST(len(tk) AS BIGINT) AS nw,
             CAST(len(list_distinct(tk)) AS BIGINT) AS nd
           FROM t),
         l AS (
           SELECT nw >= 30 AND nw <= 90 AS a, nd * 2 >= nw AS b FROM m),
         s AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS a1,
             CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS b1
           FROM l),
         k AS (
           SELECT *, a1 * b1 + (n - a1) * (n - b1) AS pe_num FROM s)
         SELECT n, n_agree, a1, b1,
           n * n_agree - pe_num AS kappa_num,
           n * n - pe_num AS kappa_den,
           ((n * n_agree - pe_num) * 1000) // (n * n - pe_num) AS kappa_x1000
         FROM k""",

    // Σ|a−b| observed; expected weighted disagreement unfolded from
    // the marginals; one signed cross-multiplied division
    "q_weighted_kappa" ->
      """WITH t AS (
           SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '') AS tk
           FROM documents),
         m AS (
           SELECT CAST(len(tk) AS BIGINT) AS nw,
             CAST(len(list_distinct(tk)) AS BIGINT) AS nd
           FROM t),
         l AS (
           SELECT CASE WHEN nw < 40 THEN 0 WHEN nw < 70 THEN 1 ELSE 2 END
               AS a,
             CASE WHEN nd * 10 < nw * 5 THEN 0
                  WHEN nd * 10 < nw * 7 THEN 1 ELSE 2 END AS b
           FROM m),
         s AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(abs(a - b)) AS BIGINT) AS ow,
             CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r0,
             CAST(sum(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
             CAST(sum(CASE WHEN a = 2 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
             CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
           FROM l),
         e AS (
           SELECT *, r0 * (c1 + 2 * c2) + r1 * (c0 + c2)
             + r2 * (2 * c0 + c1) AS ew
           FROM s)
         SELECT n, ow, r0, r1, r2, c0, c1, c2, ew,
           CAST(CASE WHEN ew = 0 THEN 0
                ELSE 1000 - (CAST(1000 AS HUGEINT) * n * ow) // ew
                END AS BIGINT) AS kw_x1000
         FROM e""",

    // Both sketches cell-for-cell, the per-row inner products over the
    // full d-row spine, and the exact count-table product replayed.
    "q_join_est" ->
      """WITH ek AS (SELECT user_id AS k FROM events WHERE user_id IS NOT NULL),
         ok AS (SELECT CAST(o_custkey AS BIGINT) AS k FROM orders WHERE o_custkey IS NOT NULL),
         ea AS (
           SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT % 1024 AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
           FROM ek, unnest([0, 1, 2]) AS t(j) GROUP BY 1, 2),
         ob AS (
           SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT % 1024 AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
           FROM ok, unnest([0, 1, 2]) AS t(j) GROUP BY 1, 2),
         ip AS (
           SELECT s.j, coalesce(sum(ea.cnt * ob.cnt), 0) AS ip
           FROM unnest([0, 1, 2]) AS s(j)
           LEFT JOIN ea ON ea.j = s.j
           LEFT JOIN ob ON ob.j = s.j AND ob.bucket = ea.bucket
           GROUP BY s.j),
         est AS (SELECT CAST(min(ip) AS BIGINT) AS join_est FROM ip),
         ex AS (
           SELECT CAST(sum(fa * fb) AS BIGINT) AS n_exact FROM
             (SELECT k, count(*) AS fa FROM ek GROUP BY k) a
             JOIN (SELECT k, count(*) AS fb FROM ok GROUP BY k) b USING (k))
         SELECT n_exact, join_est, join_est >= n_exact AS never_under,
           CAST((join_est * 100) // n_exact AS BIGINT) AS rel_x100
         FROM est, ex""",

    // The interval build and the as-of point filter replayed.
    "q_time_travel" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
           FROM events WHERE user_id < 50),
         c AS (
           SELECT *,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS prev_type
           FROM e),
         ch AS (
           SELECT user_id, ts_us, event_id, event_type FROM c
           WHERE prev_type IS NULL OR prev_type <> event_type),
         v AS (
           SELECT user_id, event_type, ts_us AS valid_from_us,
             coalesce(lead(ts_us) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id), 9223372036854775807) AS valid_to_us,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS BIGINT) AS version
           FROM ch)
         SELECT user_id, version, event_type, valid_from_us
         FROM v
         WHERE valid_from_us <= 1705276800000000 AND valid_to_us > 1705276800000000
         ORDER BY user_id""",

    // Both rankings (the proven BM25 mirror + the integer tf·idf cut)
    // and the bounded Kendall pair census replayed.
    "q_rank_corr" ->
      s"""$bm25CteSql,
         ra AS (
           SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_a
           FROM sc WHERE score > 0 QUALIFY rank_a <= 20),
         t AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                             x -> x <> '')) AS tok
           FROM documents),
         hits AS (SELECT doc_id, tok FROM t WHERE tok IN ('table', 'hash', 'window')),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
         dfs AS (
           SELECT tok, CAST((n_corpus * 1000000) // count(DISTINCT doc_id) AS BIGINT)
             AS idf_x1e6
           FROM hits, nn GROUP BY tok, n_corpus),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM hits GROUP BY 1, 2),
         rb AS (
           SELECT doc_id,
             CAST(row_number() OVER (ORDER BY sum(tf * idf_x1e6) DESC, doc_id)
               AS BIGINT) AS rank_b
           FROM tf JOIN dfs USING (tok) GROUP BY doc_id
           QUALIFY rank_b <= 20),
         co AS (SELECT ra.doc_id, rank_a, rank_b FROM ra JOIN rb USING (doc_id)),
         p AS (
           SELECT CASE WHEN (x.rank_a - y.rank_a) * (x.rank_b - y.rank_b) > 0
             THEN 1 ELSE 0 END AS conc
           FROM co x JOIN co y ON x.doc_id < y.doc_id),
         mm AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM co)
         SELECT mm.n_common, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(conc) AS BIGINT) AS n_conc,
           CAST(count(*) - sum(conc) AS BIGINT) AS n_disc,
           CAST(((sum(conc) - (count(*) - sum(conc))) * 1000) // count(*) AS BIGINT)
             AS tau_x1000
         FROM p, mm GROUP BY mm.n_common""",

    // The change detection, interval closing, and version numbering
    // replayed on the same (ts, id) total order.
    "q_scd2" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
           FROM events WHERE user_id < 50),
         c AS (
           SELECT *,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS prev_type
           FROM e),
         ch AS (
           SELECT user_id, ts_us, event_id, event_type FROM c
           WHERE prev_type IS NULL OR prev_type <> event_type),
         v AS (
           SELECT user_id, event_type, ts_us AS valid_from_us,
             coalesce(lead(ts_us) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id), -1) AS valid_to_us,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS BIGINT) AS version
           FROM ch)
         SELECT user_id, version, event_type, valid_from_us, valid_to_us,
           valid_to_us = -1 AS is_current
         FROM v ORDER BY user_id, version""",

    // The weight table, both sums, and the squared-sum division
    // replayed.
    "q_kish_neff" ->
      """WITH lw AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
                     FROM documents GROUP BY lang),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
         wdoc AS (
           SELECT d.source, (n_total * 1000) // (n_lang * 5) AS w
           FROM documents d JOIN lw USING (lang), n)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS sum_w,
           CAST(sum(w * w) AS BIGINT) AS sum_w2,
           CAST((CAST(sum(w) AS BIGINT) * CAST(sum(w) AS BIGINT) * 100) //
             CAST(sum(w * w) AS BIGINT) AS BIGINT) AS neff_x100
         FROM wdoc GROUP BY source ORDER BY source""",

    // The bounded rank spine and the exact integer Gini formula
    // replayed for both dimensions.
    "q_gini" ->
      """WITH s AS (
           SELECT 'source' AS dimension, source AS g, CAST(count(*) AS BIGINT) AS x
           FROM documents GROUP BY 2
           UNION ALL
           SELECT 'lang', lang, CAST(count(*) AS BIGINT) FROM documents GROUP BY 2),
         r AS (
           SELECT dimension, x,
             CAST(row_number() OVER (PARTITION BY dimension ORDER BY x, g) AS BIGINT) AS i
           FROM s)
         SELECT dimension, CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(x) AS BIGINT) AS n_total,
           CAST(((CAST(sum((i * 2 - 1) * x) AS BIGINT) - count(*) * sum(x)) * 1000) //
             (count(*) * sum(x)) AS BIGINT) AS gini_x1000
         FROM r GROUP BY dimension ORDER BY dimension""",

    // The day spine, the 7-day trailing sums, and the 35n > 6wk burst
    // test replayed.
    "q_bursts" ->
      """WITH d AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, day, n,
             CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS wk,
             count(*) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS nd
           FROM d)
         SELECT event_type, day, n, wk, n * 35 > wk * 6 AS burst
         FROM w WHERE nd = 7 ORDER BY event_type, day""",

    // Every chunk hash, its document frequency, and the per-doc dup
    // fraction replayed.
    "q_chunk_dedup" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents WHERE len(list_filter(string_split_regex(lower(text),
             '[^a-z0-9]+'), x -> x <> '')) >= 1),
         ch AS (
           SELECT doc_id, unnest(list_transform(range(0, (len(tk)-1) // 10 + 1),
             i -> md5(array_to_string(tk[i*10+1 : i*10+10], ' ')))) AS fp
           FROM t),
         dfreq AS (
           SELECT fp, count(DISTINCT doc_id) AS df
           FROM (SELECT DISTINCT doc_id, fp FROM ch) GROUP BY fp)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST((sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT)
             AS dup_pm
         FROM ch JOIN dfreq USING (fp) GROUP BY doc_id ORDER BY doc_id""",

    // The canonical pa < pb < pc extension and the support cut replayed.
    "q_itemsets3" ->
      """WITH li AS (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
         SELECT a.p AS pa, b.p AS pb, c.p AS pc,
           CAST(count(*) AS BIGINT) AS support
         FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
                   JOIN li c ON a.o = c.o AND b.p < c.p
         GROUP BY 1, 2, 3 HAVING count(*) >= 2
         ORDER BY pa, pb, pc""",

    // The full (source × band) grid including absent cells, and the
    // integer L1 division, replayed.
    "q_hist_l1" ->
      """WITH b AS (
           SELECT source,
             least(CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS BIGINT) // 10, 15) AS band
           FROM documents),
         csb AS (SELECT source, band, CAST(count(*) AS BIGINT) AS c_sb
                 FROM b GROUP BY 1, 2),
         cb AS (SELECT band, CAST(sum(c_sb) AS BIGINT) AS c_b FROM csb GROUP BY 1),
         ns AS (SELECT source, CAST(sum(c_sb) AS BIGINT) AS n_s FROM csb GROUP BY 1),
         n AS (SELECT CAST(sum(c_sb) AS BIGINT) AS n FROM csb),
         grid AS (
           SELECT ns.source, cb.band, ns.n_s, cb.c_b, n.n,
             coalesce(csb.c_sb, 0) AS c_sb
           FROM ns CROSS JOIN cb CROSS JOIN n
           LEFT JOIN csb ON csb.source = ns.source AND csb.band = cb.band)
         SELECT source, max(n_s) AS n_docs,
           CAST((sum(abs(c_sb * n - c_b * n_s)) * 1000) // (max(n_s) * max(n))
             AS BIGINT) AS l1_x1000
         FROM grid GROUP BY source ORDER BY source""",

    // The month partitions, the bounded median rank, and both skew
    // figures replayed.
    "q_partition_skew" ->
      """WITH p AS (
           SELECT year(o_orderdate) * 100 + month(o_orderdate) AS part,
             CAST(count(*) AS BIGINT) AS sz
           FROM orders GROUP BY 1),
         r AS (
           SELECT sz, row_number() OVER (ORDER BY sz, part) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n_parts
           FROM p)
         SELECT max(n_parts) AS n_parts, CAST(sum(sz) AS BIGINT) AS n_rows,
           min(sz) AS min_size, max(sz) AS max_size,
           min(CASE WHEN rk = (n_parts + 1) // 2 THEN sz END) AS median_size,
           CAST((max(sz) * 1000) // sum(sz) AS BIGINT) AS max_share_pm,
           CAST((max(sz) * 100) // min(CASE WHEN rk = (n_parts + 1) // 2 THEN sz END)
             AS BIGINT) AS skew_x100
         FROM r""",

    // Every blocked pair, all three agreement tests, and the integer
    // odds products replayed.
    "q_er_score" ->
      """WITH c AS (
           SELECT CAST(c_custkey AS BIGINT) AS id, c_custkey // 50 AS blk,
             CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS seg,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 50000 AS band
           FROM customer),
         p AS (
           SELECT a.id AS id_a, b.id AS id_b,
             a.nation = b.nation AS agree_nation,
             a.seg = b.seg AS agree_seg,
             a.band = b.band AS agree_band
           FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id),
         s AS (
           SELECT *,
             CAST((CASE WHEN agree_nation THEN 9 ELSE 1 END) *
                  (CASE WHEN agree_seg THEN 9 ELSE 1 END) *
                  (CASE WHEN agree_band THEN 9 ELSE 1 END) AS BIGINT) AS num,
             CAST((CASE WHEN agree_nation THEN 1 ELSE 9 END) *
                  (CASE WHEN agree_seg THEN 1 ELSE 9 END) *
                  (CASE WHEN agree_band THEN 1 ELSE 9 END) AS BIGINT) AS den
           FROM p)
         SELECT id_a, id_b, agree_nation, agree_seg, agree_band, num, den
         FROM s WHERE num > den ORDER BY id_a, id_b""",

    // The cascade closure and both orphan certificates replayed.
    "q_delete_cascade" ->
      """WITH delc AS (SELECT c_custkey FROM customer WHERE c_custkey % 37 = 0),
         delo AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM delc)),
         kepto AS (SELECT * FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM delc)),
         kepti AS (SELECT * FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM delo))
         SELECT metric, n FROM (
           SELECT 'n_cust_del' AS metric, CAST(count(*) AS BIGINT) AS n FROM delc
           UNION ALL
           SELECT 'n_orders_del', CAST(count(*) AS BIGINT) FROM delo
           UNION ALL
           SELECT 'n_items_del', CAST(count(*) AS BIGINT) FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM delo)
           UNION ALL
           SELECT 'orphan_orders', CAST(count(*) AS BIGINT) FROM kepto
             WHERE o_custkey IN (SELECT c_custkey FROM delc)
           UNION ALL
           SELECT 'orphan_items', CAST(count(*) AS BIGINT) FROM kepti
             WHERE l_orderkey IN (SELECT o_orderkey FROM delo))
         ORDER BY metric""",

    // Both layouts' adjacency lags and coherence divisions replayed.
    "q_pack_coherence" ->
      """WITH d AS (
           SELECT doc_id, source, doc_id % 8 AS shard FROM documents),
         lay AS (
           SELECT 'id' AS layout, shard, source,
             lag(source) OVER (PARTITION BY shard ORDER BY doc_id) AS prev_src
           FROM d
           UNION ALL
           SELECT 'source', shard, source,
             lag(source) OVER (PARTITION BY shard ORDER BY source, doc_id)
           FROM d)
         SELECT layout, CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN prev_src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_adjacent,
           CAST(sum(CASE WHEN prev_src = source THEN 1 ELSE 0 END) AS BIGINT)
             AS n_same_source,
           CAST((sum(CASE WHEN prev_src = source THEN 1 ELSE 0 END) * 1000) //
             sum(CASE WHEN prev_src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS coherence_pm
         FROM lay GROUP BY layout, shard ORDER BY layout, shard""",

    // The (freq desc, token asc) top-25 cut and the per-lang OOV rate
    // replayed.
    "q_bpe_oov" ->
      """WITH ct AS (
           SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         vc AS (SELECT token, count(*) AS freq FROM ct
                WHERE token <> '' GROUP BY token),
         vocab AS (
           SELECT token FROM (
             SELECT token, row_number() OVER (ORDER BY freq DESC, token ASC) AS r
             FROM vc) WHERE r <= 25),
         t AS (
           SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN token NOT IN (SELECT token FROM vocab)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST((sum(CASE WHEN token NOT IN (SELECT token FROM vocab)
             THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS oov_pm
         FROM t WHERE token <> ''
         GROUP BY lang ORDER BY lang""",

    // The telescoped falling-factorial products and both per-mille
    // divisions replayed exactly.
    "q_pass_at_k" ->
      """WITH s AS (
           SELECT event_id % 50 AS problem,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 4 = 0 AS pass
           FROM events),
         a AS (
           SELECT problem, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS c
           FROM s GROUP BY problem HAVING count(*) >= 3)
         SELECT problem, n, c,
           CASE WHEN n - c < 3 THEN 1000
                ELSE 1000 - ((n-c) * (n-c-1) * (n-c-2) * 1000) // (n * (n-1) * (n-2))
           END AS pass_at_3_pm,
           (c * 1000) // n AS pass_at_1_pm
         FROM a ORDER BY problem""",

    // The (ts, id) rank cut and the ordered string_agg rendering
    // replayed byte-for-byte.
    "q_chat_assemble" ->
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             event_type || '=' ||
               CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)
               AS content
           FROM events WHERE user_id < 30),
         r AS (
           SELECT *, CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_total,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts_us DESC, event_id DESC) AS rdesc
           FROM e)
         SELECT user_id, max(n_total) AS n_turns_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           string_agg(content, ' | ' ORDER BY ts_us, event_id) AS convo
         FROM r WHERE rdesc <= 8
         GROUP BY user_id ORDER BY user_id""",

    // The projection-only decile, both marginals, the deviation and the
    // isqrt bound all re-derived.
    "q_shuffle_audit" ->
      """WITH d AS (
           SELECT source,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT * 10)
               // 4294967296 AS decile
           FROM documents),
         ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY source),
         g AS (SELECT decile, source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
         sq AS (
           SELECT g.*, n_s,
             CAST(floor(sqrt(CAST(n_s AS DOUBLE))) AS BIGINT) AS r0
           FROM g JOIN ns USING (source)),
         r AS (
           SELECT decile, source, n, n_s, abs(n * 10 - n_s) AS dev,
             (CASE WHEN (r0+1)*(r0+1) <= n_s THEN r0+1
                   WHEN r0*r0 > n_s THEN r0-1 ELSE r0 END) * 30 AS bound
           FROM sq)
         SELECT decile, source, n, n_s, dev, bound, dev <= bound AS ok
         FROM r ORDER BY decile, source""",

    // The winnow pair set (the oracled selection), the recursive
    // min-label closure, and both survivor picks replayed.
    "q_dedup_survivorship" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, CAST(len(tk) - 3 AS BIGINT) AS n_grams, s.p AS pos, md5(s.g) AS h
           FROM (
             SELECT doc_id, tk, unnest(list_transform(range(1, len(tk) - 2),
               i -> struct_pack(p := i - 1,
                 g := tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS s
             FROM t WHERE len(tk) >= 4)),
         w AS (
           SELECT doc_id, n_grams, pos,
             min(struct_pack(h := h, np := -pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
           FROM g),
         sel AS (
           SELECT DISTINCT doc_id, m.h AS fp
           FROM w WHERE pos <= greatest(n_grams - 4, 0)),
         prs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 3),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM prs
           UNION SELECT id_b, id_a FROM prs),
         verts AS (SELECT DISTINCT src AS id FROM edges),
         reach AS (
           SELECT id, id AS m FROM verts
           UNION
           SELECT e.dst AS id, r.m FROM reach r JOIN edges e ON e.src = r.id),
         lab AS (SELECT id, min(m) AS component FROM reach GROUP BY id),
         f AS (
           SELECT doc_id,
             CASE WHEN length(text) = 0 THEN 1.0
                  ELSE CAST(length(text) AS DOUBLE) END AS safe_len,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS n_alpha,
             CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) AS n_punct
           FROM documents),
         qv AS (
           SELECT doc_id AS id,
             CAST(round(round(least(n_tokens / 20.0, 1.0) * 0.3
                   + (n_alpha / safe_len) * 0.5
                   + greatest(0.0, 1.0 - (n_punct / safe_len) * 4.0) * 0.2, 4)
               * 10000) AS BIGINT) AS q
           FROM f),
         m2 AS (SELECT lab.id, lab.component, qv.q FROM lab JOIN qv USING (id))
         SELECT component, CAST(count(*) AS BIGINT) AS size,
           min(id) AS kept_id,
           min(struct_pack(nq := -q, id := id)).id AS best_id,
           CAST(-(min(struct_pack(nq := -q, id := id)).nq) AS BIGINT) AS best_q,
           min(CASE WHEN id = component THEN q END) AS kept_q,
           CAST(-(min(struct_pack(nq := -q, id := id)).nq) AS BIGINT)
             - min(CASE WHEN id = component THEN q END) AS quality_delta_x1e4
         FROM m2 GROUP BY component ORDER BY component""",

    // Every distinct 4-gram, its min-doc first occurrence, and the
    // per-mille novelty all re-derived.
    "q_novelty" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents),
         g AS (
           SELECT DISTINCT doc_id,
             md5(s) AS fp
           FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(tk) - 2),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS s
             FROM t WHERE len(tk) >= 4)),
         f AS (SELECT fp, min(doc_id) AS first_doc FROM g GROUP BY fp)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST((sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000) // count(*)
             AS BIGINT) AS novelty_pm
         FROM g JOIN f USING (fp) GROUP BY doc_id ORDER BY doc_id""",

    // The same deterministic mutation and the full-outer classification
    // replayed.
    "q_dataset_diff" ->
      """WITH a AS (SELECT doc_id, text FROM documents),
         b AS (
           SELECT doc_id,
             CASE WHEN doc_id % 89 = 0 THEN text || ' v2' ELSE text END AS text
           FROM a WHERE doc_id % 97 <> 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, 'added ' || text AS text
           FROM a WHERE doc_id % 101 = 0),
         j AS (
           SELECT coalesce(a.doc_id, b.doc_id) AS id,
             md5(a.text) AS h_before, md5(b.text) AS h_after
           FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id),
         c AS (
           SELECT id,
             CASE WHEN h_before IS NULL THEN 'added'
                  WHEN h_after IS NULL THEN 'removed'
                  WHEN h_before = h_after THEN 'same'
                  ELSE 'changed' END AS status
           FROM j)
         SELECT status, CAST(count(*) AS BIGINT) AS n,
           min(id) AS min_id, max(id) AS max_id
         FROM c GROUP BY status ORDER BY status""",

    // The proven quality arithmetic (q_text_quality), the Gopher
    // conjunction, and the decile cut all replayed.
    "q_quality_calib" ->
      """WITH f AS (
           SELECT doc_id, text,
             CASE WHEN length(text) = 0 THEN 1.0
                  ELSE CAST(length(text) AS DOUBLE) END AS safe_len,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS n_alpha,
             CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) AS n_punct
           FROM documents),
         q AS (
           SELECT doc_id, text,
             CAST(round(round(least(n_tokens / 20.0, 1.0) * 0.3
                   + (n_alpha / safe_len) * 0.5
                   + greatest(0.0, 1.0 - (n_punct / safe_len) * 4.0) * 0.2, 4)
               * 10000) AS BIGINT) AS s
           FROM f),
         g AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS tk,
             text
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS nw,
             CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS na,
             CAST(len(list_distinct(tk)) AS BIGINT) AS nd,
             CAST(len(list_intersect(list_distinct(tk),
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS nst
           FROM g),
         gp AS (
           SELECT doc_id,
             CASE WHEN nw >= 30 AND nw <= 90 AND na >= nw * 4 AND na <= nw * 5
               AND nst >= 2 AND nd * 2 >= nw THEN 1 ELSE 0 END AS gp
           FROM m)
         SELECT least(s // 1000, 9) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(gp) AS BIGINT) AS n_gopher_pass,
           min(s) AS min_score_x1e4, max(s) AS max_score_x1e4
         FROM q JOIN gp USING (doc_id)
         GROUP BY 1 ORDER BY bucket""",

    // The 2-fold md5 assignment, the exact isqrt (±1 correction), and
    // the 3·√n bound replayed per lang.
    "q_srm_check" ->
      """WITH a AS (
           SELECT lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
           FROM documents),
         c AS (
           SELECT lang,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
           FROM a GROUP BY lang),
         s AS (
           SELECT lang, n_a, n_b, n_a + n_b AS n, abs(n_a - n_b) AS diff,
             CAST(floor(sqrt(CAST(n_a + n_b AS DOUBLE))) AS BIGINT) AS r0
           FROM c),
         r AS (
           SELECT lang, n_a, n_b, n, diff,
             CASE WHEN (r0+1)*(r0+1) <= n THEN r0+1
                  WHEN r0*r0 > n THEN r0-1 ELSE r0 END AS r
           FROM s)
         SELECT lang, n_a, n_b, n, diff, r * 3 AS bound, diff > r * 3 AS srm
         FROM r ORDER BY lang""",

    // Every run boundary, run id, run length, and the (−len, token,
    // start) champion re-derived from scratch.
    "q_token_runs" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS t
           FROM documents),
         p AS (
           SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS pos
           FROM tk WHERE len(t) >= 1),
         r AS (
           SELECT doc_id, pos, tok,
             CASE WHEN lag(tok) OVER w IS NULL OR lag(tok) OVER w <> tok
               THEN 1 ELSE 0 END AS nr
           FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         rid AS (
           SELECT doc_id, pos, tok,
             sum(nr) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS run_id
           FROM r),
         runs AS (
           SELECT doc_id, run_id, min(tok) AS tok,
             CAST(count(*) AS BIGINT) AS len, CAST(min(pos) AS BIGINT) AS start
           FROM rid GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(-(min(struct_pack(nl := -len, tok := tok, start := start)).nl)
             AS BIGINT) AS max_run,
           min(struct_pack(nl := -len, tok := tok, start := start)).tok AS run_token,
           min(struct_pack(nl := -len, tok := tok, start := start)).start AS run_start
         FROM runs GROUP BY doc_id ORDER BY doc_id""",

    // Both marginals, the HUGEINT cross-multiplication, the capped
    // per-mille score, and the per-source champion all re-derived.
    "q_source_drift" ->
      """WITH t AS (
           SELECT source, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                             x -> x <> '')) AS tok
           FROM documents),
         cst AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_st FROM t GROUP BY 1, 2),
         ct AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM cst GROUP BY 1),
         ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM cst GROUP BY 1),
         tot AS (SELECT CAST(sum(c_st) AS BIGINT) AS n FROM cst),
         sc AS (
           SELECT cst.source, cst.tok, c_st,
             c_t - c_st AS c_rest, n - n_s AS n_rest, n_s,
             c_st >= 20 AND CAST(c_st AS HUGEINT) * (n - n_s) >
               CAST(c_t - c_st AS HUGEINT) * n_s * 2 AS over,
             CAST(least(CAST(c_st AS HUGEINT) * (n - n_s) * 1000 //
               greatest(CAST(c_t - c_st AS HUGEINT) * n_s, 1), 1000000) AS BIGINT)
               AS score_x1000
           FROM cst JOIN ct USING (tok) JOIN ns USING (source), tot)
         SELECT source, max(n_s) AS n_tokens,
           CAST(sum(CASE WHEN over THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
           min(CASE WHEN over THEN struct_pack(ns := -score_x1000, tok := tok) END).tok
             AS top_token,
           CAST(-(min(CASE WHEN over THEN struct_pack(ns := -score_x1000, tok := tok) END).ns)
             AS BIGINT) AS top_score_x1000
         FROM sc GROUP BY source ORDER BY source""",

    // Every head hash and group roster rebuilt.
    "q_head_dedup" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents)
         SELECT md5(array_to_string(tk[1:8], ' ')) AS head_fp,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS canonical_id, max(doc_id) AS max_id
         FROM t WHERE len(tk) >= 8
         GROUP BY 1 HAVING count(*) > 1 ORDER BY head_fp""",

    // The full span table re-derived: phase, inclusive stride sequence,
    // and the in_bounds certificate.
    "q_span_corruption" ->
      """WITH t AS (
           SELECT doc_id, CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                               x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT doc_id, n_tokens,
           CAST(s AS BIGINT) AS span_start,
           CAST(s + 2 AS BIGINT) AS span_end,
           s + 2 < n_tokens AS in_bounds
         FROM t, unnest(generate_series(doc_id % 20, n_tokens - 3, 20)) AS u(s)
         WHERE n_tokens - 3 >= doc_id % 20
         ORDER BY doc_id, span_start""",

    // Both 60-bit XOR folds rebuilt from the same md5 prefixes.
    "q_corpus_checksum" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT) AS content_xor,
           bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))::BIGINT)
             AS row_xor
         FROM documents GROUP BY source ORDER BY source""",

    // The conjunction, the integer idf table, and the top-20 cut all
    // re-derived; ties break (score desc, doc_id asc) on both engines.
    "q_bool_search" ->
      """WITH t AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                             x -> x <> '')) AS tok
           FROM documents),
         hits AS (SELECT doc_id, tok FROM t WHERE tok IN ('spark', 'vector')),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents),
         dfs AS (
           SELECT tok, CAST((n_corpus * 1000000) // count(DISTINCT doc_id) AS BIGINT)
             AS idf_x1e6
           FROM hits, n GROUP BY tok, n_corpus),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM hits GROUP BY 1, 2),
         scored AS (
           SELECT doc_id, CAST(count(DISTINCT tf.tok) AS BIGINT) AS n_terms,
             CAST(sum(tf * idf_x1e6) AS BIGINT) AS score_x1e6
           FROM tf JOIN dfs USING (tok) GROUP BY doc_id
           HAVING count(DISTINCT tf.tok) = 2)
         SELECT doc_id, n_terms, score_x1e6,
           CAST(row_number() OVER (ORDER BY score_x1e6 DESC, doc_id ASC) AS BIGINT) AS rk
         FROM scored ORDER BY score_x1e6 DESC, doc_id ASC LIMIT 20""",

    // The per-stratum ranking, floor cuts, and partition-law certificate
    // all replayed.
    "q_stratified_split" ->
      """WITH r AS (
           SELECT lang, source, doc_id,
             CAST(row_number() OVER (PARTITION BY lang, source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                        doc_id) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY lang, source) AS BIGINT) AS n
           FROM documents),
         a AS (
           SELECT lang, source,
             CASE WHEN rn * 10 <= n * 8 THEN 'train'
                  WHEN rn * 10 <= n * 9 THEN 'val'
                  ELSE 'test' END AS split
           FROM r)
         SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
           CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) +
             sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) +
             sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) = count(*) AS ok
         FROM a GROUP BY lang, source ORDER BY lang, source""",

    // The df-capped matching step: same selection, fingerprints with
    // doc frequency > 2 removed before the self-join.
    "q_winnow_capped" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, CAST(len(tk) - 3 AS BIGINT) AS n_grams, s.p AS pos, md5(s.g) AS h
           FROM (
             SELECT doc_id, tk, unnest(list_transform(range(1, len(tk) - 2),
               i -> struct_pack(p := i - 1,
                 g := tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS s
             FROM t WHERE len(tk) >= 4)),
         w AS (
           SELECT doc_id, n_grams, pos,
             min(struct_pack(h := h, np := -pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
           FROM g),
         sel AS (
           SELECT DISTINCT doc_id, m.h AS fp
           FROM w WHERE pos <= greatest(n_grams - 4, 0)),
         capped AS (
           SELECT doc_id, fp FROM (
             SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM sel)
           WHERE df <= 2)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY id_a, id_b""",

    // The MOSS report score over the same selection: the matches CTE
    // extended with both per-doc fingerprint counts and the exact
    // integer min-side containment percentage.
    "q_winnow_scores" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, CAST(len(tk) - 3 AS BIGINT) AS n_grams, s.p AS pos, md5(s.g) AS h
           FROM (
             SELECT doc_id, tk, unnest(list_transform(range(1, len(tk) - 2),
               i -> struct_pack(p := i - 1,
                 g := tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS s
             FROM t WHERE len(tk) >= 4)),
         w AS (
           SELECT doc_id, n_grams, pos,
             min(struct_pack(h := h, np := -pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
           FROM g),
         sel AS (
           SELECT DISTINCT doc_id, m.h AS fp
           FROM w WHERE pos <= greatest(n_grams - 4, 0)),
         cnt AS (
           SELECT doc_id, count(*) AS n_fp FROM sel GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
           FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING count(*) >= 3)
         SELECT id_a, id_b, n_shared, ca.n_fp AS n_fp_a, cb.n_fp AS n_fp_b,
           CAST((n_shared * 100) // least(ca.n_fp, cb.n_fp) AS BIGINT) AS containment_pct
         FROM pairs
         JOIN cnt ca ON ca.doc_id = id_a
         JOIN cnt cb ON cb.doc_id = id_b
         ORDER BY id_a, id_b""",

    // The per-source scorecard replayed: the q_gopher_rules predicates
    // composed into a provenance-grouped aggregate with the exact-dup
    // count and integer mean-centitoken figure.
    "q_source_quality" ->
      """WITH t AS (
           SELECT doc_id, source, text,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS tk
           FROM documents),
         m AS (
           SELECT source, text,
             CAST(len(tk) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS n_alnum,
             CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
             CAST(len(list_intersect(list_distinct(tk),
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop
           FROM t),
         agg AS (
           SELECT source,
             count(*) AS n_docs,
             count(*) - count(DISTINCT text) AS n_exact_dups,
             CAST(sum(CASE WHEN n_words >= 30 AND n_words <= 90
               AND n_alnum >= n_words * 4 AND n_alnum <= n_words * 5
               AND n_stop >= 2 AND n_distinct * 2 >= n_words
               THEN 1 ELSE 0 END) AS BIGINT) AS gopher_pass,
             CAST(sum(n_words) AS BIGINT) AS n_tokens
           FROM m GROUP BY source)
         SELECT source, n_docs, n_exact_dups, gopher_pass, n_tokens,
           CAST((n_tokens * 100) // n_docs AS BIGINT) AS mean_tokens_x100
         FROM agg ORDER BY source""",

    // The nucleus cut replayed: same bigram model, same (n12 desc, w2)
    // order, same cum_prev·10 < n1·9 keep rule and coverage check.
    // vocabulary-bounded margins; the single-rational KN form
    "q_kneser_ney" ->
      """WITH t AS (
           SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '') AS tk
           FROM documents),
         b AS (
           SELECT s.w1 AS w1, s.w2 AS w2 FROM (
             SELECT unnest(list_transform(range(1, len(tk)),
               i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS s
             FROM t WHERE len(tk) >= 2)),
         c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                 FROM b GROUP BY 1, 2),
         c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS nf1
                FROM c12 GROUP BY 1),
         nb AS (SELECT w2, CAST(count(*) AS BIGINT) AS nb2
                FROM c12 GROUP BY 1),
         bt AS (SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM c12),
         top AS (SELECT w1, w2, c12 FROM c12
                 ORDER BY c12 DESC, w1 ASC, w2 ASC LIMIT 20)
         SELECT top.w1, top.w2, top.c12, c1.c1, c1.nf1, nb.nb2,
           bt.n_bigram_types,
           CAST((1000000 * (greatest(4 * top.c12 - 3, 0)
                   * CAST(bt.n_bigram_types AS HUGEINT)
                 + CAST(3 AS HUGEINT) * c1.nf1 * nb.nb2))
             // (CAST(4 AS HUGEINT) * c1.c1 * bt.n_bigram_types)
             AS BIGINT) AS pkn_x1e6,
           CAST((1000000 * top.c12) // c1.c1 AS BIGINT) AS pmle_x1e6
         FROM top
           JOIN c1 ON top.w1 = c1.w1
           JOIN nb ON top.w2 = nb.w2
           CROSS JOIN bt
         ORDER BY top.c12 DESC, top.w1 ASC, top.w2 ASC""",

    "q_nucleus" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents),
         b AS (
           SELECT s.w1 AS w1, s.w2 AS w2 FROM (
             SELECT unnest(list_transform(range(1, len(tk)),
               i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS s
             FROM t WHERE len(tk) >= 2)),
         c12 AS (SELECT w1, w2, count(*) AS n12 FROM b GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS n1 FROM b GROUP BY 1 HAVING count(*) >= 50),
         cum AS (
           SELECT c12.w1, w2, n12, n1,
             CAST(sum(n12) OVER (PARTITION BY c12.w1
               ORDER BY n12 DESC, w2 ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM c12 JOIN c1 USING (w1)),
         k AS (SELECT *, (cum - n12) * 10 < n1 * 9 AS kept FROM cum)
         SELECT w1, max(n1) AS n1, count(*) AS n_succ,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS nucleus_size,
           max(CASE WHEN kept THEN cum END) AS cov_cut,
           max(CASE WHEN kept THEN cum END) * 10 >= max(n1) * 9 AS covered_ok
         FROM k GROUP BY w1 ORDER BY w1""",

    "q_embed_qa" ->
      """WITH v AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (
           SELECT vec_id, label, v,
             CASE WHEN coalesce(list_max(list_transform(v, x -> abs(x))), 0) = 0
                  THEN 1.0
                  ELSE list_max(list_transform(v, x -> abs(x))) / 127.0 END AS scale
           FROM v),
         n AS (
           SELECT vec_id, label,
             CAST(list_reduce(list_transform(v, x ->
               CAST(round(x / scale) AS BIGINT) * CAST(round(x / scale) AS BIGINT)),
               (a, b) -> a + b) AS BIGINT) AS qn
           FROM q)
         SELECT label, count(*) AS n,
           CAST(sum(CASE WHEN qn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(sum(CASE WHEN qn < 90000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN qn > 240000 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           min(qn) AS min_qn, max(qn) AS max_qn
         FROM n GROUP BY label ORDER BY label""",

    "q_dataset_card" ->
      """WITH tk AS (
           SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                     x -> x <> '')) AS tok
           FROM documents),
         tok AS (
           SELECT count(*) AS n_tokens,
             CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size FROM tk),
         t AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS tkl
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(tkl) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS n_alnum,
             CAST(len(list_distinct(tkl)) AS BIGINT) AS n_distinct,
             CAST(len(list_intersect(list_distinct(tkl),
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop
           FROM t),
         da AS (
           SELECT
             count(*) AS n_docs,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             count(*) - count(DISTINCT text) AS n_exact_dups
           FROM documents),
         gp AS (
           SELECT CAST(sum(CASE WHEN n_words >= 30 AND n_words <= 90
             AND n_alnum >= n_words * 4 AND n_alnum <= n_words * 5
             AND n_stop >= 2 AND n_distinct * 2 >= n_words
             THEN 1 ELSE 0 END) AS BIGINT) AS gopher_pass FROM m)
         SELECT n_docs, n_langs, n_sources, n_exact_dups, gopher_pass,
           n_tokens, vocab_size,
           CAST((n_tokens * 100) // n_docs AS BIGINT) AS mean_tokens_x100
         FROM da, gp, tok""",

    // Both LMs rebuilt from scratch, every cross-multiplied ratio test,
    // the per-doc majority — and the left-join totality (candidates with
    // zero bigrams keep a row).
    "q_dsir_select" ->
      """WITH t AS (
           SELECT doc_id, source = 'src0' AS tgt,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS tk
           FROM documents),
         b AS (
           SELECT doc_id, tgt, s.w1 AS w1, s.w2 AS w2 FROM (
             SELECT doc_id, tgt, unnest(list_transform(range(1, len(tk)),
               i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS s
             FROM t WHERE len(tk) >= 2)),
         t12 AS (SELECT w1, w2, count(*) AS n12_t FROM b WHERE tgt GROUP BY 1, 2),
         t1 AS (SELECT w1, count(*) AS n1_t FROM b WHERE tgt GROUP BY 1),
         tv AS (SELECT count(DISTINCT w2) AS v_t FROM b WHERE tgt),
         c12 AS (SELECT w1, w2, count(*) AS n12_c FROM b WHERE NOT tgt GROUP BY 1, 2),
         c1 AS (SELECT w1, count(*) AS n1_c FROM b WHERE NOT tgt GROUP BY 1),
         cv AS (SELECT count(DISTINCT w2) AS v_c FROM b WHERE NOT tgt),
         cand AS (
           SELECT doc_id,
             (coalesce(n12_t, 0) + 1) * (n1_c + (SELECT v_c FROM cv))
               >= (n12_c + 1) * (coalesce(n1_t, 0) + (SELECT v_t FROM tv)) AS fav
           FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
             LEFT JOIN t12 USING (w1, w2) LEFT JOIN t1 USING (w1)
           WHERE NOT tgt),
         per AS (
           SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(CASE WHEN fav THEN 1 ELSE 0 END) AS BIGINT) AS n_target_favored
           FROM cand GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(n_target_favored, 0) AS n_target_favored,
           coalesce(n_target_favored, 0) * 2 >= coalesce(n_bigrams, 0) AS dsir_keep
         FROM (SELECT doc_id FROM documents WHERE NOT (source = 'src0')) d
         LEFT JOIN per USING (doc_id) ORDER BY doc_id""",

    "q_class_weights" ->
      """WITH lab AS (
           SELECT label, count(*) AS n FROM embeddings
           WHERE label IS NOT NULL GROUP BY label),
         tot AS (
           SELECT CAST(sum(n) AS BIGINT) AS n_total,
             count(*) AS n_classes, max(n) AS max_n FROM lab)
         SELECT label, n, n_total, n_classes,
           CAST((n_total * 1000) // (n_classes * n) AS BIGINT) AS weight_x1000,
           CAST((max_n * 1000) // n AS BIGINT) AS oversample_x1000
         FROM lab, tot ORDER BY label""",

    // Offsets, window explode, clamps, and the gap-free tiling check all
    // replayed on the same (shard, cumsum) substrate as q_pack_sequences.
    "q_pack_spans" ->
      """WITH t AS (
           SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
               AS BIGINT) AS end_off
           FROM t WHERE n_tokens > 0),
         sp AS (
           SELECT doc_id, shard, end_off - n_tokens AS start_off, end_off,
             unnest(range((end_off - n_tokens) // 512, (end_off - 1) // 512 + 1)) AS win
           FROM c),
         pos AS (
           SELECT doc_id, shard, win,
             greatest(start_off - win * 512, 0) AS pos_start,
             least(end_off - win * 512, 512) AS pos_end
           FROM sp)
         SELECT doc_id, shard, win, pos_start, pos_end,
           pos_end - pos_start AS span_len,
           coalesce(lag(pos_end, 1) OVER (PARTITION BY shard, win ORDER BY pos_start), 0)
             = pos_start AS contiguous_ok
         FROM pos ORDER BY doc_id, win""",

    // The full integer JL pipeline replayed: quantizer, every md5-parity
    // sign, all 16 projected coordinates, both exact squared distances,
    // and the [1/5, 5] band test.
    "q_rand_project" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 20),
         q AS (
           SELECT vec_id, v,
             CASE WHEN coalesce(list_max(list_transform(v, x -> abs(x))), 0) = 0
                  THEN 1.0
                  ELSE list_max(list_transform(v, x -> abs(x))) / 127.0 END AS scale
           FROM v),
         qq AS (
           SELECT vec_id,
             list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) AS qv
           FROM q),
         pj AS (
           SELECT vec_id, qv, list_transform(range(0, 16), j ->
             list_reduce(list_transform(range(1, len(qv) + 1),
               i -> (1 - 2 * (('0x' || substr(md5(j || ':' || (i - 1)), 1, 8))::BIGINT % 2))
                    * qv[i]),
               (a, b) -> a + b)) AS yv
           FROM qq),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(list_reduce(list_transform(range(1, len(a.qv) + 1),
               i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])),
               (x, y) -> x + y) AS BIGINT) AS d2_orig,
             CAST(list_reduce(list_transform(range(1, 17),
               j -> (a.yv[j] - b.yv[j]) * (a.yv[j] - b.yv[j])),
               (x, y) -> x + y) AS BIGINT) AS d2_proj
           FROM pj a JOIN pj b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, d2_orig, d2_proj,
           d2_proj * 5 >= d2_orig * 16 AND d2_proj <= d2_orig * 80 AS jl_ok
         FROM pairs ORDER BY id_a, id_b""",

    // Every signature element rebuilt from the portable md5 hash, the
    // merged-signature identity, both estimators, and both pinned
    // certificates — one drifted hash anywhere flips some pair's row.
    "q_kmv_setops" ->
      """WITH t AS (
           SELECT source, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents),
         e AS (
           SELECT DISTINCT source, unnest(list_transform(range(1, len(tk)),
             i -> tk[i] || ' ' || tk[i+1])) AS el
           FROM t WHERE len(tk) >= 2),
         h AS (
           SELECT DISTINCT source AS g,
             ('0x' || substr(md5(el), 1, 8))::BIGINT AS hv
           FROM e WHERE source IS NOT NULL AND el IS NOT NULL),
         r AS (SELECT g, hv, row_number() OVER (PARTITION BY g ORDER BY hv) AS rn FROM h),
         sig AS (
           SELECT g, list(hv ORDER BY hv) FILTER (WHERE rn <= 64) AS s,
             CAST(count(*) AS BIGINT) AS nd
           FROM r GROUP BY g),
         p AS (
           SELECT a.g AS src_a, b.g AS src_b, a.s AS s_a, b.s AS s_b,
             a.nd AS nd_a, b.nd AS nd_b
           FROM sig a JOIN sig b ON a.g < b.g),
         m AS (SELECT *, list_sort(list_distinct(s_a || s_b))[1:64] AS mg FROM p),
         est AS (
           SELECT src_a, src_b, nd_a, nd_b,
             CASE WHEN len(mg) < 64 THEN CAST(len(mg) AS BIGINT)
                  ELSE CAST(270582939648 // greatest(mg[64], 1) AS BIGINT) END AS est_union,
             CAST(len(list_filter(mg,
               x -> list_contains(s_a, x) AND list_contains(s_b, x))) AS BIGINT) AS n_common
           FROM m),
         ix AS (
           SELECT a.g AS src_a, b.g AS src_b, count(*) AS n_inter
           FROM h a JOIN h b ON a.hv = b.hv AND a.g < b.g GROUP BY 1, 2)
         SELECT est.src_a, est.src_b, nd_a, nd_b,
           nd_a + nd_b - coalesce(n_inter, 0) AS n_union,
           coalesce(n_inter, 0) AS n_inter,
           est_union, n_common,
           CAST((n_common * est_union) // 64 AS BIGINT) AS est_inter,
           est_union * 4 >= (nd_a + nd_b - coalesce(n_inter, 0)) * 3
             AND est_union * 4 <= (nd_a + nd_b - coalesce(n_inter, 0)) * 5 AS union_ok,
           abs(CAST((n_common * est_union) // 64 AS BIGINT) - coalesce(n_inter, 0)) * 4
             <= nd_a + nd_b - coalesce(n_inter, 0) AS inter_ok
         FROM est LEFT JOIN ix USING (src_a, src_b)
         ORDER BY src_a, src_b""",

    // The exact integer tf-idf key replayed: (tf·n_docs·1e6) // df with
    // BIGINT floor-division, rank over (key DESC, term) — bit-identical
    // ordering, no float log on either side.
    "q_tfidf_topk" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL),
         tf AS (
           SELECT doc_id, term, count(*) AS tf FROM (
             SELECT doc_id, unnest(tk) AS term FROM tok) GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
         scored AS (
           SELECT doc_id, term, tf, df,
             (tf * (SELECT n_docs FROM nd) * 1000000) // df AS score_key
           FROM tf JOIN dfq USING (term)),
         ranked AS (
           SELECT *, CAST(row_number() OVER (
             PARTITION BY doc_id ORDER BY score_key DESC, term) AS INTEGER) AS rk
           FROM scored)
         SELECT doc_id, term, tf, df, score_key, rk
         FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""",

    // The naive quadratic truth: distinct (doc, trigram) self-joined on
    // the gram, exact integer cross-multiplied threshold. The engine's
    // prefix-filtered plan must emit EXACTLY these pairs.
    "q_jaccard_join" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL),
         bg AS (
           SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
           FROM tok WHERE len(tk) >= 3),
         sz AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM bg a JOIN bg b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sa.n + sb.n - n_inter AS BIGINT) AS n_union
         FROM inter
           JOIN sz sa ON id_a = sa.doc_id
           JOIN sz sb ON id_b = sb.doc_id
         WHERE n_inter * 10 >= (sa.n + sb.n - n_inter) * 7
         ORDER BY id_a, id_b""",

    // The whole TRAINER replayed: every one of the 16 rounds' chosen
    // pair and weighted count, from an unrolled CTE chain over the same
    // double-space merge encoding (see bpeTrainSql).
    "q_bpe_train" -> bpeTrainSql(BpeTrainSteps),

    // The final symbolizations after the SAME 16 replayed rounds.
    "q_bpe_encode" -> bpeEncodeSql(BpeTrainSteps),

    // The generated langid oracle nested whole, every cost cell and
    // weighted total recounted.
    "q_confusion_cost" ->
      s"""WITH pred AS ($langIdSql),
         j AS (
           SELECT d.lang, p.lang_pred AS pred,
             CASE WHEN d.lang = p.lang_pred THEN 0
                  WHEN d.lang IN ('en','de','es','fr')
                   AND p.lang_pred IN ('en','de','es','fr') THEN 1
                  ELSE 2 END AS cost
           FROM documents d JOIN pred p USING (doc_id))
         SELECT lang, pred, CAST(count(*) AS BIGINT) AS n,
           CAST(max(cost) AS BIGINT) AS unit_cost,
           CAST(sum(cost) AS BIGINT) AS total_cost
         FROM j GROUP BY lang, pred ORDER BY lang, pred""",

    // Every group total, both HUGEINT sums of squares, the F cross-
    // multiplication, and the floored SS emissions replayed.
    // doubled group medians off the value spine; |2v - med2|
    // deviations through the q_anova integer SS form; F cross-mult
    "q_brown_forsythe" ->
      """WITH e AS (
           SELECT isodow(CAST(ts AS DATE)) - 1 AS dow, event_type AS g,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM events),
         pv AS (
           SELECT dow, g, v, CAST(count(*) AS BIGINT) AS m
           FROM e GROUP BY 1, 2, 3),
         sp AS (
           SELECT dow, g, v, m,
             CAST(sum(m) OVER (PARTITION BY dow, g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum,
             CAST(sum(m) OVER (PARTITION BY dow, g) AS BIGINT) AS ng
           FROM pv),
         md AS (
           SELECT dow, g,
             CAST(sum(CASE WHEN cum - m < (ng + 1) // 2 AND cum >= (ng + 1) // 2
               THEN v ELSE 0 END)
             + sum(CASE WHEN cum - m < ng // 2 + 1 AND cum >= ng // 2 + 1
               THEN v ELSE 0 END) AS BIGINT) AS med2
           FROM sp GROUP BY 1, 2),
         z AS (
           SELECT pv.dow, pv.g, pv.m,
             CAST(abs(pv.v * 2 - md.med2) AS HUGEINT) AS z
           FROM pv JOIN md ON pv.dow = md.dow AND pv.g = md.g),
         gg AS (
           SELECT dow, g, CAST(sum(m) AS BIGINT) AS ng,
             sum(m * z) AS tg, sum(m * z * z) AS sqg
           FROM z GROUP BY 1, 2),
         tt AS (
           SELECT dow, CAST(sum(ng) AS BIGINT) AS n, sum(tg) AS t,
             sum(sqg) AS sq, CAST(count(*) AS BIGINT) AS k
           FROM gg GROUP BY 1),
         dv AS (
           SELECT gg.dow, tt.n, tt.t, tt.sq, tt.k,
             ((CAST(tt.n AS HUGEINT) * tg - CAST(ng AS HUGEINT) * tt.t)
              * (CAST(tt.n AS HUGEINT) * tg - CAST(ng AS HUGEINT) * tt.t))
               // (CAST(ng AS HUGEINT) * tt.n) AS dev2
           FROM gg JOIN tt ON gg.dow = tt.dow),
         ssx AS (
           SELECT dow, n, t, sq, k, sum(dev2) AS ssb,
             CAST(n AS HUGEINT) * sq - CAST(t AS HUGEINT) * t AS sst
           FROM dv GROUP BY 1, 2, 3, 4, 5)
         SELECT dow, n AS n_obs, k AS k_groups,
           CAST(ssb // CAST(n AS HUGEINT) AS BIGINT) AS ssb,
           CAST((sst - ssb) // CAST(n AS HUGEINT) AS BIGINT) AS ssw,
           k - 1 AS df_b, n - k AS df_w,
           CAST(CASE WHEN k - 1 = 0 OR n - k <= 0 OR sst - ssb <= 0 THEN 0
                ELSE (ssb * (n - k) * 1000) // ((sst - ssb) * (k - 1))
                END AS BIGINT) AS f_x1000
         FROM ssx ORDER BY dow""",

    // the q_anova computational form; the n-scaling cancels in both
    // ratios
    "q_effect_size" ->
      """WITH e AS (
           SELECT event_type, CAST(round(value) AS BIGINT) AS v
           FROM events),
         g AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(v) AS BIGINT) AS tg,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sqg
           FROM e GROUP BY 1),
         t AS (
           SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(tg) AS BIGINT) AS t,
             CAST(sum(sqg) AS HUGEINT) AS sq, CAST(count(*) AS BIGINT) AS k
           FROM g),
         dev AS (
           SELECT n, t.t, sq, k,
             sum(((CAST(n AS HUGEINT) * tg - CAST(ng AS HUGEINT) * t.t)
                  * (CAST(n AS HUGEINT) * tg - CAST(ng AS HUGEINT) * t.t))
               // (CAST(ng AS HUGEINT) * n)) AS ssb
           FROM g CROSS JOIN t GROUP BY 1, 2, 3, 4),
         z AS (
           SELECT n, k, ssb,
             CAST(n AS HUGEINT) * sq - CAST(t AS HUGEINT) * t AS sst,
             k - 1 AS df_b, n - k AS df_w
           FROM dev)
         SELECT n, k, df_b, df_w,
           CAST(CASE WHEN sst = 0 THEN 0
                ELSE (ssb * 1000000) // sst END AS BIGINT) AS eta2_x1e6,
           CAST(CASE WHEN sst * df_w + (sst - ssb) = 0 THEN 0
                ELSE ((ssb * df_w - CAST(df_b AS HUGEINT) * (sst - ssb))
                      * 1000000)
                  // (sst * df_w + (sst - ssb))
                END AS BIGINT) AS omega2_x1e6
         FROM z""",

    // per-(dow, type) variance rationals; extremes by the (double,
    // group) order; the ratio exact by cross-multiplication
    "q_hartley_fmax" ->
      """WITH e AS (
           SELECT isodow(CAST(ts AS DATE)) - 1 AS dow, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM events),
         g AS (
           SELECT dow, event_type AS gr, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(v AS HUGEINT)) AS s,
             sum(CAST(v AS HUGEINT) * v) AS ss
           FROM e GROUP BY 1, 2 HAVING count(*) >= 2),
         vr AS (
           SELECT dow, gr,
             CAST(n AS HUGEINT) * ss - s * s AS vnum,
             CAST(n AS HUGEINT) * (n - 1) AS vden,
             CAST(CAST(n AS HUGEINT) * ss - s * s AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS v
           FROM g),
         rk AS (
           SELECT dow, gr, vnum, vden,
             row_number() OVER (PARTITION BY dow ORDER BY v DESC, gr) AS rmax,
             row_number() OVER (PARTITION BY dow ORDER BY v ASC, gr) AS rmin
           FROM vr),
         ag AS (
           SELECT dow, CAST(count(*) AS BIGINT) AS n_groups,
             max(CASE WHEN rmax = 1 THEN gr END) AS g_max,
             max(CASE WHEN rmin = 1 THEN gr END) AS g_min,
             max(CASE WHEN rmax = 1 THEN vnum END) AS nmax,
             max(CASE WHEN rmax = 1 THEN vden END) AS dmax,
             max(CASE WHEN rmin = 1 THEN vnum END) AS nmin,
             max(CASE WHEN rmin = 1 THEN vden END) AS dmin
           FROM rk GROUP BY 1)
         SELECT dow, n_groups, g_max, g_min,
           CAST(CASE WHEN n_groups < 2 OR nmin = 0 THEN 0
                ELSE (nmax * dmin * 1000) // (nmin * dmax)
                END AS BIGINT) AS fmax_x1000
         FROM ag ORDER BY dow""",

    "q_anova" ->
      """WITH e AS (
           SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM events),
         g AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(v) AS BIGINT) AS tg,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sqg
           FROM e GROUP BY 1),
         t AS (
           SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(tg) AS BIGINT) AS t,
             CAST(sum(sqg) AS HUGEINT) AS sq, CAST(count(*) AS BIGINT) AS k
           FROM g),
         dev AS (
           SELECT n, t.t, sq, k,
             CAST(sum((CAST(n AS HUGEINT) * tg - CAST(ng AS HUGEINT) * t.t)
               * (CAST(n AS HUGEINT) * tg - CAST(ng AS HUGEINT) * t.t)
               // (CAST(ng AS HUGEINT) * n)) AS HUGEINT) AS ssb_scaled
           FROM g, t GROUP BY n, t.t, sq, k),
         f AS (
           SELECT n, k, ssb_scaled,
             CAST(n AS HUGEINT) * sq - CAST(t AS HUGEINT) * t - ssb_scaled
               AS ssw_scaled,
             k - 1 AS df_b, n - k AS df_w
           FROM dev)
         SELECT n, k,
           CAST(ssb_scaled // CAST(n AS HUGEINT) AS BIGINT) AS ssb,
           CAST(ssw_scaled // CAST(n AS HUGEINT) AS BIGINT) AS ssw,
           df_b, df_w,
           ssb_scaled * df_w > ssw_scaled * df_b * 2 AS f_gt_2
         FROM f""",

    // The (freq desc, token asc) ranking, the bounded cumsum, and all
    // three coverage points replayed.
    "q_vocab_coverage" ->
      """WITH f AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS n FROM (
             SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                       x -> x <> '')) AS tok
             FROM documents) GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM f),
         r AS (
           SELECT tok, n,
             CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT) AS rk,
             CAST(sum(n) OVER (ORDER BY n DESC, tok ASC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM f)
         SELECT k, cum AS n_covered, n_total,
           CAST((cum * 1000) // n_total AS BIGINT) AS coverage_pm
         FROM r JOIN (SELECT unnest([5, 10, 20]) AS k) ks ON r.rk = ks.k, tot
         ORDER BY k""",

    // The 24-hour census and the struct-min peak pick replayed.
    "q_hourly_profile" ->
      """WITH h AS (
           SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total
               FROM h GROUP BY 1)
         SELECT h.event_type, CAST(count(*) AS BIGINT) AS n_hours,
           min(struct_pack(nn := -n, hr := hr)).hr AS peak_hour,
           CAST(-(min(struct_pack(nn := -n, hr := hr)).nn) AS BIGINT) AS peak_n,
           t.n_total,
           CAST((-(min(struct_pack(nn := -n, hr := hr)).nn) * 1000) // t.n_total
             AS BIGINT) AS peak_share_pm
         FROM h JOIN t USING (event_type)
         GROUP BY h.event_type, t.n_total ORDER BY event_type""",

    // Every chunk hash, its source spread, and the pair census replayed.
    "q_source_leak" ->
      """WITH t AS (
           SELECT source, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '') AS tk
           FROM documents),
         hs AS (
           SELECT DISTINCT source,
             unnest(list_transform(range(0, (len(tk)-1) // 10 + 1),
               i -> md5(array_to_string(tk[i*10+1 : i*10+10], ' ')))) AS h
           FROM t WHERE len(tk) >= 1)
         SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_shared_chunks
         FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
         GROUP BY 1, 2 ORDER BY src_a, src_b""",

    // Every character bigram recounted and the per-lang top-5 cut
    // replayed on the (n desc, bg asc) total order.
    "q_char_bigrams" ->
      """WITH p AS (
           SELECT lang, unnest(list_transform(range(1, length(lower(text))),
             i -> substr(lower(text), i, 2))) AS bg
           FROM documents),
         f AS (SELECT lang, bg FROM p WHERE regexp_full_match(bg, '[a-z]{2}')),
         c AS (SELECT lang, bg, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1, 2),
         r AS (
           SELECT lang, bg, n,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, bg ASC)
               AS BIGINT) AS rk
           FROM c)
         SELECT lang, rk, bg, n FROM r WHERE rk <= 5 ORDER BY lang, rk""",

    // Both marginals, every intersection, and the Jaccard division
    // replayed.
    "q_audience_overlap" ->
      """WITH tu AS (
           SELECT DISTINCT event_type, user_id FROM events),
         s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
               FROM tu GROUP BY 1),
         p AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_inter
           FROM tu a JOIN tu b ON a.user_id = b.user_id
             AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, sa.n_users AS n_a, sb.n_users AS n_b, n_inter,
           CAST((n_inter * 1000) // (sa.n_users + sb.n_users - n_inter) AS BIGINT)
             AS jaccard_pm
         FROM p JOIN s sa ON sa.event_type = type_a
                JOIN s sb ON sb.event_type = type_b
         ORDER BY type_a, type_b""",

    // The generated langid oracle nested whole, cells recounted.
    "q_langid_confusion" ->
      s"""WITH pred AS ($langIdSql)
         SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n
         FROM documents d JOIN pred p USING (doc_id)
         GROUP BY d.lang, p.lang_pred
         ORDER BY lang, lang_pred""",

    // Every MaxSim score rebuilt dot-by-dot from the same milli-
    // quantized integer vectors; top-3 via the same (score desc, doc)
    // total order.
    "q_maxsim" ->
      """WITH toks AS (
           SELECT vec_id, vec_id // 10 AS doc,
             list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS v
           FROM embeddings WHERE embedding IS NOT NULL),
         qt AS (SELECT doc AS qdoc, vec_id AS qtok, v AS qv FROM toks WHERE doc < 5),
         dt AS (SELECT doc AS ddoc, v AS dv FROM toks WHERE doc >= 5),
         dots AS (
           SELECT qdoc, qtok, ddoc,
             list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * dv[i])) AS dot
           FROM qt CROSS JOIN dt),
         best AS (
           SELECT qdoc, qtok, ddoc, CAST(max(dot) AS BIGINT) AS mx
           FROM dots GROUP BY 1, 2, 3),
         sc AS (
           SELECT qdoc, ddoc, CAST(sum(mx) AS BIGINT) AS maxsim
           FROM best GROUP BY 1, 2),
         rk AS (
           SELECT qdoc, ddoc, maxsim,
             row_number() OVER (PARTITION BY qdoc ORDER BY maxsim DESC, ddoc) AS rk
           FROM sc)
         SELECT qdoc, CAST(rk AS BIGINT) AS rk, ddoc, maxsim
         FROM rk WHERE rk <= 3 ORDER BY qdoc, rk""",

    // The full merge step replayed: same tokenizer, same weighted pair
    // argmax (count DESC, pair lexicographic), same islands/odd-offset
    // greedy non-overlap, same reassembled symbol strings.
    "q_bpe_merge" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                     x -> x <> '')) AS w
           FROM documents WHERE text IS NOT NULL),
         words AS (SELECT w, count(*) AS wt FROM toks GROUP BY 1),
         pairs AS (
           SELECT w, wt, p.i AS i, p.p1 AS p1, p.p2 AS p2 FROM (
             SELECT w, wt, unnest(list_transform(range(1, len(w)),
               i -> struct_pack(i := i - 1, p1 := w[i:i], p2 := w[i+1:i+1]))) AS p
             FROM words WHERE len(w) >= 2)),
         best AS (
           SELECT p1 AS b1, p2 AS b2 FROM pairs GROUP BY p1, p2
           ORDER BY sum(wt) DESC, p1, p2 LIMIT 1),
         m AS (SELECT w, i FROM pairs JOIN best ON p1 = b1 AND p2 = b2),
         st AS (
           SELECT w, i AS mi FROM (
             SELECT w, i, row_number() OVER (PARTITION BY w, isl ORDER BY i) AS off
             FROM (SELECT w, i,
                     i - row_number() OVER (PARTITION BY w ORDER BY i) AS isl
                   FROM m))
           WHERE off % 2 = 1),
         chars AS (
           SELECT w, wt, c.j AS j, c.c AS c FROM (
             SELECT w, wt, unnest(list_transform(range(1, len(w) + 1),
               j -> struct_pack(j := j - 1, c := w[j:j]))) AS c
             FROM words)),
         reb AS (
           SELECT ch.w,
             string_agg(CASE WHEN s1.mi IS NOT NULL
                             THEN (SELECT b1 || b2 FROM best)
                             ELSE ch.c END, ' ' ORDER BY ch.j) AS new_repr,
             count(s1.mi) AS n_merges
           FROM chars ch
           LEFT JOIN st s1 ON ch.w = s1.w AND ch.j = s1.mi
           LEFT JOIN st s2 ON ch.w = s2.w AND ch.j = s2.mi + 1
           WHERE s2.mi IS NULL
           GROUP BY ch.w)
         SELECT words.w, wt, best.b1, best.b2,
           CAST(n_merges AS BIGINT) AS n_merges, new_repr
         FROM words JOIN reb ON words.w = reb.w CROSS JOIN best
         ORDER BY words.w""",

    // The sketch as a set property: DuckDB re-hashes every key with the
    // same md5 prefix, ranks the distinct hashes, and replays both the
    // exact (< k) and approximate (kth-min division) paths. 270582939648
    // = 63·2^32.
    "q_centroid_shift" ->
      """WITH q AS (
           SELECT vec_id, CAST(label AS INTEGER) AS label,
             unnest(list_transform(embedding,
               x -> CAST(round(x * 1000) AS BIGINT))) AS qv,
             CAST(unnest(range(len(embedding))) AS INTEGER) AS dim
           FROM embeddings),
         a AS (
           SELECT label, dim, CAST(count(*) AS BIGINT) AS n_a,
             CAST(sum(qv) // count(*) AS BIGINT) AS m_a
           FROM q WHERE vec_id % 2 = 0 GROUP BY 1, 2),
         b AS (
           SELECT label, dim, CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(qv) // count(*) AS BIGINT) AS m_b
           FROM q WHERE vec_id % 2 = 1 GROUP BY 1, 2)
         SELECT a.label, max(a.n_a) AS n_a, max(b.n_b) AS n_b,
           CAST(sum(abs(a.m_a - b.m_b)) AS BIGINT) AS l1_shift
         FROM a JOIN b ON a.label = b.label AND a.dim = b.dim
         GROUP BY 1 ORDER BY a.label""",

    "q_join_card_est" ->
      """WITH sa AS (
           SELECT list(h ORDER BY h) AS sa FROM (
             SELECT h FROM (
               SELECT DISTINCT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                 1, 8))::BIGINT AS h
               FROM orders)
             ORDER BY h LIMIT 64)),
         sb AS (
           SELECT list(h ORDER BY h) AS sb FROM (
             SELECT h FROM (
               SELECT DISTINCT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                 1, 8))::BIGINT AS h
               FROM customer)
             ORDER BY h LIMIT 64)),
         ex AS (
           SELECT CAST(count(*) AS BIGINT) AS d_inter_exact FROM (
             SELECT DISTINCT o_custkey FROM orders
             WHERE o_custkey IN (SELECT c_custkey FROM customer))),
         m AS (
           SELECT list_sort(list_distinct(sa.sa || sb.sb))[1:64] AS un,
             sa.sa AS sa, sb.sb AS sb, ex.d_inter_exact
           FROM sa, sb, ex),
         c AS (
           SELECT CAST(len(un) AS BIGINT) AS n_un,
             un[len(un)] AS u_k,
             CAST(len(list_filter(un, x ->
               list_contains(sa, x) AND list_contains(sb, x))) AS BIGINT)
               AS n_inter_sketch,
             d_inter_exact
           FROM m),
         e AS (
           SELECT n_un,
             CASE WHEN n_un < 64 THEN n_un
                  ELSE 270582939648 // greatest(u_k, 1) END AS d_union_est,
             n_inter_sketch, d_inter_exact
           FROM c)
         SELECT CAST(64 AS BIGINT) AS k, n_un, d_union_est, n_inter_sketch,
           CASE WHEN n_un < 64 THEN n_inter_sketch
                ELSE (n_inter_sketch * d_union_est) // 64 END AS d_inter_est,
           d_inter_exact,
           (CASE WHEN n_un < 64 THEN n_inter_sketch
                 ELSE (n_inter_sketch * d_union_est) // 64 END) * 2
               >= d_inter_exact
             AND (CASE WHEN n_un < 64 THEN n_inter_sketch
                  ELSE (n_inter_sketch * d_union_est) // 64 END)
               <= d_inter_exact * 2 AS within_2x
         FROM e""",

    "q_kmv_distinct" ->
      """WITH hf AS (
           SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT AS h
           FROM events WHERE event_id IS NOT NULL),
         rf AS (
           SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
           FROM hf),
         kf AS (
           SELECT event_type, count(*) AS n_h,
             max(CASE WHEN rn = 64 THEN h END) AS h_k
           FROM rf GROUP BY 1),
         ef AS (
           SELECT event_type, count(DISTINCT event_id) AS n_exact
           FROM events GROUP BY 1),
         hs AS (
           SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
           FROM events WHERE user_id < 40),
         rs AS (
           SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
           FROM hs),
         ks AS (
           SELECT event_type, count(*) AS n_h,
             max(CASE WHEN rn = 64 THEN h END) AS h_k
           FROM rs GROUP BY 1),
         es AS (
           SELECT event_type, count(DISTINCT user_id) AS n_exact
           FROM events WHERE user_id < 40 GROUP BY 1)
         SELECT * FROM (
           SELECT 'full' AS leg, event_type, n_exact,
             CASE WHEN n_h < 64 THEN n_h
                  ELSE 270582939648 // greatest(h_k, 1) END AS kmv_est
           FROM kf JOIN ef USING (event_type)
           UNION ALL
           SELECT 'small', event_type, n_exact,
             CASE WHEN n_h < 64 THEN n_h
                  ELSE 270582939648 // greatest(h_k, 1) END
           FROM ks JOIN es USING (event_type))
         ORDER BY leg, event_type""",

    // Only the reproducible integers (n, exact-arithmetic target ranks)
    // and the engine-verified verdicts reach the oracle — the estimates
    // themselves are sketch-internal. `within_bound` is a FALSIFIABLE
    // constant: the engine computes it against ground truth, and a
    // broken sketch (or a lying bound) flips it to false.
    "q_group_quantiles" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_vals,
           CAST(greatest(1, (50 * count(*) + 99) // 100) AS BIGINT)
             AS target_rank,
           TRUE AS within_bound
         FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         GROUP BY event_type ORDER BY event_type""",

    "q_quantile_sketch" ->
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
         ks AS (SELECT unnest([1, 25, 50, 75, 99]) AS p)
         SELECT CAST(p AS INTEGER) AS p, n AS n_total,
           CAST(greatest(1, (p * n + 99) // 100) AS BIGINT) AS target_rank,
           TRUE AS within_bound
         FROM ks, t ORDER BY p""",

    // The whole sketch rebuilt cell by cell: the same md5-prefix hash
    // family, the same d=3 × w=64 cell grid, the same min-over-rows
    // estimates — approximate values oracled exactly, not just bounded.
    "q_cm_sketch" ->
      """WITH hashes AS (
           SELECT user_id, j,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS bucket
           FROM events, (SELECT unnest([0, 1, 2]) AS j) js
           WHERE user_id IS NOT NULL),
         sk AS (SELECT j, bucket, count(*) AS cnt FROM hashes GROUP BY 1, 2),
         pe AS (SELECT DISTINCT user_id, j, bucket FROM hashes WHERE user_id < 50),
         est AS (
           SELECT user_id, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cm_est
           FROM pe LEFT JOIN sk USING (j, bucket) GROUP BY user_id),
         ex AS (
           SELECT user_id, count(*) AS n_exact FROM events
           WHERE user_id < 50 GROUP BY 1)
         SELECT ex.user_id, ex.n_exact, est.cm_est,
           est.cm_est >= ex.n_exact AS is_over
         FROM ex JOIN est USING (user_id) ORDER BY user_id""",

    // Word-trigram shingle sets as strings (distinctness ≡ the engine's
    // FNV-hash distinctness, no collisions at this size). Replicates
    // TextKernels.shingleHashes' short-text rule: 1-2 tokens still yield
    // ONE shingle of whatever tokens exist.
    "q_decontaminate" ->
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(tk) >= 3
                  THEN list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                  WHEN len(tk) >= 1 THEN [array_to_string(tk, ' ')]
                  ELSE CAST([] AS VARCHAR[]) END AS sh
           FROM tok),
         bench AS (SELECT DISTINCT unnest(sh) AS h FROM sh WHERE doc_id < 25),
         corp AS (SELECT doc_id AS id, unnest(sh) AS h FROM sh WHERE doc_id >= 25),
         agg AS (
           SELECT id, count(*) AS n_shingles,
             count(*) FILTER (WHERE h IN (SELECT h FROM bench)) AS n_matched
           FROM corp GROUP BY id)
         SELECT id, n_shingles, n_matched FROM agg
         WHERE n_matched * 5 >= n_shingles AND n_shingles > 0 ORDER BY id""",

    // Word-bigram shingle sets as strings; integer intersection/union with
    // the cross-multiplied jaccard >= 0.05 threshold (20·inter >= union).
    "q_ngram_jaccard" ->
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
           FROM documents WHERE doc_id < 50),
         s AS (
           SELECT doc_id,
             CASE WHEN len(tk) >= 2
                  THEN list_distinct(list_transform(range(1, len(tk)),
                         i -> tk[i] || ' ' || tk[i+1]))
                  WHEN len(tk) = 1 THEN [tk[1]]
                  ELSE CAST([] AS VARCHAR[]) END AS sh
           FROM tok),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.sh, b.sh)) AS n_inter,
             len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS n_union
           FROM s a JOIN s b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, CAST(n_inter AS INTEGER) AS n_inter,
           CAST(n_union AS INTEGER) AS n_union
         FROM p WHERE n_inter * 20 >= n_union AND n_union > 0
         ORDER BY id_a, id_b""",

    // Near-dup certificates: DuckDB computes n_true_pairs INDEPENDENTLY
    // (all-pairs truth over string shingle sets / DOUBLE[] cosines), so
    // that column is a genuine cross-engine check; n_false_pos = 0 and
    // recall_ok = true are invariants the engine must uphold (zero FPs are
    // structural via the exact verify step; the recall floors are
    // data-dependent constants documented at the query definitions).
    // generated grid; identical squaring chain
    "q_lsh_scurve" ->
      """WITH g AS (SELECT unnest(range(1, 21)) AS i),
         s AS (SELECT CAST(i * 50 AS BIGINT) AS s_pm,
                 CAST(i * 50 AS DOUBLE) / 1000.0 AS sd FROM g),
         p AS (
           SELECT s_pm, 1.0 - sd * sd AS q FROM s),
         c AS (
           SELECT s_pm, ((q * q) * (q * q)) AS q4 FROM p),
         e AS (
           SELECT s_pm, ((q4 * q4) * (q4 * q4)) AS q16 FROM c)
         SELECT s_pm, 1.0 - (q16 * q16) AS p_collide
         FROM e ORDER BY s_pm""",

    "q_dedup_minhash" ->
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
           FROM documents WHERE doc_id < 1000),
         s AS (
           SELECT doc_id,
             CASE WHEN len(tk) >= 2
                  THEN list_distinct(list_transform(range(1, len(tk)),
                         i -> tk[i] || ' ' || tk[i+1]))
                  WHEN len(tk) = 1 THEN [tk[1]]
                  ELSE CAST([] AS VARCHAR[]) END AS sh
           FROM tok),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.sh, b.sh)) AS n_inter,
             len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS n_union
           FROM s a JOIN s b ON a.doc_id < b.doc_id)
         SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST(0 AS BIGINT) AS n_false_pos, true AS recall_ok
         FROM p WHERE n_inter * 5 >= n_union AND n_union > 0""",

    "q_dedup_embedding" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         p AS (SELECT round(list_cosine_similarity(a.v, b.v), 6) AS cos
               FROM v a JOIN v b ON a.id < b.id)
         SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST(0 AS BIGINT) AS n_false_pos, true AS recall_ok
         FROM p WHERE cos >= CAST(0.4 AS DOUBLE)""",

    // Same exact-ground-truth mirror as q_dedup_embedding: DuckDB owns the
    // all-pairs truth count; zero false positives and the 40% recall floor
    // are certified by the Spark side's own measured left-anti/hit counts.
    "q_dedup_semantic" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         p AS (SELECT round(list_cosine_similarity(a.v, b.v), 6) AS cos
               FROM v a JOIN v b ON a.id < b.id)
         SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST(0 AS BIGINT) AS n_false_pos, true AS recall_ok
         FROM p WHERE cos >= CAST(0.4 AS DOUBLE)""",

    // Chunk boundaries fully re-derived: offsets from generate_series over
    // the same stride arithmetic, text via substr — a per-row cross-engine
    // check of the window math (including last-chunk truncation and the
    // empty-text skip).
    "q_chunk_docs" ->
      """WITH d AS (
           SELECT doc_id, text, length(text) AS len
           FROM documents
           WHERE doc_id < 200 AND text IS NOT NULL AND length(text) > 0),
         c0 AS (
           SELECT doc_id, text,
             unnest(range(0, greatest((len - 16 - 1) // 48, 0) + 1)) AS i
           FROM d),
         c AS (
           SELECT doc_id, CAST(i AS INTEGER) AS chunk_no,
             CAST(i * 48 AS INTEGER) AS chunk_start,
             substr(text, CAST(i * 48 + 1 AS BIGINT), 64) AS chunk
           FROM c0)
         SELECT doc_id, chunk_no, chunk_start, chunk,
           CAST(length(chunk) AS INTEGER) AS chunk_len
         FROM c ORDER BY doc_id, chunk_no""",

    // The ranking is recomputed from the SAME integers (tf vector, dl)
    // with DuckDB's own ln — scores order within each engine, so libm ulp
    // differences can't flip a comparison, and mathematically tied scores
    // tie exactly in both engines and break by doc_id.
    "q_bm25" ->
      s"""$bm25CteSql
         SELECT doc_id, dl, tf_table, tf_hash, tf_window,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
         FROM sc WHERE score > 0
         ORDER BY rank LIMIT 20""",

    // both rankers' CTEs composed; discordant census over the shared
    // bounded list
    "q_rank_distance" ->
      s"""$bm25CteSql,
         ra AS (
           SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS r_bm
           FROM sc WHERE score > 0 QUALIFY r_bm <= 20),
         st2 AS (
           SELECT CAST(sum(dl) AS BIGINT) AS n_c,
             CAST(sum(tf_table) AS BIGINT) AS cf_table,
             CAST(sum(tf_hash) AS BIGINT) AS cf_hash,
             CAST(sum(tf_window) AS BIGINT) AS cf_window
           FROM f),
         sc2 AS (
           SELECT doc_id,
             CAST(((CAST(tf_table AS HUGEINT) * n_c + 200 * cf_table)
                   * (CAST(tf_hash AS HUGEINT) * n_c + 200 * cf_hash))
                  * (CAST(tf_window AS HUGEINT) * n_c + 200 * cf_window)
               AS DOUBLE)
             / CAST(((CAST(dl + 200 AS HUGEINT) * n_c)
                     * (CAST(dl + 200 AS HUGEINT) * n_c))
                    * (CAST(dl + 200 AS HUGEINT) * n_c) AS DOUBLE)
               AS qlm_score
           FROM f CROSS JOIN st2
           WHERE tf_table + tf_hash + tf_window > 0),
         rb AS (
           SELECT doc_id,
             CAST(row_number() OVER (ORDER BY qlm_score DESC, doc_id)
               AS BIGINT) AS r_qlm
           FROM sc2 QUALIFY r_qlm <= 20),
         sh AS (
           SELECT ra.doc_id AS doc_id, r_bm, r_qlm
           FROM ra JOIN rb ON ra.doc_id = rb.doc_id),
         pr AS (
           SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN (x.r_bm - y.r_bm) * (x.r_qlm - y.r_qlm) < 0
               THEN 1 ELSE 0 END) AS BIGINT) AS discordant
           FROM sh x JOIN sh y ON x.doc_id < y.doc_id),
         ns AS (SELECT CAST(count(*) AS BIGINT) AS n_shared FROM sh)
         SELECT n_shared, n_pairs, discordant,
           CAST(CASE WHEN n_pairs = 0 THEN 0
                ELSE (1000 * discordant) // n_pairs END AS BIGINT) AS ktd_pm
         FROM pr CROSS JOIN ns""",

    // the one-division log-free score; identical product trees
    "q_qlm_dirichlet" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS tk
           FROM documents),
         f AS (
           SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
             CAST(len(list_filter(tk, x -> x = 'table')) AS BIGINT)
               AS tf_table,
             CAST(len(list_filter(tk, x -> x = 'hash')) AS BIGINT) AS tf_hash,
             CAST(len(list_filter(tk, x -> x = 'window')) AS BIGINT)
               AS tf_window
           FROM t),
         st AS (
           SELECT CAST(sum(dl) AS BIGINT) AS n_c,
             CAST(sum(tf_table) AS BIGINT) AS cf_table,
             CAST(sum(tf_hash) AS BIGINT) AS cf_hash,
             CAST(sum(tf_window) AS BIGINT) AS cf_window
           FROM f),
         sc AS (
           SELECT doc_id, dl, tf_table, tf_hash, tf_window,
             CAST(((CAST(tf_table AS HUGEINT) * n_c + 200 * cf_table)
                   * (CAST(tf_hash AS HUGEINT) * n_c + 200 * cf_hash))
                  * (CAST(tf_window AS HUGEINT) * n_c + 200 * cf_window)
               AS DOUBLE)
             / CAST(((CAST(dl + 200 AS HUGEINT) * n_c)
                     * (CAST(dl + 200 AS HUGEINT) * n_c))
                    * (CAST(dl + 200 AS HUGEINT) * n_c) AS DOUBLE)
               AS qlm_score
           FROM f CROSS JOIN st
           WHERE tf_table + tf_hash + tf_window > 0)
         SELECT doc_id, dl, tf_table, tf_hash, tf_window, qlm_score,
           CAST(row_number() OVER (ORDER BY qlm_score DESC, doc_id)
             AS INTEGER) AS rank
         FROM sc ORDER BY rank LIMIT 20""",

    // The ranking leg is the proven q_bm25 mirror; labels and every
    // metric witness are integers, reciprocal rank via exact integer
    // division.
    "q_retrieval_eval" ->
      s"""$bm25CteSql,
         r AS (
           SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
             CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS rel
           FROM sc WHERE score > 0 QUALIFY rank <= 20),
         fr AS (SELECT coalesce(min(rank), 0) AS first_rel FROM r WHERE rel = 1),
         nr AS (SELECT CAST(count(*) AS BIGINT) AS n_rel_total
                FROM documents WHERE doc_id % 7 = 0),
         ks AS (SELECT unnest([1, 5, 10, 20]) AS k)
         SELECT CAST(k AS BIGINT) AS k,
           CAST(sum(CASE WHEN rank <= k THEN rel ELSE 0 END) AS BIGINT) AS hits,
           CAST(sum(CASE WHEN rank <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_ranked,
           nr.n_rel_total,
           CAST(CASE WHEN fr.first_rel > 0 THEN 1000000 // fr.first_rel
                ELSE 0 END AS BIGINT) AS rr_micro
         FROM ks, r, fr, nr
         GROUP BY k, nr.n_rel_total, fr.first_rel
         ORDER BY k""",

    // The ranking leg is the proven q_bm25 mirror; the negatives drop the
    // % 7 label set AFTER the top-20 cut (order matters: a positive inside
    // the top-20 must consume a slot there, exactly as the Spark side's
    // anti-join on the ranked list does).
    "q_hard_negatives" ->
      s"""$bm25CteSql,
         r AS (
           SELECT doc_id, dl, tf_table, tf_hash, tf_window,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
           FROM sc WHERE score > 0 QUALIFY rank <= 20)
         SELECT doc_id, dl, tf_table, tf_hash, tf_window, rank,
           CAST(row_number() OVER (ORDER BY rank) AS INTEGER) AS neg_rank
         FROM r WHERE doc_id % 7 <> 0
         QUALIFY neg_rank <= 8 ORDER BY neg_rank""",

    // Both legs and the blend re-derived from scratch: the BM25 CTE chain
    // is the proven q_bm25 mirror, the cosine leg is the proven
    // q_ann_bruteforce mirror (raw-double ordering, id tiebreak), and the
    // fusion sums 1/(60+rank) in DOUBLE (CAST — a bare 1.0 literal would
    // be DECIMAL in DuckDB and order differently) over at most two exact
    // terms, so the fused ordering is bit-deterministic in both engines.
    // w_d = 9^(d-1)*10^(10-d) geometric weights, 2520//d exact depth
    // division, A_d from the shared top-10 legs
    "q_rbo" ->
      s"""$bm25CteSql,
         lex AS (
           SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
             AS BIGINT) AS r1
           FROM sc WHERE score > 0 QUALIFY r1 <= 10),
         qv AS (
           SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
           WHERE vec_id = 0),
         cosd AS (
           SELECT vec_id AS doc_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) AS c
           FROM embeddings, qv WHERE vec_id > 0),
         sem AS (
           SELECT doc_id, CAST(row_number() OVER (ORDER BY c DESC, doc_id)
             AS BIGINT) AS r2
           FROM cosd QUALIFY r2 <= 10),
         com AS (
           SELECT greatest(r1, r2) AS rmax FROM lex JOIN sem USING (doc_id)),
         sp AS (SELECT CAST(d AS BIGINT) AS d FROM generate_series(1, 10) t(d)),
         ad AS (
           SELECT sp.d,
             CAST(sum(CASE WHEN com.rmax IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS a_d
           FROM sp LEFT JOIN com ON com.rmax <= sp.d GROUP BY 1),
         w(d, wv) AS (VALUES
           (1, 1000000000), (2, 900000000), (3, 810000000), (4, 729000000),
           (5, 656100000), (6, 590490000), (7, 531441000), (8, 478296900),
           (9, 430467210), (10, 387420489)),
         t2 AS (
           SELECT ad.d, ad.a_d,
             CAST(wv AS BIGINT) * (2520 // ad.d) * ad.a_d AS term_x
           FROM ad JOIN w ON w.d = ad.d)
         SELECT d, a_d, term_x,
           CAST(sum(term_x) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_x
         FROM t2 ORDER BY d""",

    "q_rrf_fusion" ->
      s"""$bm25CteSql,
         lex AS (
           SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
           FROM sc WHERE score > 0 QUALIFY rank <= 20),
         qv AS (
           SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         cosd AS (
           SELECT vec_id AS doc_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) AS c
           FROM embeddings, qv WHERE vec_id > 0),
         sem AS (
           SELECT doc_id, CAST(row_number() OVER (ORDER BY c DESC, doc_id) AS BIGINT) AS rank
           FROM cosd QUALIFY rank <= 20),
         u AS (
           SELECT doc_id, 0 AS src, rank FROM lex
           UNION ALL
           SELECT doc_id, 1 AS src, rank FROM sem),
         g AS (
           SELECT doc_id,
             min(CASE WHEN src = 0 THEN rank END) AS r_lex,
             min(CASE WHEN src = 1 THEN rank END) AS r_sem
           FROM u GROUP BY doc_id),
         b AS (
           SELECT doc_id, r_lex, r_sem,
             coalesce(CAST(1 AS DOUBLE) / (60 + r_lex), CAST(0 AS DOUBLE))
               + coalesce(CAST(1 AS DOUBLE) / (60 + r_sem), CAST(0 AS DOUBLE)) AS score
           FROM g)
         SELECT doc_id,
           coalesce(r_lex, 0) AS rank_lex,
           coalesce(r_sem, 0) AS rank_sem,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS fused_rank
         FROM b QUALIFY fused_rank <= 10
         ORDER BY fused_rank""",

    // Every span re-derived: shard by modulus, running offsets from a
    // window cumulative sum in the same (shard, doc_id) order, window ids
    // by integral division over the same half-open boundaries.
    "q_pack_sequences" ->
      """WITH t AS (
           SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
               AS BIGINT) AS end_off
           FROM t WHERE n_tokens > 0)
         SELECT doc_id, shard, n_tokens,
           end_off - n_tokens AS start_off,
           (end_off - n_tokens) // 512 AS first_win,
           (end_off - 1) // 512 AS last_win,
           (end_off - 1) // 512 - (end_off - n_tokens) // 512 + 1 AS n_windows
         FROM c ORDER BY doc_id""",

    "q_pack_efficiency" ->
      """WITH t AS (
           SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
               AS BIGINT) AS end_off
           FROM t WHERE n_tokens > 0),
         spans AS (
           SELECT shard, n_tokens,
             (end_off - n_tokens) // 512 AS first_win,
             (end_off - 1) // 512 AS last_win
           FROM c)
         SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(max(last_win) + 1 AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN first_win <> last_win THEN 1 ELSE 0 END)
             AS BIGINT) AS n_spanning_docs,
           CAST((max(last_win) + 1) * 512 - sum(n_tokens) AS BIGINT)
             AS waste_tokens
         FROM spans GROUP BY shard ORDER BY shard""",

    // Both drop paths replayed: the within-delta min-id rule (the
    // q_dedup_exact mirror over the constructed delta) and the
    // corpus-key anti-join (NOT IN over non-null text).
    "q_dedup_incremental" ->
      """WITH delta AS (
           SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id >= 400
           UNION ALL
           SELECT doc_id + 1000, text, lang, n_chars FROM documents WHERE doc_id < 100
           UNION ALL
           SELECT doc_id + 2000, text, lang, n_chars FROM documents
           WHERE doc_id >= 400 AND doc_id < 450),
         dd AS (
           SELECT * FROM delta
           WHERE doc_id IN (SELECT min(doc_id) FROM delta GROUP BY text)),
         corpus AS (SELECT DISTINCT text FROM documents WHERE doc_id < 400)
         SELECT doc_id, lang, n_chars FROM dd
         WHERE text NOT IN (SELECT text FROM corpus)
         ORDER BY doc_id""",

    // Every shingle position, the >= 2 duplication rule, the island merge
    // (cumulative max over span ends), and the per-doc totals all
    // re-derived; a single off-by-one in any span boundary flips the hash.
    "q_dedup_substring" ->
      """WITH d AS (
           SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
           FROM documents WHERE text IS NOT NULL),
         p AS (
           SELECT doc_id, CAST(unnest(range(0, n_chars - 32 + 1)) AS BIGINT) AS pos, text
           FROM d WHERE n_chars >= 32),
         s AS (
           SELECT doc_id, pos, substr(text, CAST(pos + 1 AS BIGINT), 32) AS sh
           FROM p),
         dup AS (SELECT sh FROM s GROUP BY sh HAVING count(*) >= 2),
         dp AS (
           SELECT s.doc_id, s.pos, s.pos + 32 AS e
           FROM s JOIN dup USING (sh)),
         isl AS (
           SELECT doc_id, pos, e,
             CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_isl
           FROM dp),
         g AS (
           SELECT doc_id, pos, e,
             sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
           FROM isl),
         sp AS (
           SELECT doc_id, isl_id, min(pos) AS s0, max(e) AS e0
           FROM g GROUP BY doc_id, isl_id),
         agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
             CAST(sum(e0 - s0) AS BIGINT) AS dup_chars
           FROM sp GROUP BY doc_id)
         SELECT d.doc_id, d.n_chars,
           coalesce(a.n_dup_spans, 0) AS n_dup_spans,
           coalesce(a.dup_chars, 0) AS dup_chars
         FROM d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""",

    // The greedy fold replayed exactly: a recursive CTE walks each shard's
    // documents in id order carrying (bin, bin_fill) — all shards advance
    // in parallel within the recursion, depth = max docs per shard.
    "q_pack_greedy" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, ((doc_id % 8) + 8) % 8 AS shard,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, shard, n_tokens,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
           FROM t WHERE n_tokens > 0),
         s AS (
           SELECT doc_id, shard, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin, n_tokens AS bin_fill
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.doc_id, o.shard, o.n_tokens, o.rn,
             CASE WHEN s.bin_fill + o.n_tokens <= 256 THEN s.bin ELSE s.bin + 1 END,
             CASE WHEN s.bin_fill + o.n_tokens <= 256 THEN s.bin_fill + o.n_tokens ELSE o.n_tokens END
           FROM s JOIN o ON o.shard = s.shard AND o.rn = s.rn + 1)
         SELECT doc_id, shard, n_tokens, bin, bin_fill
         FROM s ORDER BY doc_id""",

    // Every assignment replayed: the same md5-prefix uniform and the same
    // integer cuts (0.8·2^32 = 3435973836, 0.9·2^32 = 3865470566,
    // truncated exactly as portableSplit's .toLong does).
    "q_bottomk_sample" ->
      """SELECT doc_id, source, lang FROM (
           SELECT doc_id, source, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u
           FROM documents
           ORDER BY u, doc_id LIMIT 50)
         ORDER BY doc_id""",

    "q_weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
             CAST(n_chars AS DOUBLE) /
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    + 1 AS DOUBLE) AS p
           FROM documents
           ORDER BY p DESC, doc_id LIMIT 50)
         ORDER BY doc_id""",

    "q_hash_split" ->
      """WITH t AS (
           SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
           FROM documents),
         s AS (
           SELECT doc_id,
             CASE WHEN h < 3435973836 THEN 'train'
                  WHEN h < 3865470566 THEN 'val'
                  ELSE 'test' END AS split
           FROM t)
         SELECT split, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS min_id
         FROM s GROUP BY split ORDER BY split""",

    // dyadic per-stratum cuts on the replayed md5 uniform; HT expansion
    // and ratio calibration each one floored cross-multiplication
    "q_ht_estimate" ->
      """WITH y AS (
           SELECT l_orderkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS y
           FROM lineitem GROUP BY 1),
         o AS (
           SELECT o_orderpriority AS prio,
             CAST(round(o_totalprice * 100) AS BIGINT) AS x,
             coalesce(y, 0) AS y,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 2147483648
                  WHEN o_orderpriority = '2-HIGH' THEN 1073741824
                  ELSE 536870912 END AS cut,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               < CASE WHEN o_orderpriority = '1-URGENT' THEN 2147483648
                      WHEN o_orderpriority = '2-HIGH' THEN 1073741824
                      ELSE 536870912 END AS in_s
           FROM orders LEFT JOIN y ON o_orderkey = l_orderkey),
         ag AS (
           SELECT prio, CAST(count(*) AS BIGINT) AS n_pop,
             CAST(sum(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT) AS n_samp,
             max(cut) AS cut,
             CAST(sum(x) AS BIGINT) AS x_pop,
             CAST(sum(CASE WHEN in_s THEN x ELSE 0 END) AS BIGINT) AS x_samp,
             CAST(sum(CASE WHEN in_s THEN y ELSE 0 END) AS BIGINT) AS y_samp,
             CAST(sum(y) AS BIGINT) AS true_y
           FROM o GROUP BY 1),
         est AS (
           SELECT prio, n_pop, n_samp,
             CAST((CAST(y_samp AS HUGEINT) * 4294967296) // cut AS BIGINT)
               AS ht_y,
             CAST(CASE WHEN x_samp = 0 THEN 0
               ELSE (CAST(x_pop AS HUGEINT) * y_samp) // x_samp END
               AS BIGINT) AS ratio_y,
             true_y
           FROM ag)
         SELECT prio, n_pop, n_samp, ht_y, ratio_y, true_y,
           CAST(CASE WHEN true_y = 0 THEN 0
             ELSE (CAST(ht_y - true_y AS HUGEINT) * 1000000) // true_y END
             AS BIGINT) AS ht_err_pm,
           CAST(CASE WHEN true_y = 0 THEN 0
             ELSE (CAST(ratio_y - true_y AS HUGEINT) * 1000000) // true_y END
             AS BIGINT) AS ratio_err_pm
         FROM est ORDER BY prio""",

    // both one-sided sup gaps cross-multiplied on the value spine; one
    // floored division each for D and the scale-free 1000*n*D^2
    "q_ks_uniform" ->
      """WITH t AS (
           SELECT o_orderpriority AS prio,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               AS u
           FROM orders),
         pv AS (
           SELECT prio, u, CAST(count(*) AS BIGINT) AS m
           FROM t GROUP BY 1, 2),
         cu AS (
           SELECT prio, u, m,
             CAST(sum(m) OVER (PARTITION BY prio ORDER BY u
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS i,
             CAST(sum(m) OVER (PARTITION BY prio) AS BIGINT) AS n
           FROM pv),
         g AS (
           SELECT prio, max(n) AS n,
             greatest(max(CAST(i AS HUGEINT) * 4294967296
               - CAST(u AS HUGEINT) * n), 0) AS dp,
             greatest(max(CAST(u AS HUGEINT) * n
               - CAST(i - m AS HUGEINT) * 4294967296), 0) AS dm
           FROM cu GROUP BY 1)
         SELECT prio, n,
           CAST((greatest(dp, dm) * 1000000)
             // (CAST(n AS HUGEINT) * 4294967296) AS BIGINT) AS d_x1e6,
           CAST((greatest(dp, dm) * greatest(dp, dm) * 1000)
             // (CAST(n AS HUGEINT) * 4294967296 * 4294967296) AS BIGINT)
             AS kn2_x1000
         FROM g ORDER BY prio""",

    // Priority order, cumulative sums, and the cutoff all replayed from
    // the same md5 uniform; emitting every kept row makes a single
    // swapped priority or off-by-one budget comparison visible.
    "q_token_budget" ->
      """WITH t AS (
           SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS prio
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY prio, doc_id)
               AS BIGINT) AS cum
           FROM t WHERE n_tokens > 0)
         SELECT doc_id, source, n_tokens
         FROM c WHERE cum <= 600 ORDER BY doc_id""",

    // Full integer replay of the temperature mix: exact isqrt (seed ±1
    // correction), Hamilton base/remainder shares over the summed
    // weights, the shortfall ranking with its (rem DESC, source ASC)
    // total order, the population cap, and the per-domain md5-priority
    // draw. A single mis-allocated row anywhere flips the hash.
    "q_temperature_mix" ->
      """WITH counts AS (SELECT source, count(*) AS cnt FROM documents
                         WHERE source IS NOT NULL GROUP BY 1),
         sq AS (SELECT source, cnt,
                  CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT) AS r0 FROM counts),
         wt AS (SELECT source, cnt,
                  CASE WHEN (r0+1)*(r0+1) <= cnt THEN r0+1
                       WHEN r0*r0 > cnt THEN r0-1 ELSE r0 END AS w FROM sq),
         tot AS (SELECT source, cnt, w,
                  CAST(sum(w) OVER () AS BIGINT) AS wsum FROM wt),
         base AS (SELECT source, cnt, w,
                  (130 * w) // wsum AS base, (130 * w) % wsum AS rem FROM tot),
         fin AS (SELECT source, cnt, w, base, rem,
                  130 - CAST(sum(base) OVER () AS BIGINT) AS short,
                  row_number() OVER (ORDER BY rem DESC, source ASC) AS rk FROM base),
         tgt AS (SELECT source, cnt, w,
                  least(base + CASE WHEN rk <= short THEN 1 ELSE 0 END, cnt) AS target
                FROM fin),
         pri AS (SELECT d.doc_id, d.source, t.cnt, t.w, t.target,
                  row_number() OVER (PARTITION BY d.source
                    ORDER BY ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT,
                      d.doc_id) AS rn
                FROM documents d JOIN tgt t USING (source))
         SELECT doc_id, source, cnt, w, target
         FROM pri WHERE rn <= target ORDER BY doc_id""",

    // Every batch boundary replayed: same longest-first (n_tokens DESC,
    // doc_id ASC) total order per shard, same (rn-1)//16 cut, same
    // padded/waste integer accounting.
    "q_length_batch" ->
      """WITH t AS (
           SELECT doc_id, doc_id % 4 AS shard,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (
           SELECT shard, n_tokens,
             row_number() OVER (PARTITION BY shard
               ORDER BY n_tokens DESC, doc_id ASC) AS rn
           FROM t WHERE n_tokens > 0),
         b AS (
           SELECT shard, (rn - 1) // 16 AS batch,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(max(n_tokens) AS BIGINT) AS max_tok,
             CAST(sum(n_tokens) AS BIGINT) AS sum_tok
           FROM r GROUP BY 1, 2)
         SELECT shard, batch, n_docs, max_tok, sum_tok,
           n_docs * max_tok AS padded,
           n_docs * max_tok - sum_tok AS waste
         FROM b ORDER BY shard, batch""",

    // The per-row decision replayed in full: the same md5-prefix uniform
    // (('0x' || 8 hex chars)::BIGINT = Spark's conv(..,16,10)), the same
    // integer threshold u*4 < k*2^32, the same per-domain conditional
    // aggregates. A single flipped keep decision anywhere in the corpus
    // moves n_kept/min/max/sum for its domain and flips the hash.
    "q_mix_domains" ->
      """WITH t AS (
           SELECT source, doc_id, n_chars,
             TRY_CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 4 + 1 AS target_num,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
           FROM documents),
         k AS (
           SELECT source, doc_id, n_chars, target_num,
             h * 4 < least(target_num, 4) * 4294967296 AS keep
           FROM t)
         SELECT source,
           min(target_num) AS target_num,
           CAST(count(*) AS BIGINT) AS n_in,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(min(CASE WHEN keep THEN doc_id END), -1) AS min_kept,
           coalesce(max(CASE WHEN keep THEN doc_id END), -1) AS max_kept,
           CAST(coalesce(sum(CASE WHEN keep THEN n_chars END), -1) AS BIGINT) AS sum_chars
         FROM k GROUP BY source ORDER BY source""",

    // Full independent re-derivation: DuckDB rebuilds the quantizer
    // (scale = max|x|/127, round half-away matching Spark's HALF_UP on
    // positives and negatives) and both cosines. Integer dot products are
    // EXACT in double regardless of accumulation order (|q| <= 127, 64
    // dims), and the float cosine uses the proven round-6 equality, so the
    // floor(·1000) buckets are deterministic across engines.
    "q_embed_quantize" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 200),
         q AS (
           SELECT vec_id, v,
             CASE WHEN coalesce(list_max(list_transform(v, x -> abs(x))), 0) = 0
                  THEN 1.0
                  ELSE list_max(list_transform(v, x -> abs(x))) / 127.0 END AS scale
           FROM v),
         qq AS (
           SELECT vec_id, v, list_transform(v, x -> round(x / scale)) AS qv
           FROM q),
         p AS (
           SELECT CAST(floor(round(abs(
                    round(list_cosine_similarity(a.v, b.v), 6)
                  - round(list_cosine_similarity(a.qv, b.qv), 6)), 6) * 1000) AS INTEGER)
                  AS err_bucket
           FROM qq a JOIN qq b ON a.vec_id < b.vec_id)
         SELECT err_bucket, count(*) AS n_pairs
         FROM p GROUP BY err_bucket ORDER BY err_bucket""",

    // Recall-floor certificate (one row): the hash fails iff any query
    // recovers zero true neighbors, or mean recall drops below 40%, or the
    // query count changes. The floors (>= 1 hit/query, mean >= 40%) are
    // DATA-DEPENDENT constants measured on the sf synthetic near-isotropic
    // embeddings — a corpus or generator change can flip this hash without
    // any engine bug; re-measure before blaming the IVF path.
    "q_ann_ivf" ->
      """SELECT count(*) AS n_queries, true AS every_query_ok, true AS mean_ok
         FROM embeddings WHERE vec_id < 5""",

    // Equivalence certificate: the (query × rank) grid with literal `true`
    // — the hash fails iff the written index's results diverge from the
    // ad-hoc IVF job on any neighbor or cosine.
    "q_ann_ivf_indexed" ->
      """SELECT q.query_id, CAST(r.rank AS INTEGER) AS rank,
           true AS same_neighbor, true AS same_cosine
         FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 5) q
         CROSS JOIN (SELECT unnest(range(1, 6)) AS rank) r
         ORDER BY query_id, rank""",
    // the append certificate is all-true agreement rows plus the
    // staleness per-mille replayed from the table's own half counts
    "q_ann_ivf_append" ->
      """WITH base AS (
           SELECT CAST(count(*) AS BIGINT) AS nb FROM embeddings
           WHERE vec_id >= 5 AND vec_id % 2 = 0),
         app AS (
           SELECT CAST(count(*) AS BIGINT) AS na FROM embeddings
           WHERE vec_id >= 5 AND vec_id % 2 = 1)
         SELECT q.query_id, CAST(r.rank AS INTEGER) AS rank,
           true AS same_neighbor, true AS same_cosine,
           CAST(na * 1000 // (nb + na) AS BIGINT) AS staleness_pm
         FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 5) q
         CROSS JOIN (SELECT unnest(range(1, 6)) AS rank) r
         CROSS JOIN base CROSS JOIN app
         ORDER BY query_id, rank""",
    // the compaction certificate: all-true agreement + conservation +
    // no-op rows, staleness 0 after the reset
    "q_ann_ivf_compact" ->
      """SELECT q.query_id, CAST(r.rank AS INTEGER) AS rank,
           true AS same_neighbor, true AS same_cosine,
           CAST(0 AS BIGINT) AS staleness_pm,
           true AS rows_conserved, true AS noop_below_threshold
         FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 5) q
         CROSS JOIN (SELECT unnest(range(1, 6)) AS rank) r
         ORDER BY query_id, rank""",

    // append ≡ encode-all certificate counts plus both staleness rows,
    // replayed from the table's own half counts
    "q_ann_ivfpq_append" ->
      """WITH a AS (
           SELECT CAST(count(*) AS BIGINT) AS na FROM embeddings
           WHERE vec_id >= 5 AND vec_id % 2 = 0),
         b AS (
           SELECT CAST(count(*) AS BIGINT) AS nb FROM embeddings
           WHERE vec_id >= 5 AND vec_id % 2 = 1),
         q AS (
           SELECT CAST(count(*) AS BIGINT) AS nq FROM embeddings
           WHERE vec_id < 5)
         SELECT nq * 10 AS n_app, nq * 10 AS n_all, true AS identical,
           CAST(nb * 1000 // (na + nb) AS BIGINT) AS staleness_app_pm,
           CAST(1000 AS BIGINT) AS staleness_all_pm
         FROM a CROSS JOIN b CROSS JOIN q""",

    // the IVF-PQ compaction certificate: identical serves under the
    // same retrained artifacts, staleness 0, conservation + no-op
    "q_ann_ivfpq_compact" ->
      """WITH q AS (
           SELECT CAST(count(*) AS BIGINT) AS nq FROM embeddings
           WHERE vec_id < 5)
         SELECT nq * 10 AS n_compact, nq * 10 AS n_fresh,
           true AS identical,
           CAST(0 AS BIGINT) AS staleness_compact_pm,
           true AS rows_conserved, true AS noop_below_threshold
         FROM q""",
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn <= 10 ORDER BY doc_id""",

    // The pipeline oracle chains the PROVEN stage mirrors (q_repetition's
    // bigram gate, q_dedup_exact's min-id winner, q_decontaminate's
    // trigram overlap) as CTEs over the same data — certifying stage
    // composition, not just each stage alone.
    "q_pipeline_e2e" ->
      """WITH t AS (
           SELECT doc_id, text, lang, n_chars, string_split(text, ' ') AS tk
           FROM documents),
         b AS (
           SELECT doc_id, text, lang, n_chars,
             CASE WHEN len(tk) >= 2
                  THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
                  ELSE CAST([] AS VARCHAR[]) END AS bg
           FROM t),
         keep1 AS (
           SELECT doc_id, text, lang, n_chars FROM b
           WHERE NOT (len(bg) > 0 AND len(list_distinct(bg)) * 10 <= len(bg) * 8)),
         keep2 AS (
           SELECT * FROM keep1
           WHERE doc_id IN (SELECT min(doc_id) FROM keep1 GROUP BY text)),
         btok AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
           FROM documents WHERE doc_id < 25),
         bsh AS (
           SELECT DISTINCT unnest(
             CASE WHEN len(tk) >= 3
                  THEN list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                  WHEN len(tk) >= 1 THEN [array_to_string(tk, ' ')]
                  ELSE CAST([] AS VARCHAR[]) END) AS h
           FROM btok),
         ctok AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
           FROM keep2 WHERE doc_id >= 25),
         csh AS (
           SELECT doc_id,
             CASE WHEN len(tk) >= 3
                  THEN list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                  WHEN len(tk) >= 1 THEN [array_to_string(tk, ' ')]
                  ELSE CAST([] AS VARCHAR[]) END AS sh
           FROM ctok),
         corp AS (SELECT doc_id, unnest(sh) AS h FROM csh),
         contaminated AS (
           SELECT doc_id FROM corp GROUP BY doc_id
           HAVING count(*) FILTER (WHERE h IN (SELECT h FROM bsh)) * 5 >= count(*)),
         -- zero-shingle docs never reach `corp` (unnest of empty) and are
         -- never contaminated — they survive via csh membership below
         surv AS (
           SELECT doc_id FROM csh
           WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
         SELECT lang, count(*) AS n_docs, min(doc_id) AS min_id,
           max(doc_id) AS max_id, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM keep2 WHERE doc_id IN (SELECT doc_id FROM surv)
         GROUP BY lang ORDER BY lang""",

    // Multimodal oracles replicate the synthetic-media generation arithmetic
    // (Multimodal.imgWidth/imgHeight/imgColor and friends) in closed form —
    // the hash fails unless the REAL PNG/WAV encode→decode round trip
    // returns exactly the generation parameters.
    "q_multimodal_decode" ->
      """SELECT CAST(i AS BIGINT) AS media_id,
           CAST(16 + i % 17 AS INTEGER) AS dec_width,
           CAST(16 + (i * 7) % 13 AS INTEGER) AS dec_height,
           CAST(3 AS INTEGER) AS dec_channels
         FROM range(1, 101) t(i) ORDER BY media_id""",

    // Solid-fill channel means are the fill color exactly; thumbnail target
    // dims use the same integer floor division as MediaCodec.resizeToMaxDim
    // (w,h >= 16 > 12, so the resize always fires).
    "q_multimodal_features" ->
      """WITH g AS (
           SELECT i, 16 + i % 17 AS w, 16 + (i * 7) % 13 AS h,
             i % 256 AS r, (i * 3) % 256 AS gg, (i * 5) % 256 AS b
           FROM range(1, 61) t(i))
         SELECT CAST(i AS BIGINT) AS media_id,
           CAST(r AS INTEGER) AS mean_r, CAST(gg AS INTEGER) AS mean_g,
           CAST(b AS INTEGER) AS mean_b,
           CAST(CASE WHEN w >= h THEN 12 ELSE greatest(1, (w * 12) // h) END
                AS INTEGER) AS r_width,
           CAST(CASE WHEN w >= h THEN greatest(1, (h * 12) // w) ELSE 12 END
                AS INTEGER) AS r_height
         FROM g ORDER BY media_id""",

    // 4 samples from 8 packed frames: src_frame = frame_no * 8 // 4, frame
    // dims from the per-frame generation arithmetic.
    "q_multimodal_frames" ->
      """WITH f AS (
           SELECT v.i AS i, j.f AS fno, (j.f * 8) // 4 AS k
           FROM range(1, 21) v(i) CROSS JOIN range(0, 4) j(f))
         SELECT CAST(i AS BIGINT) AS media_id, CAST(fno AS INTEGER) AS frame_no,
           CAST(k AS INTEGER) AS src_frame,
           CAST(8 + (i + k) % 9 AS INTEGER) AS f_width,
           CAST(8 + (i * 3 + k) % 7 AS INTEGER) AS f_height
         FROM f ORDER BY media_id, frame_no""",

    "q_multimodal_audio" ->
      """WITH a AS (
           SELECT i, 8000 + (i % 8) * 1000 AS rate, 4000 + (i % 5) * 800 AS ns
           FROM range(1, 41) t(i))
         SELECT CAST(i AS BIGINT) AS media_id,
           CAST(rate AS INTEGER) AS sample_rate_dec,
           CAST(ns AS BIGINT) AS n_frames,
           CAST(ns * 1000 // rate AS BIGINT) AS duration_ms
         FROM a ORDER BY media_id""",

    "q_dedup_cc" ->
      """WITH RECURSIVE prs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM (SELECT * FROM documents WHERE doc_id < 500) a
           JOIN (SELECT * FROM documents WHERE doc_id < 500) b
             ON a.lang = b.lang AND a.doc_id < b.doc_id
            AND abs(a.n_chars - b.n_chars) <= 1),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM prs
           UNION SELECT id_b, id_a FROM prs),
         verts AS (SELECT DISTINCT src AS id FROM edges),
         reach AS (
           SELECT id, id AS m FROM verts
           UNION
           SELECT e.dst AS id, r.m FROM reach r JOIN edges e ON e.src = r.id)
         SELECT id, min(m) AS label FROM reach GROUP BY id ORDER BY id""",

    "q_dedup_cluster_stats" ->
      """WITH RECURSIVE prs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM (SELECT * FROM documents WHERE doc_id < 500) a
           JOIN (SELECT * FROM documents WHERE doc_id < 500) b
             ON a.lang = b.lang AND a.doc_id < b.doc_id
            AND abs(a.n_chars - b.n_chars) <= 1),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM prs
           UNION SELECT id_b, id_a FROM prs),
         verts AS (SELECT DISTINCT src AS id FROM edges),
         reach AS (
           SELECT id, id AS m FROM verts
           UNION
           SELECT e.dst AS id, r.m FROM reach r JOIN edges e ON e.src = r.id),
         labels AS (SELECT id, min(m) AS label FROM reach GROUP BY id),
         sizes AS (
           SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
           FROM labels GROUP BY 1)
         SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM sizes GROUP BY 1 ORDER BY cluster_size""",

    "q_triangles" ->
      """WITH d AS (
           SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 500),
         e AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
            AND abs(a.n_chars - b.n_chars) <= 1)
         SELECT count(*) AS n_triangles
         FROM e e1
         JOIN e e2 ON e1.b = e2.a
         JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""",

    // symmetrized degrees, canonical wedge-edge closure, the per-mille
    // floor — the q_triangles pair graph at node granularity
    "q_clustering_coeff" ->
      """WITH d AS (
           SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 500),
         p AS (
           SELECT a.doc_id AS pa, b.doc_id AS pb
           FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
            AND abs(a.n_chars - b.n_chars) <= 1),
         und AS (SELECT pa AS a, pb AS b FROM p
                 UNION SELECT pb AS a, pa AS b FROM p),
         deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
                 FROM und GROUP BY 1),
         canon AS (SELECT a AS u, b AS w FROM und WHERE a < b),
         wg AS (
           SELECT x.a AS v, x.b AS u, y.b AS w
           FROM und x JOIN und y ON x.a = y.a AND x.b < y.b),
         tri AS (
           SELECT v AS id, CAST(count(*) AS BIGINT) AS t
           FROM wg JOIN canon ON wg.u = canon.u AND wg.w = canon.w
           GROUP BY 1)
         SELECT deg.id AS id, degree, COALESCE(t, 0) AS n_tri,
           CASE WHEN degree < 2 THEN 0
                ELSE (2000 * COALESCE(t, 0)) // (degree * (degree - 1))
           END AS lcc_pm
         FROM deg LEFT JOIN tri ON deg.id = tri.id ORDER BY id""",

    // exact-moment Pearson of endpoint degrees, the regression double
    // tree mirrored
    "q_assortativity" ->
      """WITH d AS (
           SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 500),
         p AS (
           SELECT a.doc_id AS pa, b.doc_id AS pb
           FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
            AND abs(a.n_chars - b.n_chars) <= 1),
         und AS (SELECT pa AS a, pb AS b FROM p
                 UNION SELECT pb AS a, pa AS b FROM p),
         deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
                 FROM und GROUP BY 1),
         e2 AS (
           SELECT d1.degree AS x, d2.degree AS y
           FROM und JOIN deg d1 ON und.a = d1.id
                    JOIN deg d2 ON und.b = d2.id),
         m AS (
           SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
           FROM e2)
         SELECT CAST(n AS BIGINT) AS n_ends,
           (n * sxy - sx * sy)
             / sqrt(nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0))
             AS assortativity
         FROM m""",

    // one edge⋈degree join; every cut a conditional sum
    "q_rich_club" ->
      """WITH d AS (
           SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 500),
         e AS (
           SELECT a.doc_id AS u, b.doc_id AS w
           FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
            AND abs(a.n_chars - b.n_chars) <= 1),
         und AS (SELECT u, w FROM e UNION ALL SELECT w AS u, u AS w FROM e),
         deg AS (
           SELECT u AS id, CAST(count(*) AS BIGINT) AS dg
           FROM und GROUP BY 1),
         ej AS (
           SELECT du.dg AS du, dw.dg AS dw
           FROM e JOIN deg du ON e.u = du.id JOIN deg dw ON e.w = dw.id),
         ea AS (
           SELECT
             CAST(sum(CASE WHEN du > 2 AND dw > 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS e2,
             CAST(sum(CASE WHEN du > 4 AND dw > 4 THEN 1 ELSE 0 END)
               AS BIGINT) AS e4,
             CAST(sum(CASE WHEN du > 8 AND dw > 8 THEN 1 ELSE 0 END)
               AS BIGINT) AS e8
           FROM ej),
         na AS (
           SELECT
             CAST(sum(CASE WHEN dg > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN dg > 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
             CAST(sum(CASE WHEN dg > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n8
           FROM deg),
         rows_ AS (
           SELECT CAST(2 AS BIGINT) AS k, n2 AS n_k, e2 AS e_k
           FROM na CROSS JOIN ea
           UNION ALL SELECT 4, n4, e4 FROM na CROSS JOIN ea
           UNION ALL SELECT 8, n8, e8 FROM na CROSS JOIN ea)
         SELECT k, n_k, e_k,
           CAST(CASE WHEN n_k < 2 THEN 0
                ELSE (CAST(2000 AS HUGEINT) * e_k)
                  // (CAST(n_k AS HUGEINT) * (n_k - 1)) END AS BIGINT)
             AS rc_pm
         FROM rows_ ORDER BY k""",

    // closed-form census over degrees + the one triangle join
    "q_triad_census" ->
      """WITH d AS (
           SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 500),
         e AS (
           SELECT a.doc_id AS u, b.doc_id AS w
           FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
            AND abs(a.n_chars - b.n_chars) <= 1),
         und AS (SELECT u, w FROM e UNION ALL SELECT w AS u, u AS w FROM e),
         deg AS (
           SELECT u AS id, CAST(count(*) AS BIGINT) AS dg
           FROM und GROUP BY 1),
         da AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dg) AS BIGINT) AS d2m,
             CAST(sum(CAST(dg AS HUGEINT) * (dg - 1)) // 2 AS BIGINT)
               AS wedges
           FROM deg),
         tri AS (
           SELECT CAST(count(*) AS BIGINT) AS t3
           FROM e e1
           JOIN e e2 ON e1.w = e2.u
           JOIN e e3 ON e3.u = e1.u AND e3.w = e2.w),
         base AS (
           SELECT n, d2m // 2 AS m, wedges, t3 FROM da CROSS JOIN tri)
         SELECT n AS n_nodes, m AS n_edges, wedges,
           CAST((CAST(n AS HUGEINT) * (n - 1) * (n - 2)) // 6
                - (m * (n - 2) - 2 * wedges + 3 * t3)
                - (wedges - 3 * t3) - t3 AS BIGINT) AS t0,
           CAST(m * (n - 2) - 2 * wedges + 3 * t3 AS BIGINT) AS t1,
           CAST(wedges - 3 * t3 AS BIGINT) AS t2,
           t3
         FROM base""",

    // per-community 4·m·e_c − d_c² witnesses over the undirected
    // distinct-pair spine; the partition is a plain dimension join
    "q_modularity" ->
      """WITH und AS (
           SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
             greatest(a.l_suppkey, b.l_suppkey) AS v
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
            AND a.l_returnflag = 'R' AND b.l_returnflag = 'A'),
         m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM und),
         lab AS (
           SELECT s_suppkey AS id, n_name AS comm
           FROM supplier JOIN nation ON s_nationkey = n_nationkey),
         deg AS (
           SELECT id, CAST(count(*) AS BIGINT) AS deg
           FROM (SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
           GROUP BY 1),
         ds AS (
           SELECT comm, CAST(sum(deg) AS BIGINT) AS d_sum,
             CAST(count(*) AS BIGINT) AS n_nodes
           FROM deg JOIN lab USING (id) GROUP BY 1),
         ie AS (
           SELECT lu.comm AS comm, CAST(count(*) AS BIGINT) AS e_intra
           FROM und JOIN lab lu ON und.u = lu.id
                    JOIN lab lv ON und.v = lv.id
           WHERE lu.comm = lv.comm GROUP BY 1)
         SELECT ds.comm AS comm, n_nodes, d_sum,
           CAST(coalesce(e_intra, 0) AS BIGINT) AS e_intra, m_edges,
           CAST(4 * m_edges * coalesce(e_intra, 0) - d_sum * d_sum
             AS BIGINT) AS contrib_x4m2
         FROM ds LEFT JOIN ie ON ds.comm = ie.comm
         CROSS JOIN m ORDER BY comm""",

    // The whole 3-round fixed-point iteration replayed: same integer
    // floor-divisions, same DECIMAL/HUGEINT message sums, same teleport
    // constant (15% of the 1e12 scale). One drifted division anywhere in
    // any round flips every downstream score.
    "q_pagerank" ->
      """WITH pairs AS (
           SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
            AND a.l_returnflag = 'R' AND b.l_returnflag = 'A'),
         nodes AS (
           SELECT DISTINCT src AS id FROM pairs
           UNION SELECT DISTINCT dst FROM pairs),
         deg AS (SELECT src, count(*) AS deg FROM pairs GROUP BY 1),
         s0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS score FROM nodes),
         m1 AS (
           SELECT p.dst AS id, sum(s.score // d.deg) AS in_sum
           FROM pairs p JOIN s0 s ON p.src = s.id JOIN deg d ON p.src = d.src
           GROUP BY 1),
         s1 AS (
           SELECT n.id,
             CAST(150000000000 + CAST(coalesce(m1.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN m1 ON n.id = m1.id),
         m2 AS (
           SELECT p.dst AS id, sum(s.score // d.deg) AS in_sum
           FROM pairs p JOIN s1 s ON p.src = s.id JOIN deg d ON p.src = d.src
           GROUP BY 1),
         s2 AS (
           SELECT n.id,
             CAST(150000000000 + CAST(coalesce(m2.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN m2 ON n.id = m2.id),
         m3 AS (
           SELECT p.dst AS id, sum(s.score // d.deg) AS in_sum
           FROM pairs p JOIN s2 s ON p.src = s.id JOIN deg d ON p.src = d.src
           GROUP BY 1),
         s3 AS (
           SELECT n.id,
             CAST(150000000000 + CAST(coalesce(m3.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN m3 ON n.id = m3.id)
         SELECT id AS s_suppkey, score AS pr FROM s3 ORDER BY s_suppkey""",

    // damped walk counting ×4³: p_k = join-chain walk counts, score =
    // 64 + 16·p1 + 4·p2 + p3 over the node spine — zero divisions
    "q_katz" ->
      """WITH ra AS (
           SELECT l_orderkey, l_suppkey AS src FROM lineitem
           WHERE l_returnflag = 'R'),
         ab AS (
           SELECT l_orderkey, l_suppkey AS dst FROM lineitem
           WHERE l_returnflag = 'A'),
         pairs AS (
           SELECT DISTINCT src, dst FROM ra JOIN ab USING (l_orderkey)
           WHERE src <> dst),
         nodes AS (
           SELECT DISTINCT src AS id FROM pairs
           UNION SELECT DISTINCT dst FROM pairs),
         p1 AS (
           SELECT dst AS id, CAST(count(*) AS HUGEINT) AS pk
           FROM pairs GROUP BY 1),
         p2 AS (
           SELECT p.dst AS id, sum(p1.pk) AS pk
           FROM pairs p JOIN p1 ON p.src = p1.id GROUP BY 1),
         p3 AS (
           SELECT p.dst AS id, sum(p2.pk) AS pk
           FROM pairs p JOIN p2 ON p.src = p2.id GROUP BY 1)
         SELECT n.id AS s_suppkey,
           CAST(64 + 16 * coalesce(p1.pk, 0) + 4 * coalesce(p2.pk, 0)
             + coalesce(p3.pk, 0) AS BIGINT) AS katz_num
         FROM nodes n
         LEFT JOIN p1 ON n.id = p1.id
         LEFT JOIN p2 ON n.id = p2.id
         LEFT JOIN p3 ON n.id = p3.id
         ORDER BY s_suppkey""",

    // q_pagerank's 3-round replay on the window-2 word graph; top-20
    // after the final round
    "q_textrank" ->
      s"""WITH tk AS (
           SELECT doc_id, unnest(t) AS tok,
             generate_subscripts(t, 1) - 1 AS pos
           FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                 FROM documents WHERE lang = 'en')),
         nf AS (
           SELECT doc_id, pos, tok FROM tk
           WHERE tok NOT IN ($stopwordInList)),
         ld AS (
           SELECT tok, lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2
           FROM nf
           WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         fw AS (
           SELECT tok AS src, t1 AS dst FROM ld
           WHERE t1 IS NOT NULL AND tok <> t1
           UNION ALL
           SELECT tok AS src, t2 AS dst FROM ld
           WHERE t2 IS NOT NULL AND tok <> t2),
         pairs AS (
           SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM fw
             UNION ALL SELECT dst AS src, src AS dst FROM fw)),
         nodes AS (
           SELECT DISTINCT src AS id FROM pairs
           UNION SELECT DISTINCT dst FROM pairs),
         deg AS (SELECT src, count(*) AS deg FROM pairs GROUP BY 1),
         s0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS score FROM nodes),
         m1 AS (
           SELECT p.dst AS id, sum(s.score // d.deg) AS in_sum
           FROM pairs p JOIN s0 s ON p.src = s.id JOIN deg d ON p.src = d.src
           GROUP BY 1),
         s1 AS (
           SELECT n.id,
             CAST(150000000000 + CAST(coalesce(m1.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN m1 ON n.id = m1.id),
         m2 AS (
           SELECT p.dst AS id, sum(s.score // d.deg) AS in_sum
           FROM pairs p JOIN s1 s ON p.src = s.id JOIN deg d ON p.src = d.src
           GROUP BY 1),
         s2 AS (
           SELECT n.id,
             CAST(150000000000 + CAST(coalesce(m2.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN m2 ON n.id = m2.id),
         m3 AS (
           SELECT p.dst AS id, sum(s.score // d.deg) AS in_sum
           FROM pairs p JOIN s2 s ON p.src = s.id JOIN deg d ON p.src = d.src
           GROUP BY 1),
         s3 AS (
           SELECT n.id,
             CAST(150000000000 + CAST(coalesce(m3.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN m3 ON n.id = m3.id)
         SELECT CAST(row_number() OVER (ORDER BY score DESC, id) AS BIGINT)
             AS rank,
           id AS tok, score
         FROM s3 QUALIFY rank <= 20 ORDER BY rank""",

    // q_pagerank's replay with the seed conditionals: teleport (and the
    // full-scale init) only where id is in the NATION_1 seed set.
    "q_ppr" ->
      """WITH pairs AS (
           SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
            AND a.l_returnflag = 'R' AND b.l_returnflag = 'A'),
         nodes AS (
           SELECT DISTINCT src AS id FROM pairs
           UNION SELECT DISTINCT dst FROM pairs),
         seeds AS (SELECT s_suppkey AS id FROM supplier WHERE s_nationkey = 1),
         deg AS (SELECT src, count(*) AS deg FROM pairs GROUP BY 1),
         s0 AS (
           SELECT n.id,
             CAST(CASE WHEN sd.id IS NOT NULL THEN 1000000000000 ELSE 0 END AS BIGINT) AS score
           FROM nodes n LEFT JOIN seeds sd ON n.id = sd.id),
         m1 AS (
           SELECT p.dst AS id, sum(s.score // d.deg) AS in_sum
           FROM pairs p JOIN s0 s ON p.src = s.id JOIN deg d ON p.src = d.src
           GROUP BY 1),
         s1 AS (
           SELECT n.id,
             CAST(CASE WHEN sd.id IS NOT NULL THEN 150000000000 ELSE 0 END
               + CAST(coalesce(m1.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN seeds sd ON n.id = sd.id
             LEFT JOIN m1 ON n.id = m1.id),
         m2 AS (
           SELECT p.dst AS id, sum(s.score // d.deg) AS in_sum
           FROM pairs p JOIN s1 s ON p.src = s.id JOIN deg d ON p.src = d.src
           GROUP BY 1),
         s2 AS (
           SELECT n.id,
             CAST(CASE WHEN sd.id IS NOT NULL THEN 150000000000 ELSE 0 END
               + CAST(coalesce(m2.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN seeds sd ON n.id = sd.id
             LEFT JOIN m2 ON n.id = m2.id),
         m3 AS (
           SELECT p.dst AS id, sum(s.score // d.deg) AS in_sum
           FROM pairs p JOIN s2 s ON p.src = s.id JOIN deg d ON p.src = d.src
           GROUP BY 1),
         s3 AS (
           SELECT n.id,
             CAST(CASE WHEN sd.id IS NOT NULL THEN 150000000000 ELSE 0 END
               + CAST(coalesce(m3.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN seeds sd ON n.id = sd.id
             LEFT JOIN m3 ON n.id = m3.id)
         SELECT id AS s_suppkey, score AS ppr FROM s3 ORDER BY s_suppkey""",

    // Components mirror = q_dedup_cc's proven recursive CTE; quality
    // mirror = q_text_quality's proven arithmetic; the argmax runs on the
    // same rounded doubles with the same id tiebreak.
    "q_dedup_canonical" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id, lang, n_chars, text FROM documents WHERE doc_id < 500),
         prs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
            AND abs(a.n_chars - b.n_chars) <= 1),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM prs
           UNION SELECT id_b, id_a FROM prs),
         verts AS (SELECT DISTINCT src AS id FROM edges),
         reach AS (
           SELECT id, id AS m FROM verts
           UNION
           SELECT e.dst AS id, r.m FROM reach r JOIN edges e ON e.src = r.id),
         lab AS (SELECT id, min(m) AS label FROM reach GROUP BY id),
         f AS (
           SELECT doc_id,
             CASE WHEN length(text) = 0 THEN 1.0
                  ELSE CAST(length(text) AS DOUBLE) END AS safe_len,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS n_alpha,
             CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) AS n_punct
           FROM d),
         qv AS (
           SELECT doc_id,
             round(least(n_tokens / 20.0, 1.0) * 0.3
                   + (n_alpha / safe_len) * 0.5
                   + greatest(0.0, 1.0 - (n_punct / safe_len) * 4.0) * 0.2, 4) AS q
           FROM f),
         lb AS (
           SELECT d.doc_id, coalesce(l.label, d.doc_id) AS label, qv.q
           FROM d LEFT JOIN lab l ON l.id = d.doc_id
           JOIN qv ON qv.doc_id = d.doc_id)
         SELECT label, doc_id AS canonical_id,
           CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS n_members,
           q AS best_quality
         FROM lb
         QUALIFY row_number() OVER (PARTITION BY label ORDER BY q DESC, doc_id) = 1
         ORDER BY label""",

    "q_df_cut" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents),
         hot AS (
           SELECT tok FROM toks GROUP BY tok
           HAVING count(DISTINCT doc_id) >= 0.8 * (SELECT count(*) FROM documents))
         SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
         FROM toks WHERE tok NOT IN (SELECT tok FROM hot)
         GROUP BY doc_id ORDER BY doc_id""",

    "q_pii_redact" ->
      ("""WITH p AS (
           SELECT doc_id,
             text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.' ||
             CAST(doc_id % 200 AS VARCHAR) || '.7 tel +1 555 01' ||
             CAST(doc_id % 90 + 10 AS VARCHAR) AS t
           FROM documents)
         SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '""" + graft.operators.TextAnalysis.emailRe + """', '<EMAIL>', 'g'),
               '""" + graft.operators.TextAnalysis.ipv4Re + """', '<IP>', 'g'),
             '""" + graft.operators.TextAnalysis.phoneRe + """', '<PHONE>', 'g') AS redacted
         FROM p ORDER BY doc_id"""),

    // Exact brute-force ANN is SQL-expressible: DuckDB's
    // list_cosine_similarity over DOUBLE[] (float32 would drift against
    // the engine's double kernel) reproduces the fused-kernel cosine
    // bit-for-bit after round(6).
    "q_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 5),
              c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id >= 5),
              s AS (SELECT query_id, id, list_cosine_similarity(v, qv) AS cos FROM c, q),
              r AS (SELECT query_id, id AS neighbor_id, round(cos, 6) AS cosine,
                      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id ASC) AS rank
                    FROM s)
         SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",

    "q_knn_classify" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings WHERE vec_id >= 20),
         s AS (SELECT query_id, id, label,
                 list_cosine_similarity(v, qv) AS cos FROM c, q),
         r AS (SELECT query_id, id, label,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, id ASC) AS rank
               FROM s),
         v AS (SELECT query_id, CAST(label AS INTEGER) AS label,
                 count(*) AS votes
               FROM r WHERE rank <= 10 GROUP BY 1, 2),
         p AS (SELECT query_id, label, votes,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY votes DESC, label ASC) AS rn
               FROM v)
         SELECT query_id, label AS pred_label, CAST(votes AS BIGINT) AS votes
         FROM p WHERE rn = 1 ORDER BY query_id""",
    "q_dedup_exact" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
         ORDER BY doc_id""",

    "q_token_count" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_tokens_bpe
         FROM documents ORDER BY doc_id""",

    "q_text_quality" ->
      """WITH f AS (
           SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS len,
             CASE WHEN length(text) = 0 THEN 1.0 ELSE CAST(length(text) AS DOUBLE) END AS safe_len,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tokens,
             CASE WHEN len(regexp_extract_all(text, '\S+')) = 0 THEN 1.0
                  ELSE CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) END AS safe_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS n_alpha,
             CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) AS n_punct,
             CAST(len(regexp_extract_all(text, '\s')) AS DOUBLE) AS n_space,
             CAST(len(regexp_extract_all(text, '\S')) AS DOUBLE) AS n_nonspace
           FROM documents)
         SELECT doc_id,
           round(n_alpha / safe_len, 4) AS alpha_ratio,
           round(n_space / safe_len, 4) AS space_ratio,
           round(n_nonspace / safe_tokens, 4) AS mean_token_len,
           round(least(n_tokens / 20.0, 1.0) * 0.3
                 + (n_alpha / safe_len) * 0.5
                 + greatest(0.0, 1.0 - (n_punct / safe_len) * 4.0) * 0.2, 4) AS quality_score
         FROM f ORDER BY doc_id""",

    "q_langid" -> langIdSql,

    "q_codeswitch" -> codeSwitchSql,

    "q_readability" ->
      """WITH f AS (
           SELECT doc_id,
             CAST(greatest(len(regexp_extract_all(text, '\S+')), 1)
               AS BIGINT) AS w,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS sen,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS sy
           FROM documents)
         SELECT doc_id, w AS n_words, sen AS n_sents, sy AS n_syllables,
           CAST(39 * w * w + 1180 * sy * sen - 1559 * w * sen AS DOUBLE)
             / CAST(100 * w * sen AS DOUBLE) AS fk_grade
         FROM f ORDER BY doc_id""",

    "q_ttr" ->
      """WITH tok AS (
           SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
           CAST(count(DISTINCT tok) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS ttr
         FROM tok GROUP BY 1 ORDER BY doc_id""",

    // Each class count replays independently via length(regexp_replace
    // keep-class); n_other closes the census against the code-point
    // length. RE2 classes mirror the kernel's exactly.
    "q_charclass" ->
      """SELECT doc_id,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
           CAST(length(regexp_replace(text, '[^ \t\n\r\f\v]', '', 'g')) AS BIGINT) AS n_space,
           CAST(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(length(text)
             - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             - length(regexp_replace(text, '[^0-9]', '', 'g'))
             - length(regexp_replace(text, '[^ \t\n\r\f\v]', '', 'g'))
             - length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS BIGINT)
             AS n_other,
           CAST(length(text) AS BIGINT) AS n_cp
         FROM documents ORDER BY doc_id""",

    "q_top_terms" ->
      """WITH tf AS (
           SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents),
         c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
               FROM tf GROUP BY 1, 2)
         SELECT lang,
           CAST(row_number() OVER (PARTITION BY lang
             ORDER BY cnt DESC, tok ASC) AS INTEGER) AS rank,
           tok, cnt
         FROM c
         QUALIFY rank <= 5
         ORDER BY lang, rank""",

    // stopword-boundary segmentation via positional cumsum; floored
    // per-mille deg/freq word scores summed per phrase
    "q_rake" ->
      s"""WITH tk AS (
           SELECT doc_id, unnest(t) AS tok,
             generate_subscripts(t, 1) - 1 AS pos
           FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS t
                 FROM documents WHERE lang = 'en')),
         mk AS (
           SELECT doc_id, pos, tok,
             tok IN ($stopwordInList) AS is_stop
           FROM tk),
         sg AS (
           SELECT doc_id, pos, tok,
             sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS seg
           FROM mk QUALIFY NOT is_stop),
         ph AS (
           SELECT doc_id, seg, CAST(count(*) AS BIGINT) AS plen,
             string_agg(tok, ' ' ORDER BY pos) AS phrase
           FROM sg GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 4),
         occ AS (
           SELECT sg.doc_id, sg.seg, sg.tok, ph.plen
           FROM sg JOIN ph USING (doc_id, seg)),
         ws AS (
           SELECT tok, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS deg
           FROM occ GROUP BY 1),
         ps AS (
           SELECT occ.doc_id, occ.seg,
             CAST(sum((1000 * deg) // freq) AS BIGINT) AS score_pm
           FROM occ JOIN ws USING (tok) GROUP BY 1, 2),
         pr AS (
           SELECT phrase, CAST(max(score_pm) AS BIGINT) AS score_pm,
             CAST(count(*) AS BIGINT) AS n_occ
           FROM ps JOIN ph USING (doc_id, seg) GROUP BY 1)
         SELECT CAST(row_number() OVER (ORDER BY score_pm DESC, phrase)
             AS BIGINT) AS rank,
           phrase, n_occ, score_pm
         FROM pr QUALIFY rank <= 15 ORDER BY rank""",

    "q_length_log2" ->
      """SELECT CAST(length(bin(length(text))) - 1 AS INTEGER) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM documents WHERE length(text) > 0
         GROUP BY 1 ORDER BY log2_bucket""",

    "q_simpson" ->
      """WITH tok AS (
           SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents),
         tf AS (SELECT lang, tok, count(*) AS c FROM tok
                WHERE tok <> '' GROUP BY 1, 2)
         SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c * (c - 1)) AS BIGINT) AS coincide_pairs,
           CAST(sum(c) * (sum(c) - 1) AS BIGINT) AS total_pairs
         FROM tf GROUP BY lang ORDER BY lang""",

    "q_vocab_growth" ->
      """WITH tok AS (
           SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents),
         per_doc AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
           FROM tok GROUP BY 1),
         firsts AS (
           SELECT min(doc_id) AS doc_id FROM tok GROUP BY tok),
         news AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS new_types
           FROM firsts GROUP BY 1)
         SELECT p.doc_id, p.n_tokens,
           CAST(coalesce(n.new_types, 0) AS BIGINT) AS new_types,
           CAST(sum(p.n_tokens) OVER (ORDER BY p.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens,
           CAST(sum(coalesce(n.new_types, 0)) OVER (ORDER BY p.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_vocab
         FROM per_doc p LEFT JOIN news n ON p.doc_id = n.doc_id
         ORDER BY p.doc_id""",

    "q_feature_hash" ->
      """WITH tok AS (
           SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents WHERE doc_id < 300),
         h AS (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                   c -> CAST(unicode(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) % 64 AS bucket
           FROM tok)
         SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
         FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket""",

    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
              b AS (SELECT doc_id,
                      CASE WHEN len(tk) >= 2
                           THEN list_transform(range(1, len(tk)),
                                               i -> tk[i] || ' ' || tk[i + 1])
                           ELSE CAST([] AS VARCHAR[]) END AS bg
                    FROM t)
         SELECT doc_id,
           CAST(len(bg) AS INTEGER) AS n_bigrams,
           CAST(len(list_distinct(bg)) AS INTEGER) AS n_distinct,
           len(bg) > 0 AND len(list_distinct(bg)) * 10 <= len(bg) * 8 AS is_repetitive
         FROM b ORDER BY doc_id""",

    // The same fixed ⌊CDF·2^32⌋ thresholds, the same md5 uniform — the
    // whole resample replays exactly, weights and all.
    "q_bootstrap" ->
      """WITH o AS (
           SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM orders),
         x AS (
           SELECT rep, cents,
             ('0x' || substr(md5(o_orderkey || ':' || rep), 1, 8))::BIGINT AS u
           FROM o, (SELECT unnest(range(0, 10)) AS rep)),
         w AS (
           SELECT rep, cents,
             CAST(len(list_filter([1580030168, 3160060337, 3950075421,
               4213413783, 4279248373, 4292415291, 4294609777, 4294923276],
               c -> u >= c)) AS BIGINT) AS w
           FROM x)
         SELECT rep, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(w) AS BIGINT) AS n_eff,
           CAST(sum(w * cents) AS BIGINT) AS sum_cents
         FROM w GROUP BY rep ORDER BY rep""",

    "q_vocab_overlap" ->
      """WITH types AS (
           SELECT DISTINCT lang,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents),
         sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM types GROUP BY 1),
         inter AS (
           SELECT a.lang AS lang_a, b.lang AS lang_b,
             CAST(count(*) AS BIGINT) AS n_inter
           FROM types a JOIN types b
             ON a.tok = b.tok AND a.lang < b.lang
           GROUP BY 1, 2)
         SELECT lang_a, lang_b, na.n AS n_a, nb.n AS n_b, n_inter,
           CAST(na.n + nb.n - n_inter AS BIGINT) AS n_union
         FROM inter JOIN sizes na ON na.lang = lang_a
                    JOIN sizes nb ON nb.lang = lang_b
         ORDER BY lang_a, lang_b""",

    "q_kfold" ->
      """WITH f AS (
           SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5
               AS fold
           FROM documents)
         SELECT fold, lang, count(*) AS n_docs, min(doc_id) AS min_doc
         FROM f GROUP BY 1, 2 ORDER BY fold, lang""",

    // Quality mirror = q_text_quality's proven arithmetic; the rank is
    // the same (score desc, id) total order.
    "q_curriculum" ->
      """WITH f AS (
           SELECT doc_id,
             CASE WHEN length(text) = 0 THEN 1.0
                  ELSE CAST(length(text) AS DOUBLE) END AS safe_len,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS n_alpha,
             CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS DOUBLE) AS n_punct
           FROM documents),
         qv AS (
           SELECT doc_id,
             round(least(n_tokens / 20.0, 1.0) * 0.3
                   + (n_alpha / safe_len) * 0.5
                   + greatest(0.0, 1.0 - (n_punct / safe_len) * 4.0) * 0.2, 4)
               AS quality_score
           FROM f)
         SELECT doc_id, quality_score,
           CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id)
                AS INTEGER) AS curriculum_rank
         FROM qv ORDER BY curriculum_rank""",

    "q_vocab_encode" ->
      """WITH ct AS (
           SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         vc AS (SELECT token, count(*) AS freq FROM ct
                WHERE token <> '' GROUP BY token),
         vocab AS (
           SELECT token,
             CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS token_id
           FROM vc QUALIFY token_id <= 1000),
         tok AS (
           SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
           FROM documents WHERE doc_id < 200)
         SELECT t.doc_id, CAST(t.pos - 1 AS INTEGER) AS pos,
           coalesce(v.token_id, 0) AS token_id
         FROM tok t LEFT JOIN vocab v USING (token)
         ORDER BY doc_id, pos""",

    "q_zipf_tokens" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
              c AS (SELECT lang, token, count(*) AS n FROM tok
                    WHERE token <> '' GROUP BY lang, token),
              r AS (SELECT lang, token, n,
                      row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rk
                    FROM c)
         SELECT lang, token, n, CAST(rk AS INTEGER) AS rk
         FROM r WHERE rk <= 5 ORDER BY lang, rk""",

    "q_heavy_hitters" ->
      """WITH t AS (
           SELECT lang, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
           FROM documents),
         c AS (SELECT lang, token, count(*) AS cnt FROM t WHERE token <> '' GROUP BY 1, 2),
         r AS (SELECT lang, token, cnt,
                 row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rn
               FROM c)
         SELECT lang, token, cnt FROM r WHERE rn <= 5
         ORDER BY lang, cnt DESC, token""",

    "q_fingerprint" ->
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 string_split(regexp_replace(trim(regexp_replace(text, '[^ -~]', '', 'g')), '\s+', ' ', 'g'), ''),
                 c -> CAST(unicode(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
         FROM documents ORDER BY doc_id""",

    // The full SimHash replay in SQL (closing the last two rows-only
    // entries): FNV-1a 64 per distinct token as a HUGEINT lambda fold
    // (wrap-around multiply = mod 2^64 — exact, since hugeint holds the
    // 104-bit intermediate), per-(doc, bit) majority vote, then the
    // 64-bit fingerprint reassembled by shifted sums and re-signed into
    // BIGINT two's complement. The testdata corpus is printable ASCII
    // (driver-generated), so the engine's Unicode tokenizer is exactly
    // `[a-z0-9]+` over lower(text) and token bytes are code points.
    "q_simhash_fingerprints" ->
      s"""WITH $simhashFingerprintsCte
         SELECT doc_id, simhash64 FROM fps ORDER BY doc_id""",

    // per-bit ones census over the recomputed fingerprints
    "q_hash_bit_bias" ->
      s"""WITH $simhashFingerprintsCte,
         bb AS (
           SELECT bit, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN (uf >> bit) & 1 = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS ones
           FROM fps CROSS JOIN (SELECT unnest(range(64)) AS bit) b
           GROUP BY 1)
         SELECT CAST(bit AS INTEGER) AS bit, n_docs, ones,
           (1000 * ones) // n_docs AS ones_pm
         FROM bb ORDER BY bit""",

    // pair counts folded from group SIZES (C(m,2) + the lag-window
    // adjacency term), never from materialized pairs
    "q_blocking_quality" ->
      """WITH docs AS (
           SELECT doc_id, lang, n_chars, md5(text) AS h FROM documents),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs),
         sz AS (
           SELECT lang, n_chars, CAST(count(*) AS BIGINT) AS m
           FROM docs GROUP BY 1, 2),
         cd AS (
           SELECT lang, n_chars, m,
             lag(n_chars) OVER (PARTITION BY lang ORDER BY n_chars) AS prev_c,
             lag(m) OVER (PARTITION BY lang ORDER BY n_chars) AS prev_m
           FROM sz),
         cand AS (
           SELECT CAST(sum((m * (m - 1)) // 2
             + CASE WHEN prev_c = n_chars - 1 THEN prev_m * m ELSE 0 END)
             AS BIGINT) AS cand_pairs
           FROM cd),
         tp AS (
           SELECT CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS true_pairs
           FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM docs GROUP BY h)),
         cp AS (
           SELECT CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS captured_pairs
           FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM docs
                 GROUP BY h, lang))
         SELECT n_docs, (n_docs * (n_docs - 1)) // 2 AS total_pairs,
           cand_pairs,
           CAST(CASE WHEN n_docs < 2 THEN 0
                ELSE 1000000 - (1000000 * CAST(cand_pairs AS HUGEINT))
                     // ((n_docs * (n_docs - 1)) // 2)
                END AS BIGINT) AS reduction_ppm,
           true_pairs, captured_pairs,
           CAST(CASE WHEN true_pairs = 0 THEN 1000
                ELSE (1000 * captured_pairs) // true_pairs
                END AS BIGINT) AS completeness_pm
         FROM n CROSS JOIN cand CROSS JOIN tp CROSS JOIN cp""",

    // All-pairs Hamming ≤ 3 over the recomputed fingerprints — the exact
    // reference for the engine's pigeonhole-banded candidate join, whose
    // recall at the threshold is exact by construction, so the outputs
    // must agree pair-for-pair (the quadratic mirror is the oracle-scale
    // analog of the minhash/embedding truth joins).
    "q_dedup_simhash" ->
      s"""WITH $simhashFingerprintsCte
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.uf, b.uf)) AS INTEGER) AS hamming
         FROM fps a JOIN fps b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.uf, b.uf)) <= 3
         ORDER BY id_a, id_b""",

    "q_bfs_hops" ->
      """WITH RECURSIVE bedges AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM documents a JOIN documents b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1
           WHERE a.doc_id < 500 AND b.doc_id < 500 AND a.doc_id <> b.doc_id),
         bfs(id, hop) AS (
           SELECT doc_id, 0 FROM documents WHERE doc_id < 500 AND source = 'src0'
           UNION
           SELECT e.dst, b.hop + 1 FROM bfs b JOIN bedges e ON e.src = b.id
           WHERE b.hop < 4)
         SELECT id, CAST(min(hop) AS INTEGER) AS hop
         FROM bfs GROUP BY id ORDER BY id""",

    // the multi-source min-hop frontier replayed as a recursive CTE
    // keyed on (seed, id); reciprocals exact as 2520 // hop
    "q_harmonic_centrality" ->
      """WITH RECURSIVE bedges AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM documents a JOIN documents b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1
           WHERE a.doc_id < 500 AND b.doc_id < 500 AND a.doc_id <> b.doc_id),
         bfs(seed, id, hop) AS (
           SELECT doc_id, doc_id, 0 FROM documents
           WHERE doc_id < 100 AND source = 'src0'
           UNION
           SELECT b.seed, e.dst, b.hop + 1
           FROM bfs b JOIN bedges e ON e.src = b.id
           WHERE b.hop < 3),
         md AS (SELECT seed, id, min(hop) AS hop FROM bfs GROUP BY 1, 2)
         SELECT seed AS id, CAST(count(*) AS BIGINT) AS n_reached,
           CAST(sum(2520 // hop) AS BIGINT) AS harm_x2520
         FROM md WHERE hop > 0 GROUP BY seed ORDER BY seed""",

    // min-hop WALK counting = shortest-path counting (a minimal walk
    // cannot revisit a vertex); per-pair floored per-mille contribs
    "q_betweenness" ->
      """WITH RECURSIVE rk AS (
           SELECT doc_id, lang,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY n_chars, doc_id) AS BIGINT) AS r
           FROM documents WHERE doc_id < 500),
         e1 AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM rk a JOIN rk b ON a.lang = b.lang
           WHERE b.r - a.r BETWEEN 1 AND 3),
         bedges AS (
           SELECT src, dst FROM e1
           UNION ALL SELECT dst, src FROM e1),
         seeds AS (
           SELECT doc_id AS id FROM rk WHERE r = 1 OR r = 9),
         walks(seed, id, hop) AS (
           SELECT id, id, 0 FROM seeds
           UNION ALL
           SELECT w.seed, e.dst, w.hop + 1
           FROM walks w JOIN bedges e ON e.src = w.id
           WHERE w.hop < 4),
         md AS (SELECT seed, id, min(hop) AS hop FROM walks GROUP BY 1, 2),
         sig AS (
           SELECT w.seed, w.id, m.hop, CAST(count(*) AS HUGEINT) AS sigma
           FROM walks w
           JOIN md m ON w.seed = m.seed AND w.id = m.id AND w.hop = m.hop
           GROUP BY 1, 2, 3),
         st AS (
           SELECT a.seed AS s, a.id AS t, a.hop AS dst, a.sigma AS sst
           FROM sig a JOIN seeds p ON a.id = p.id
           WHERE a.seed < a.id),
         c AS (
           SELECT st.s, st.t, a.id AS v,
             (1000 * a.sigma * b.sigma) // st.sst AS contrib
           FROM st
           JOIN sig a ON a.seed = st.s
           JOIN sig b ON b.seed = st.t AND b.id = a.id
           WHERE a.hop + b.hop = st.dst AND a.id <> st.s AND a.id <> st.t)
         SELECT v AS id, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(contrib) AS BIGINT) AS bc_x1000
         FROM c GROUP BY 1 HAVING sum(contrib) > 0 ORDER BY id""",

    // the same recursive BFS from the 8 lowest-id graph nodes; ecc,
    // at-ecc census, and the max/2·min diameter sandwich
    "q_ecc_pivots" ->
      """WITH RECURSIVE bedges AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM documents a JOIN documents b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1
           WHERE a.doc_id < 500 AND b.doc_id < 500 AND a.doc_id <> b.doc_id),
         seeds AS (
           SELECT DISTINCT src AS id FROM bedges ORDER BY id LIMIT 8),
         bfs(seed, id, hop) AS (
           SELECT id, id, 0 FROM seeds
           UNION
           SELECT b.seed, e.dst, b.hop + 1
           FROM bfs b JOIN bedges e ON e.src = b.id
           WHERE b.hop < 6),
         md AS (SELECT seed, id, min(hop) AS hop FROM bfs GROUP BY 1, 2),
         per AS (
           SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
             CAST(max(hop) AS BIGINT) AS ecc
           FROM md WHERE hop > 0 GROUP BY seed),
         ae AS (
           SELECT md.seed, CAST(count(*) AS BIGINT) AS n_at_ecc
           FROM md JOIN per ON md.seed = per.seed AND md.hop = per.ecc
           GROUP BY 1),
         bounds AS (
           SELECT CAST(max(ecc) AS BIGINT) AS diam_lb,
             CAST(min(ecc) * 2 AS BIGINT) AS diam_ub2x
           FROM per)
         SELECT per.seed AS seed, n_reached, ecc, n_at_ecc,
           diam_lb, diam_ub2x, ecc = 6 AS saturated
         FROM per JOIN ae ON per.seed = ae.seed
         CROSS JOIN bounds ORDER BY seed""",

    "q_kcore" ->
      """WITH pairs AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM documents a JOIN documents b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1
           WHERE a.doc_id < 500 AND b.doc_id < 500 AND a.doc_id <> b.doc_id),
         s1 AS (SELECT src AS id FROM pairs GROUP BY src HAVING count(*) >= 3),
         e1 AS (SELECT e.src, e.dst FROM pairs e
                JOIN s1 a ON e.src = a.id JOIN s1 b ON e.dst = b.id),
         s2 AS (SELECT src AS id FROM e1 GROUP BY src HAVING count(*) >= 3),
         e2 AS (SELECT e.src, e.dst FROM e1 e
                JOIN s2 a ON e.src = a.id JOIN s2 b ON e.dst = b.id),
         s3 AS (SELECT src AS id FROM e2 GROUP BY src HAVING count(*) >= 3),
         e3 AS (SELECT e.src, e.dst FROM e2 e
                JOIN s3 a ON e.src = a.id JOIN s3 b ON e.dst = b.id)
         SELECT src AS id, count(*) AS deg FROM e3 GROUP BY src ORDER BY id""",

    // straight-line 4-round average-degree batch peel; densities and
    // peel tests cross-multiplied; best round by (density desc, round)
    "q_densest" ->
      """WITH pairs AS MATERIALIZED (
           SELECT a.doc_id AS u, b.doc_id AS w
           FROM documents a JOIN documents b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1
           WHERE a.doc_id < 500 AND b.doc_id < 500 AND a.doc_id < b.doc_id),
         e0 AS MATERIALIZED (SELECT u, w FROM pairs),
         d0 AS MATERIALIZED (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT u AS a FROM e0 UNION ALL SELECT w FROM e0)
                GROUP BY 1),
         n0 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM d0),
         m0 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
         s0 AS MATERIALIZED (SELECT id FROM d0 CROSS JOIN n0 CROSS JOIN m0
                WHERE deg * n * 1000 >= 2 * m * 1100),
         e1 AS MATERIALIZED (SELECT e.u, e.w FROM e0 e
                JOIN s0 a ON e.u = a.id JOIN s0 b ON e.w = b.id),
         d1 AS MATERIALIZED (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT u AS a FROM e1 UNION ALL SELECT w FROM e1)
                GROUP BY 1),
         n1 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM d1),
         m1 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM e1),
         s1 AS MATERIALIZED (SELECT id FROM d1 CROSS JOIN n1 CROSS JOIN m1
                WHERE deg * n * 1000 >= 2 * m * 1100),
         e2 AS MATERIALIZED (SELECT e.u, e.w FROM e1 e
                JOIN s1 a ON e.u = a.id JOIN s1 b ON e.w = b.id),
         d2 AS MATERIALIZED (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT u AS a FROM e2 UNION ALL SELECT w FROM e2)
                GROUP BY 1),
         n2 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM d2),
         m2 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM e2),
         s2 AS MATERIALIZED (SELECT id FROM d2 CROSS JOIN n2 CROSS JOIN m2
                WHERE deg * n * 1000 >= 2 * m * 1100),
         e3 AS MATERIALIZED (SELECT e.u, e.w FROM e2 e
                JOIN s2 a ON e.u = a.id JOIN s2 b ON e.w = b.id),
         d3 AS MATERIALIZED (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT u AS a FROM e3 UNION ALL SELECT w FROM e3)
                GROUP BY 1),
         n3 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM d3),
         m3 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM e3),
         s3 AS MATERIALIZED (SELECT id FROM d3 CROSS JOIN n3 CROSS JOIN m3
                WHERE deg * n * 1000 >= 2 * m * 1100),
         e4 AS MATERIALIZED (SELECT e.u, e.w FROM e3 e
                JOIN s3 a ON e.u = a.id JOIN s3 b ON e.w = b.id),
         d4 AS MATERIALIZED (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT u AS a FROM e4 UNION ALL SELECT w FROM e4)
                GROUP BY 1),
         n4 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM d4),
         m4 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM e4),
         snaps AS (
           SELECT CAST(0 AS BIGINT) AS round, n, m FROM n0 CROSS JOIN m0
           UNION ALL SELECT 1, n, m FROM n1 CROSS JOIN m1
           UNION ALL SELECT 2, n, m FROM n2 CROSS JOIN m2
           UNION ALL SELECT 3, n, m FROM n3 CROSS JOIN m3
           UNION ALL SELECT 4, n, m FROM n4 CROSS JOIN m4)
         SELECT round, n AS n_nodes, m AS n_edges,
           CAST(CASE WHEN n = 0 THEN 0 ELSE (1000 * m) // n END AS BIGINT)
             AS density_x1000,
           row_number() OVER (ORDER BY
             CASE WHEN n = 0 THEN 0 ELSE (1000 * m) // n END DESC,
             round ASC) = 1 AS is_best
         FROM snaps ORDER BY round""",

    // straight-line 2-round peel: wedge-join support per canonical
    // edge, drop below k-2 = 2, recount on the survivors
    "q_ktruss" ->
      """WITH pairs AS (
           SELECT a.doc_id AS u, b.doc_id AS w
           FROM documents a JOIN documents b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1
           WHERE a.doc_id < 500 AND b.doc_id < 500 AND a.doc_id < b.doc_id),
         und0 AS (SELECT u AS a, w AS b FROM pairs
                  UNION ALL SELECT w, u FROM pairs),
         s0 AS (
           SELECT x.b AS u, y.b AS w, CAST(count(*) AS BIGINT) AS supp
           FROM und0 x JOIN und0 y ON x.a = y.a AND x.b < y.b
           JOIN pairs e ON e.u = x.b AND e.w = y.b
           GROUP BY 1, 2),
         e1 AS (
           SELECT p.u, p.w FROM pairs p LEFT JOIN s0
             ON s0.u = p.u AND s0.w = p.w
           WHERE coalesce(s0.supp, 0) >= 2),
         und1 AS (SELECT u AS a, w AS b FROM e1
                  UNION ALL SELECT w, u FROM e1),
         s1 AS (
           SELECT x.b AS u, y.b AS w, CAST(count(*) AS BIGINT) AS supp
           FROM und1 x JOIN und1 y ON x.a = y.a AND x.b < y.b
           JOIN e1 e ON e.u = x.b AND e.w = y.b
           GROUP BY 1, 2),
         e2 AS (
           SELECT p.u, p.w FROM e1 p LEFT JOIN s1
             ON s1.u = p.u AND s1.w = p.w
           WHERE coalesce(s1.supp, 0) >= 2),
         und2 AS (SELECT u AS a, w AS b FROM e2
                  UNION ALL SELECT w, u FROM e2),
         s2 AS (
           SELECT x.b AS u, y.b AS w, CAST(count(*) AS BIGINT) AS supp
           FROM und2 x JOIN und2 y ON x.a = y.a AND x.b < y.b
           JOIN e2 e ON e.u = x.b AND e.w = y.b
           GROUP BY 1, 2)
         SELECT e2.u AS id_a, e2.w AS id_b,
           coalesce(s2.supp, 0) AS support
         FROM e2 LEFT JOIN s2 ON s2.u = e2.u AND s2.w = e2.w
         ORDER BY id_a, id_b""",

    // edge-difference squares vs the n-scaled variance, one division
    "q_gearys_c" ->
      """WITH pr AS (
           SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
             greatest(a.l_suppkey, b.l_suppkey) AS w
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_returnflag = 'R' AND b.l_returnflag = 'A'
             AND a.l_suppkey <> b.l_suppkey),
         bal AS (
           SELECT s_suppkey, CAST(round(s_acctbal * 100) AS BIGINT) AS x
           FROM supplier),
         nd AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             sum(CAST(x AS HUGEINT) * x) AS sxx
           FROM bal),
         ed AS (
           SELECT CAST(count(*) AS BIGINT) AS n_edges,
             sum((CAST(bu.x AS HUGEINT) - bw.x)
                 * (CAST(bu.x AS HUGEINT) - bw.x)) AS se
           FROM pr
             JOIN bal bu ON pr.u = bu.s_suppkey
             JOIN bal bw ON pr.w = bw.s_suppkey)
         SELECT n AS n_nodes, n_edges,
           CAST(CASE WHEN n_edges = 0
                  OR 2 * n_edges * (CAST(n AS HUGEINT) * sxx
                                    - CAST(sx AS HUGEINT) * sx) = 0 THEN 0
                ELSE (CAST(n AS HUGEINT) * (n - 1) * se * 1000)
                  // ((CAST(n_edges AS HUGEINT) * 2)
                      * (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx))
                END AS BIGINT) AS c_x1000
         FROM ed CROSS JOIN nd""",

    // n-scaled deviation cross-products over the same edges; the exact
    // -1/(n-1) null expectation as witness
    "q_moran_i" ->
      """WITH pr AS (
           SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
             greatest(a.l_suppkey, b.l_suppkey) AS w
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_returnflag = 'R' AND b.l_returnflag = 'A'
             AND a.l_suppkey <> b.l_suppkey),
         bal AS (
           SELECT s_suppkey, CAST(round(s_acctbal * 100) AS BIGINT) AS x
           FROM supplier),
         nd AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             sum(CAST(x AS HUGEINT) * x) AS sxx
           FROM bal),
         sp AS (
           SELECT CAST(count(*) AS BIGINT) AS n_edges,
             sum((CAST(nd.n AS HUGEINT) * bu.x - nd.sx)
                 * (CAST(nd.n AS HUGEINT) * bw.x - nd.sx)) AS spsum
           FROM pr
             JOIN bal bu ON pr.u = bu.s_suppkey
             JOIN bal bw ON pr.w = bw.s_suppkey
             CROSS JOIN nd)
         SELECT n AS n_nodes, n_edges,
           CAST(CASE WHEN n_edges = 0
                  OR CAST(n_edges AS HUGEINT)
                     * (CAST(n AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx) = 0 THEN 0
                ELSE (spsum * 1000)
                  // (CAST(n_edges AS HUGEINT)
                      * (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx))
                END AS BIGINT) AS i_x1000,
           CAST(CASE WHEN n > 1 THEN -(1000 // (n - 1)) ELSE 0 END AS BIGINT)
             AS e_i_x1000
         FROM sp CROSS JOIN nd""",

    // distinct canonical co-fulfilment edges; BB/BW/WW census and the
    // free-sampling expectations cross-multiplied
    "q_join_counts" ->
      """WITH pr AS (
           SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
             greatest(a.l_suppkey, b.l_suppkey) AS w
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_returnflag = 'R' AND b.l_returnflag = 'A'
             AND a.l_suppkey <> b.l_suppkey),
         fl AS (
           SELECT s_suppkey AS id,
             CAST(round(s_acctbal * 100) AS BIGINT) > 450000 AS f
           FROM supplier),
         nn AS (
           SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_black
           FROM fl),
         obs AS (
           SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(CASE WHEN fa.f AND fb.f THEN 1 ELSE 0 END) AS BIGINT)
               AS bb,
             CAST(sum(CASE WHEN fa.f <> fb.f THEN 1 ELSE 0 END) AS BIGINT)
               AS bw,
             CAST(sum(CASE WHEN NOT fa.f AND NOT fb.f THEN 1 ELSE 0 END)
               AS BIGINT) AS ww
           FROM pr JOIN fl fa ON pr.u = fa.id JOIN fl fb ON pr.w = fb.id)
         SELECT n_nodes, n_black, n_edges, bb, bw, ww,
           CAST(CASE WHEN n_edges * (n_black - 1) * n_black = 0 THEN 0
                ELSE (CAST(bb AS HUGEINT) * n_nodes * (n_nodes - 1) * 1000)
                  // (CAST(n_edges AS HUGEINT) * n_black * (n_black - 1))
                END AS BIGINT) AS bb_ratio_pm,
           CAST(CASE WHEN n_edges * n_black * (n_nodes - n_black) = 0 THEN 0
                ELSE (CAST(bw AS HUGEINT) * n_nodes * (n_nodes - 1) * 1000)
                  // (CAST(n_edges AS HUGEINT) * n_black
                      * (n_nodes - n_black) * 2)
                END AS BIGINT) AS bw_ratio_pm,
           CAST(CASE WHEN n_edges * (n_nodes - n_black)
                       * (n_nodes - n_black - 1) = 0 THEN 0
                ELSE (CAST(ww AS HUGEINT) * n_nodes * (n_nodes - 1) * 1000)
                  // (CAST(n_edges AS HUGEINT) * (n_nodes - n_black)
                      * (n_nodes - n_black - 1))
                END AS BIGINT) AS ww_ratio_pm
         FROM obs CROSS JOIN nn""",

    "q_label_prop" ->
      """WITH pairs AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM documents a JOIN documents b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1
           WHERE a.doc_id < 500 AND b.doc_id < 500 AND a.doc_id <> b.doc_id),
         l0 AS (SELECT DISTINCT src AS id, src AS label FROM pairs),
         r1 AS (
           SELECT id, label FROM (
             SELECT e.dst AS id, l.label,
               row_number() OVER (PARTITION BY e.dst
                 ORDER BY count(*) DESC, l.label ASC) AS rn
             FROM pairs e JOIN l0 l ON e.src = l.id
             GROUP BY e.dst, l.label) WHERE rn = 1),
         r2 AS (
           SELECT id, label FROM (
             SELECT e.dst AS id, l.label,
               row_number() OVER (PARTITION BY e.dst
                 ORDER BY count(*) DESC, l.label ASC) AS rn
             FROM pairs e JOIN r1 l ON e.src = l.id
             GROUP BY e.dst, l.label) WHERE rn = 1)
         SELECT id, label FROM r2 ORDER BY id""",

    "q_link_predict" ->
      """WITH pairs AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM documents a JOIN documents b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1
           WHERE a.doc_id < 500 AND b.doc_id < 500 AND a.doc_id <> b.doc_id),
         deg AS (SELECT src AS id, count(*) AS d FROM pairs GROUP BY 1),
         cn AS (
           SELECT a.dst AS u, b.dst AS v, count(*) AS cn
           FROM pairs a JOIN pairs b ON a.src = b.src AND a.dst < b.dst
           GROUP BY 1, 2 HAVING count(*) >= 2),
         cand AS (
           SELECT u, v, cn FROM cn
           WHERE NOT EXISTS (SELECT 1 FROM pairs e
                             WHERE e.src = cn.u AND e.dst = cn.v))
         SELECT u AS id_a, v AS id_b, CAST(cn AS BIGINT) AS cn,
           CAST(du.d + dv.d - cn AS BIGINT) AS uni,
           CAST(cn AS DOUBLE) / CAST(du.d + dv.d - cn AS DOUBLE) AS jaccard
         FROM cand JOIN deg du ON cand.u = du.id JOIN deg dv ON cand.v = dv.id
         ORDER BY id_a, id_b""",

    "q_containment_join" ->
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk
           FROM documents WHERE doc_id < 300),
         s AS (
           SELECT doc_id,
             CASE WHEN len(tk) >= 3
                  THEN list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                  WHEN len(tk) >= 1 THEN [array_to_string(tk, ' ')]
                  ELSE CAST([] AS VARCHAR[]) END AS sh
           FROM tok),
         e AS (SELECT doc_id, unnest(sh) AS g FROM s),
         sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
         i AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b, inter, na.n AS na, nb.n AS nb,
           10 * inter >= 9 * na.n AS a_in_b,
           10 * inter >= 9 * nb.n AS b_in_a
         FROM i JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b
         WHERE 10 * inter >= 9 * na.n OR 10 * inter >= 9 * nb.n
         ORDER BY id_a, id_b""",

    "q_ann_pq" -> pqOracleSql,
    // bit-identical indexed path — the SAME ADC replay oracles it
    "q_ann_pq_indexed" -> pqOracleSql,

    // equivalence certificate: 5 queries × k=10 from both paths, sets
    // equal — constants expected, any divergence flips `identical`
    "q_ann_ivfpq_indexed" ->
      """SELECT CAST(50 AS BIGINT) AS n_adhoc, CAST(50 AS BIGINT) AS n_indexed,
           true AS identical""",

    // the q_ann_ivf certificate pattern: constants expected, the Spark
    // side emits false (hash mismatch) if any invariant breaks
    "q_ann_ivfpq" ->
      """SELECT count(*) AS n_queries, true AS every_query_full_k,
           true AS adist_exact, true AS recall_ok
         FROM embeddings WHERE vec_id < 5""",

    "q_media_dedup" ->
      """SELECT CAST(i AS BIGINT) AS keep_id, CAST(2 AS BIGINT) AS n_copies
         FROM range(1, 21) t(i) ORDER BY keep_id""",

    // the generator's frame-color formula replayed — certifies the
    // container unpack + PNG decode + feature pass numerically
    "q_video_cuts" ->
      """WITH fr AS (
           SELECT i, unnest(range(0, 8)) AS f FROM range(1, 41) t(i)),
         c AS (
           SELECT i, f,
             (i * 11 + f * 17) % 256 AS r,
             (i * 13 + f * 19) % 256 AS g,
             (i * 7 + f * 23) % 256 AS b
           FROM fr),
         d AS (
           SELECT i, f,
             abs(r - lag(r) OVER w) + abs(g - lag(g) OVER w)
               + abs(b - lag(b) OVER w) AS dist
           FROM c WINDOW w AS (PARTITION BY i ORDER BY f))
         SELECT i AS media_id, CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN dist > 96 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cuts,
           CAST(max(dist) AS BIGINT) AS max_dist,
           CAST(sum(coalesce(dist, 0)) AS BIGINT) AS sum_dist
         FROM d GROUP BY 1 ORDER BY media_id""",

    // the generator's integer sample formula replayed end to end —
    // equality certifies the real WAV encode→decode round-trip bit-for-bit
    "q_audio_stats" ->
      """WITH m AS (SELECT i FROM range(1, 31) t(i)),
         s AS (
           SELECT i, unnest(range(0, 4000 + (i % 5) * 800)) AS j FROM m),
         v AS (
           SELECT i, (i * 131 + j * 7) % 65536 - 32768 AS x FROM s)
         SELECT i AS media_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(abs(x)) AS BIGINT) AS sum_abs,
           CAST(max(abs(x)) AS BIGINT) AS max_abs,
           CAST(sum(CASE WHEN abs(x) <= 327 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_silent,
           CAST(sum(x * x) AS BIGINT) AS energy,
           (1000 * CAST(sum(CASE WHEN abs(x) <= 327 THEN 1 ELSE 0 END)
             AS BIGINT)) // CAST(count(*) AS BIGINT) AS silence_pm
         FROM v GROUP BY 1 ORDER BY media_id""",

    // structural: the 15 planted one-pixel-corrupted copies — and ONLY
    // those — must collapse onto their originals' aHash
    "q_image_ahash" ->
      """SELECT CAST(i AS BIGINT) AS keep_id, CAST(2 AS BIGINT) AS n_copies
         FROM range(1, 16) t(i) ORDER BY keep_id""",

    // same structural contract for the gradient-sign hash
    "q_image_dhash" ->
      """SELECT CAST(i AS BIGINT) AS keep_id, CAST(2 AS BIGINT) AS n_copies
         FROM range(1, 16) t(i) ORDER BY keep_id""",

    // the generator formula replayed with lag(): sign-class changes
    // between consecutive samples, zero counting as positive
    "q_audio_zcr" ->
      """WITH m AS (SELECT i FROM range(1, 31) t(i)),
         s AS (
           SELECT i, unnest(range(0, 4000 + (i % 5) * 800)) AS j FROM m),
         v AS (
           SELECT i, j, (i * 131 + j * 7) % 65536 - 32768 AS x FROM s),
         d AS (
           SELECT i, x, lag(x) OVER (PARTITION BY i ORDER BY j) AS px FROM v),
         ag AS (
           SELECT i AS media_id, CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(CASE WHEN px IS NOT NULL AND (px < 0) <> (x < 0)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
           FROM d GROUP BY 1)
         SELECT media_id, n_samples, n_cross,
           CAST(CASE WHEN n_samples > 1
                THEN (1000 * n_cross) // (n_samples - 1) ELSE 0
           END AS BIGINT) AS zcr_pm
         FROM ag ORDER BY media_id""",

    "q_kmeans" ->
      """WITH v AS (
           SELECT vec_id AS id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(x * 256) AS BIGINT) + 512) AS v
           FROM embeddings),
         c0 AS (
           SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v
           FROM (SELECT * FROM v ORDER BY id LIMIT 4)),
         d1 AS (
           SELECT x.id, c.cid,
             list_sum(list_transform(range(1, 65),
               i -> (x.v[i] - c.v[i]) * (x.v[i] - c.v[i]))) AS dist
           FROM v x CROSS JOIN c0 c),
         a1 AS (
           SELECT id, cid, dist FROM (
             SELECT *, row_number() OVER (PARTITION BY id
               ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
         m1 AS (
           SELECT a.cid, i.i AS pos, sum(x.v[i.i]) // count(*) AS m
           FROM a1 a JOIN v x USING (id)
           CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
           GROUP BY 1, 2),
         c1 AS (SELECT cid, list(m ORDER BY pos) AS v FROM m1 GROUP BY cid),
         d2 AS (
           SELECT x.id, c.cid,
             list_sum(list_transform(range(1, 65),
               i -> (x.v[i] - c.v[i]) * (x.v[i] - c.v[i]))) AS dist
           FROM v x CROSS JOIN c1 c),
         a2 AS (
           SELECT id, cid, dist FROM (
             SELECT *, row_number() OVER (PARTITION BY id
               ORDER BY dist, cid) AS rn FROM d2) WHERE rn = 1)
         SELECT id AS vec_id, CAST(cid AS BIGINT) AS cid,
           CAST(dist AS BIGINT) AS dist
         FROM a2 ORDER BY vec_id""",

    "q_wpagerank" ->
      """WITH pairs AS (
           SELECT a.l_suppkey AS src, b.l_suppkey AS dst, count(*) AS w
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
            AND a.l_returnflag = 'R' AND b.l_returnflag = 'A'
           GROUP BY 1, 2),
         nodes AS (
           SELECT DISTINCT src AS id FROM pairs
           UNION SELECT DISTINCT dst FROM pairs),
         wo AS (SELECT src, sum(w) AS wsum FROM pairs GROUP BY 1),
         s0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS score FROM nodes),
         m1 AS (
           SELECT p.dst AS id, sum((s.score * p.w) // o.wsum) AS in_sum
           FROM pairs p JOIN s0 s ON p.src = s.id JOIN wo o ON p.src = o.src
           GROUP BY 1),
         s1 AS (
           SELECT n.id,
             CAST(150000000000 + CAST(coalesce(m1.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN m1 ON n.id = m1.id),
         m2 AS (
           SELECT p.dst AS id, sum((s.score * p.w) // o.wsum) AS in_sum
           FROM pairs p JOIN s1 s ON p.src = s.id JOIN wo o ON p.src = o.src
           GROUP BY 1),
         s2 AS (
           SELECT n.id,
             CAST(150000000000 + CAST(coalesce(m2.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN m2 ON n.id = m2.id),
         m3 AS (
           SELECT p.dst AS id, sum((s.score * p.w) // o.wsum) AS in_sum
           FROM pairs p JOIN s2 s ON p.src = s.id JOIN wo o ON p.src = o.src
           GROUP BY 1),
         s3 AS (
           SELECT n.id,
             CAST(150000000000 + CAST(coalesce(m3.in_sum, 0) * 85 // 100 AS BIGINT) AS BIGINT) AS score
           FROM nodes n LEFT JOIN m3 ON n.id = m3.id)
         SELECT id AS s_suppkey, score AS wpr FROM s3 ORDER BY s_suppkey""",

    "q_shortest_path" ->
      """WITH pairs AS (
           SELECT a.l_suppkey AS src, b.l_suppkey AS dst, count(*) AS n
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
            AND a.l_returnflag = 'R' AND b.l_returnflag = 'A'
           GROUP BY 1, 2),
         e AS (SELECT src, dst, 20 // (n + 1) + 1 AS cost FROM pairs),
         d0 AS (
           SELECT DISTINCT s_suppkey AS id, CAST(0 AS BIGINT) AS dist
           FROM supplier WHERE s_nationkey = 1),
         r1 AS (
           SELECT id, min(dist) AS dist FROM (
             SELECT id, dist FROM d0
             UNION ALL
             SELECT e.dst, d.dist + e.cost FROM d0 d JOIN e ON e.src = d.id)
           GROUP BY id),
         r2 AS (
           SELECT id, min(dist) AS dist FROM (
             SELECT id, dist FROM r1
             UNION ALL
             SELECT e.dst, d.dist + e.cost FROM r1 d JOIN e ON e.src = d.id)
           GROUP BY id),
         r3 AS (
           SELECT id, min(dist) AS dist FROM (
             SELECT id, dist FROM r2
             UNION ALL
             SELECT e.dst, d.dist + e.cost FROM r2 d JOIN e ON e.src = d.id)
           GROUP BY id)
         SELECT id AS s_suppkey, CAST(dist AS BIGINT) AS dist
         FROM r3 ORDER BY s_suppkey""",

    // KRUSKAL under the same (w,u,v) total order Borůvka uses — the
    // unique forest certified by two different algorithms. Union-find
    // rides one list_reduce: acc = node labels (positions 1..V)
    // followed by NEGATED chosen edge ids (labels are positive, so the
    // relabel transform never touches them); both lambda branches
    // rebuild the list fresh (the documented list_reduce hazard).
    "q_mst" ->
      """WITH ra AS (
           SELECT l_orderkey, l_suppkey AS sa FROM lineitem
           WHERE l_returnflag = 'R' AND l_suppkey < 150),
         ab AS (
           SELECT l_orderkey, l_suppkey AS sb FROM lineitem
           WHERE l_returnflag = 'A' AND l_suppkey < 150),
         pw AS (
           SELECT least(sa, sb) AS u, greatest(sa, sb) AS v,
             CAST(count(*) AS BIGINT) AS n
           FROM ra JOIN ab USING (l_orderkey) WHERE sa <> sb GROUP BY 1, 2),
         ed AS (SELECT u, v, 20 // (n + 1) + 1 AS w FROM pw),
         nodes AS (
           SELECT id, CAST(row_number() OVER (ORDER BY id) AS BIGINT) AS idx
           FROM (SELECT DISTINCT u AS id FROM ed UNION SELECT DISTINCT v FROM ed)),
         eord AS (
           SELECT e.u, e.v, e.w, nu.idx AS iu, nv.idx AS iv,
             CAST(row_number() OVER (ORDER BY e.w, e.u, e.v) AS BIGINT) AS eid
           FROM ed e JOIN nodes nu ON e.u = nu.id JOIN nodes nv ON e.v = nv.id),
         init AS (
           SELECT list_transform(range(1, (SELECT count(*) FROM nodes) + 1),
             x -> CAST(x AS BIGINT)) AS labels),
         triples AS (
           SELECT list_sort(list(([eid, iu, iv])::BIGINT[]), 'ASC') AS es
           FROM eord),
         red AS (
           SELECT list_reduce(
             list_prepend(labels, (SELECT es FROM triples)),
             (acc, e) -> CASE WHEN acc[e[2]] = acc[e[3]]
               THEN list_concat(acc, []::BIGINT[])
               ELSE list_concat(
                 list_transform(acc, x -> CASE
                   WHEN x = greatest(acc[e[2]], acc[e[3]])
                   THEN least(acc[e[2]], acc[e[3]]) ELSE x END),
                 [-e[1]]) END) AS st
           FROM init),
         chosen AS (
           SELECT -unnest(list_filter(st, x -> x < 0)) AS eid FROM red)
         SELECT e.u AS s_a, e.v AS s_b, e.w AS cost
         FROM chosen c JOIN eord e USING (eid) ORDER BY s_a, s_b""",

    "q_graph_stats" ->
      """WITH pairs AS (
           SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
            AND a.l_returnflag = 'R' AND b.l_returnflag = 'A'),
         nodes AS (
           SELECT DISTINCT src AS id FROM pairs
           UNION SELECT DISTINCT dst FROM pairs),
         od AS (SELECT src, count(*) AS d FROM pairs GROUP BY 1),
         idg AS (SELECT dst, count(*) AS d FROM pairs GROUP BY 1)
         SELECT
           (SELECT count(*) FROM nodes) AS n_nodes,
           (SELECT count(*) FROM pairs) AS n_edges,
           (SELECT count(*) FROM pairs p WHERE EXISTS (
              SELECT 1 FROM pairs r
              WHERE r.src = p.dst AND r.dst = p.src)) AS n_reciprocal,
           (SELECT max(d) FROM od) AS max_out_deg,
           (SELECT max(d) FROM idg) AS max_in_deg,
           (SELECT count(*) FROM nodes n WHERE NOT EXISTS (
              SELECT 1 FROM idg i WHERE i.dst = n.id)) AS n_sources,
           (SELECT count(*) FROM nodes n WHERE NOT EXISTS (
              SELECT 1 FROM od o WHERE o.src = n.id)) AS n_sinks""",

    "q_degree_dist" ->
      """WITH pairs AS (
           SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
            AND a.l_returnflag = 'R' AND b.l_returnflag = 'A'),
         oh AS (
           SELECT deg, CAST(count(*) AS BIGINT) AS n_out FROM (
             SELECT src, CAST(count(*) AS BIGINT) AS deg FROM pairs GROUP BY 1)
           GROUP BY 1),
         ih AS (
           SELECT deg, CAST(count(*) AS BIGINT) AS n_in FROM (
             SELECT dst, CAST(count(*) AS BIGINT) AS deg FROM pairs GROUP BY 1)
           GROUP BY 1)
         SELECT coalesce(oh.deg, ih.deg) AS deg,
           coalesce(oh.n_out, 0) AS n_out,
           coalesce(ih.n_in, 0) AS n_in
         FROM oh FULL OUTER JOIN ih ON oh.deg = ih.deg
         ORDER BY deg""",

    "q_hits" ->
      """WITH pairs AS (
           SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
            AND a.l_returnflag = 'R' AND b.l_returnflag = 'A'),
         nodes AS (
           SELECT DISTINCT src AS id FROM pairs
           UNION SELECT DISTINCT dst FROM pairs),
         h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS score FROM nodes),
         ra1 AS (SELECT p.dst AS id, sum(h.score) AS raw
                 FROM pairs p JOIN h0 h ON p.src = h.id GROUP BY 1),
         a1 AS (SELECT id,
                  CAST(raw * 1000000 // (SELECT max(raw) FROM ra1) AS BIGINT) AS score
                FROM ra1),
         rh1 AS (SELECT p.src AS id, sum(a.score) AS raw
                 FROM pairs p JOIN a1 a ON p.dst = a.id GROUP BY 1),
         h1 AS (SELECT id,
                  CAST(raw * 1000000 // (SELECT max(raw) FROM rh1) AS BIGINT) AS score
                FROM rh1),
         ra2 AS (SELECT p.dst AS id, sum(h.score) AS raw
                 FROM pairs p JOIN h1 h ON p.src = h.id GROUP BY 1),
         a2 AS (SELECT id,
                  CAST(raw * 1000000 // (SELECT max(raw) FROM ra2) AS BIGINT) AS score
                FROM ra2),
         rh2 AS (SELECT p.src AS id, sum(a.score) AS raw
                 FROM pairs p JOIN a2 a ON p.dst = a.id GROUP BY 1),
         h2 AS (SELECT id,
                  CAST(raw * 1000000 // (SELECT max(raw) FROM rh2) AS BIGINT) AS score
                FROM rh2)
         SELECT n.id AS s_suppkey,
           coalesce(h2.score, 0) AS hub, coalesce(a2.score, 0) AS auth
         FROM nodes n
         LEFT JOIN h2 ON n.id = h2.id
         LEFT JOIN a2 ON n.id = a2.id
         ORDER BY s_suppkey""",

    "q_cosine_join" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token
           FROM documents WHERE doc_id < 300),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
                WHERE token <> '' GROUP BY 1, 2),
         norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM tf GROUP BY 1),
         dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    sum(a.tf * b.tf) AS dot
                  FROM tf a JOIN tf b
                    ON a.token = b.token AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
           CAST(na.n2 AS BIGINT) AS na2, CAST(nb.n2 AS BIGINT) AS nb2
         FROM dots JOIN norms na ON na.doc_id = id_a
                   JOIN norms nb ON nb.doc_id = id_b
         WHERE 400 * dot * dot >= 289 * na.n2 * nb.n2
         ORDER BY id_a, id_b""",

    // The pairwise sign fold and the τ_a per-mille replayed over the
    // same daily rollup.
    // x_i vs x_{i + ceil(n/2)}; odd-length middle day in neither half
    "q_cox_stuart" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         rk AS (
           SELECT event_type, n,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS BIGINT) AS r,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS len
           FROM dl),
         p AS (
           SELECT a.event_type,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN b.n > a.n THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
             CAST(sum(CASE WHEN b.n < a.n THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down
           FROM rk a JOIN rk b ON a.event_type = b.event_type
             AND b.r = a.r + (a.len - a.len // 2)
           WHERE a.r <= a.len // 2
           GROUP BY 1)
         SELECT event_type, n_pairs, n_up, n_down,
           CAST(CASE WHEN n_up > n_down THEN 1
                     WHEN n_up < n_down THEN -1 ELSE 0 END AS BIGINT)
             AS direction
         FROM p ORDER BY event_type""",

    "q_mk_trend" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs FROM dl GROUP BY 1),
         p AS (
           SELECT a.event_type AS event_type,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
           FROM dl a JOIN dl b ON a.event_type = b.event_type AND a.day < b.day
           GROUP BY 1)
         SELECT nn.event_type, n_obs,
           COALESCE(n_pairs, 0) AS n_pairs,
           COALESCE(s_stat, 0) AS s_stat,
           CASE WHEN COALESCE(n_pairs, 0) = 0 THEN 0
                ELSE (s_stat * 1000) // n_pairs END AS s_pm,
           CASE WHEN COALESCE(s_stat, 0) > 0 THEN 'up'
                WHEN COALESCE(s_stat, 0) < 0 THEN 'down'
                ELSE 'flat' END AS trend
         FROM nn LEFT JOIN p USING (event_type) ORDER BY event_type""",

    // Every pairwise scaled slope and the lower-median pick replayed.
    "q_theil_sen" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         sl AS (
           SELECT a.event_type AS event_type,
             ((b.n - a.n) * 1000) // date_diff('day', a.day, b.day) AS slope_scaled
           FROM dl a JOIN dl b ON a.event_type = b.event_type AND a.day < b.day),
         r AS (
           SELECT event_type, slope_scaled,
             row_number() OVER (PARTITION BY event_type ORDER BY slope_scaled) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
           FROM sl)
         SELECT event_type, n_pairs, slope_scaled
         FROM r WHERE rn = (n_pairs + 1) // 2 ORDER BY event_type""",

    // running-max peak, per-mille slide, two-step argmax (max dd then
    // latest month) — no engine arg_max tie rule
    "q_drawdown" ->
      """WITH rev AS (
           SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
           FROM orders
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         dd AS (
           SELECT n_name, mon, rev,
             CAST((CAST(1000 AS HUGEINT)
                   * (max(rev) OVER w - rev)) // (max(rev) OVER w)
               AS BIGINT) AS dd_pm
           FROM rev
           WINDOW w AS (PARTITION BY n_name ORDER BY mon
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         mx AS (
           SELECT n_name, CAST(count(*) AS BIGINT) AS n_months,
             CAST(max(dd_pm) AS BIGINT) AS max_dd_pm
           FROM dd GROUP BY 1)
         SELECT mx.n_name, max(mx.n_months) AS n_months,
           max(mx.max_dd_pm) AS max_dd_pm, max(dd.mon) AS trough_mon
         FROM mx JOIN dd ON mx.n_name = dd.n_name
           AND dd.dd_pm = mx.max_dd_pm
         GROUP BY 1 ORDER BY mx.n_name""",

    // The cross-multiplied 2σ Poisson band replayed in HUGEINT.
    "q_c_chart" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         t AS (
           SELECT event_type, CAST(sum(n) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS nd
           FROM dl GROUP BY 1)
         SELECT event_type, day, n, tot, nd,
           n * nd > tot AND
             CAST(n * nd - tot AS HUGEINT) * CAST(n * nd - tot AS HUGEINT) >
               4 * CAST(tot AS HUGEINT) * CAST(nd AS HUGEINT) AS alarm
         FROM dl JOIN t USING (event_type) ORDER BY event_type, day""",

    // The 13-relation CASE ladder replayed verbatim over the same
    // µs-exact spans.
    "q_allen_census" ->
      """WITH s AS (
           SELECT user_id, CAST(ts AS DATE) AS day, event_type,
             epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi
           FROM events WHERE event_type IN ('click', 'view')
           GROUP BY 1, 2, 3)
         SELECT CASE
             WHEN a.lo = b.lo AND a.hi = b.hi THEN 'equals'
             WHEN a.hi < b.lo THEN 'before'
             WHEN b.hi < a.lo THEN 'after'
             WHEN a.hi = b.lo THEN 'meets'
             WHEN b.hi = a.lo THEN 'met_by'
             WHEN a.lo = b.lo THEN
               (CASE WHEN a.hi < b.hi THEN 'starts' ELSE 'started_by' END)
             WHEN a.hi = b.hi THEN
               (CASE WHEN a.lo > b.lo THEN 'finishes' ELSE 'finished_by' END)
             WHEN a.lo > b.lo AND a.hi < b.hi THEN 'during'
             WHEN a.lo < b.lo AND a.hi > b.hi THEN 'contains'
             WHEN a.lo < b.lo THEN 'overlaps'
             ELSE 'overlapped_by' END AS rel,
           CAST(count(*) AS BIGINT) AS n
         FROM s a JOIN s b USING (user_id, day)
         WHERE a.event_type = 'click' AND b.event_type = 'view'
         GROUP BY 1 ORDER BY rel""",

    // The full 2×2 table and the HUGEINT-exact χ²·1000 per (lang, token).
    "q_chi2_tokens" ->
      """WITH t AS (
           SELECT DISTINCT lang, doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS tok
           FROM documents),
         nl AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_cat
                FROM documents GROUP BY 1),
         nt AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
         dfl AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS a FROM t GROUP BY 1, 2),
         dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df_tot
                 FROM (SELECT DISTINCT doc_id, tok FROM t) GROUP BY 1),
         x AS (
           SELECT f.lang AS lang, f.tok AS tok, f.a AS df_cat, dft.df_tot,
             nl.n_cat, nt.n,
             dft.df_tot - f.a AS b, nl.n_cat - f.a AS c,
             nt.n - nl.n_cat - (dft.df_tot - f.a) AS d
           FROM dfl f JOIN dft USING (tok) JOIN nl USING (lang) CROSS JOIN nt)
         SELECT lang, tok, df_cat, df_tot, n_cat,
           CASE WHEN df_tot = n OR n_cat = n THEN CAST(0 AS BIGINT)
             ELSE CAST((1000 * CAST(n AS HUGEINT) *
                 CAST(df_cat * d - b * c AS HUGEINT) *
                 CAST(df_cat * d - b * c AS HUGEINT)) //
               (CAST(df_tot AS HUGEINT) * CAST(n - df_tot AS HUGEINT) *
                CAST(n_cat AS HUGEINT) * CAST(n - n_cat AS HUGEINT)) AS BIGINT)
             END AS chi2_x1000
         FROM x ORDER BY lang, tok""",

    // cf, df, and the floor per-mille ratio per token above the df floor.
    "q_token_burstiness" ->
      """WITH t AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS tok
           FROM documents)
         SELECT tok, CAST(count(*) AS BIGINT) AS cf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
           (CAST(count(*) AS BIGINT) * 1000) // count(DISTINCT doc_id) AS burst_x1000
         FROM t GROUP BY tok HAVING count(DISTINCT doc_id) >= 5 ORDER BY tok""",

    // The trigram hapax share replayed via the list-comprehension
    // shingle build.
    "q_hapax_ngrams" ->
      """WITH tk AS (
           SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         g AS (
           SELECT source,
             unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                     for i in range(1, len(t) - 1)]) AS gram
           FROM tk WHERE len(t) >= 3),
         c AS (SELECT source, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
         SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           (CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000)
             // count(*) AS hapax_pm
         FROM c GROUP BY source ORDER BY source""",

    // The 16-round merge chain replayed, then the per-lang
    // corpus-weighted symbol count joined on the final vocabulary.
    "q_bpe_fertility" -> (bpeChainSql(BpeTrainSteps) + s""",
         syms AS (
           SELECT w, CAST(len(string_split(trim(repr), '  ')) AS BIGINT) AS n_syms
           FROM words$BpeTrainSteps),
         pl AS (
           SELECT lang,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS w
           FROM documents),
         plc AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM pl GROUP BY 1, 2)
         SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words,
           CAST(sum(cnt * n_syms) AS BIGINT) AS n_bpe_tokens,
           (CAST(sum(cnt * n_syms) AS BIGINT) * 1000) // CAST(sum(cnt) AS BIGINT)
             AS fertility_x1000
         FROM plc JOIN syms USING (w) GROUP BY lang ORDER BY lang"""),

    // All four vote signals and the per-source score histogram replayed.
    "q_quality_vote" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_dis,
             CASE WHEN list_contains(t, 'the') OR list_contains(t, 'a')
               THEN 1 ELSE 0 END AS s_stop
           FROM tk),
         m AS (
           SELECT doc_id, CAST(max(c) AS BIGINT) AS mx FROM (
             SELECT doc_id, tok, count(*) AS c FROM (
               SELECT doc_id, unnest(t) AS tok FROM tk) GROUP BY 1, 2)
           GROUP BY 1),
         sc AS (
           SELECT f.source AS source,
             (CASE WHEN n_tok BETWEEN 20 AND 90 THEN 1 ELSE 0 END) +
             (CASE WHEN (mx * 1000) // n_tok < 150 THEN 1 ELSE 0 END) +
             s_stop +
             (CASE WHEN (n_dis * 1000) // n_tok >= 400 THEN 1 ELSE 0 END) AS score
           FROM f JOIN m USING (doc_id))
         SELECT source, CAST(score AS BIGINT) AS score,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM sc GROUP BY 1, 2 ORDER BY source, score""",

    // Sign words, Hamming prefilter, and exact-cosine rerank replayed
    // bit-for-bit (shared CTE with the recall certificate below).
    "q_ann_hamming" -> (annSignCte + """
         SELECT query_id, id AS neighbor_id, hamming, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, id) AS BIGINT) AS rank
         FROM rr QUALIFY rank <= 5 ORDER BY query_id, rank"""),

    // Sign words are integers, so the PERSISTED index replays with the
    // exact same CTE as the ad-hoc path — the strongest possible index
    // certificate (full values, not an equality flag).
    "q_ann_hamming_indexed" -> (annSignCte + """
         SELECT query_id, id AS neighbor_id, hamming, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, id) AS BIGINT) AS rank
         FROM rr QUALIFY rank <= 5 ORDER BY query_id, rank"""),

    // Both legs replayed — the Hamming-prefiltered rerank top-5 and the
    // exact cosine top-5 — then the per-query overlap counted.
    "q_ann_recall_hamming" -> (annSignCte + """,
         approx AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, id) AS rk
             FROM rr) WHERE rk <= 5),
         exact AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY list_cosine_similarity(c.v, q.qv) DESC, id) AS rk
             FROM c CROSS JOIN q) WHERE rk <= 5)
         SELECT e.query_id AS query_id,
           CAST(sum(CASE WHEN a.id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_hits
         FROM exact e LEFT JOIN approx a
           ON e.query_id = a.query_id AND e.id = a.id
         GROUP BY 1 ORDER BY query_id"""),

    // both legs replayed on list_slice — prefix-16-dim cosine vs the
    // full 64-dim exact top-5
    "q_ann_matryoshka" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id >= 5),
         approx AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY list_cosine_similarity(list_slice(c.v, 1, 16),
                                                 list_slice(q.qv, 1, 16))
                   DESC, id) AS rk
             FROM c CROSS JOIN q) WHERE rk <= 5),
         exact AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY list_cosine_similarity(c.v, q.qv) DESC, id) AS rk
             FROM c CROSS JOIN q) WHERE rk <= 5)
         SELECT e.query_id AS query_id,
           CAST(sum(CASE WHEN a.id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_hits
         FROM exact e LEFT JOIN approx a
           ON e.query_id = a.query_id AND e.id = a.id
         GROUP BY 1 ORDER BY query_id""",

    // The stratified MK fold replayed with isodow strata (the labels
    // cancel in the per-type sums; only the partition matters).
    "q_seasonal_mk" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
             isodow(CAST(ts AS DATE)) AS dow
           FROM events GROUP BY 1, 2),
         st AS (
           SELECT a.event_type AS event_type,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
           FROM dl a JOIN dl b
             ON a.event_type = b.event_type AND a.dow = b.dow AND a.day < b.day
           GROUP BY 1),
         nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs
                FROM dl GROUP BY 1)
         SELECT nn.event_type, n_obs,
           COALESCE(n_pairs, 0) AS n_pairs,
           COALESCE(s_stat, 0) AS s_stat,
           CASE WHEN COALESCE(n_pairs, 0) = 0 THEN 0
                ELSE (s_stat * 1000) // n_pairs END AS s_pm,
           CASE WHEN COALESCE(s_stat, 0) > 0 THEN 'up'
                WHEN COALESCE(s_stat, 0) < 0 THEN 'down'
                ELSE 'flat' END AS trend
         FROM nn LEFT JOIN st USING (event_type) ORDER BY event_type""",

    // Running-record flags over the exclusive-preceding frame replayed.
    "q_record_days" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, n,
             max(n) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
             min(n) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin
           FROM dl)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN pmax IS NULL OR n > pmax THEN 1 ELSE 0 END)
                AS BIGINT) AS n_record_highs,
           CAST(sum(CASE WHEN pmin IS NULL OR n < pmin THEN 1 ELSE 0 END)
                AS BIGINT) AS n_record_lows
         FROM w GROUP BY event_type ORDER BY event_type""",

    // The strict-local-extrema census and the 3T − 2(n−2) deviation.
    "q_turning_points" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY day) AS pv,
             lead(n) OVER (PARTITION BY event_type ORDER BY day) AS nx
           FROM dl)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_interior,
           CAST(sum(CASE WHEN (n > pv AND n > nx) OR (n < pv AND n < nx)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_turning,
           CAST(sum(CASE WHEN (n > pv AND n > nx) OR (n < pv AND n < nx)
                    THEN 1 ELSE 0 END) AS BIGINT) * 3
             - CAST(count(*) AS BIGINT) * 2 AS tp_excess_x3
         FROM w WHERE pv IS NOT NULL AND nx IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",

    // The doubled-average-rank treatment replayed rank by rank: zero
    // diffs drop, |d| ties contribute min(rn)+max(rn) of their run.
    "q_wilcoxon" -> (pairedWeeklyCte + """,
         nz AS (
           SELECT event_type, x - y AS d, abs(x - y) AS ad
           FROM wk WHERE x <> y),
         rk AS (
           SELECT event_type, d,
             min(rn) OVER (PARTITION BY event_type, ad)
               + max(rn) OVER (PARTITION BY event_type, ad) AS rank_x2
           FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                   ORDER BY ad) AS rn FROM nz))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN d > 0 THEN rank_x2 ELSE 0 END) AS BIGINT)
             AS w_plus_x2,
           CAST(sum(CASE WHEN d < 0 THEN rank_x2 ELSE 0 END) AS BIGINT)
             AS w_minus_x2
         FROM rk GROUP BY 1 ORDER BY event_type"""),

    // Binomial sign counts over the same paired weekly frame.
    "q_sign_test" -> (pairedWeeklyCte + """
         SELECT event_type,
           CAST(sum(CASE WHEN x > y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN x < y THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
           CAST(sum(CASE WHEN x = y THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(sum(CASE WHEN x > y THEN 1 ELSE 0 END)
             - sum(CASE WHEN x < y THEN 1 ELSE 0 END) AS BIGINT) AS sign_stat,
           CAST(least(sum(CASE WHEN x > y THEN 1 ELSE 0 END),
             sum(CASE WHEN x < y THEN 1 ELSE 0 END)) AS BIGINT) AS b_stat
         FROM wk GROUP BY 1 ORDER BY event_type"""),

    // Complete weekly blocks, doubled midranks, and the floor-divided
    // χ²_F / W rendering replayed.
    "q_friedman" ->
      """WITH wkk AS (
           SELECT event_type,
             CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM wkk),
         nb AS (SELECT wk, CAST(count(*) AS BIGINT) AS nbk,
                  CAST(count(DISTINCT event_type) AS BIGINT) AS ntk
                FROM wkk GROUP BY 1),
         cw AS (SELECT wkk.* FROM wkk JOIN nb USING (wk) CROSS JOIN kk
                WHERE nbk = k AND ntk = k),
         rk AS (
           SELECT event_type,
             min(rn) OVER (PARTITION BY wk, n)
               + max(rn) OVER (PARTITION BY wk, n) AS r2
           FROM (SELECT *, row_number() OVER (PARTITION BY wk ORDER BY n) AS rn
                 FROM cw)),
         pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
                CAST(sum(r2) AS BIGINT) AS r2_sum FROM rk GROUP BY 1),
         g AS (SELECT CAST(sum(r2_sum * r2_sum) AS BIGINT) AS sum_r2sq,
               CAST(max(n_blocks) AS BIGINT) AS nn FROM pt),
         fin AS (
           SELECT event_type, n_blocks, r2_sum, k,
             CASE WHEN nn = 0 THEN 0
                  ELSE ((3000 * sum_r2sq) // (nn * k * (k + 1)))
                    - 3000 * nn * (k + 1) END AS chi2f_x1000,
             nn FROM pt CROSS JOIN g CROSS JOIN kk)
         SELECT event_type, n_blocks, r2_sum, k, chi2f_x1000,
           CASE WHEN nn = 0 OR k < 2 THEN 0
                ELSE chi2f_x1000 // (nn * (k - 1)) END AS w_pm
         FROM fin ORDER BY event_type""",

    // the friedman chain + block range ranks (doubled midranks across
    // blocks), S4 = q2*(r2-(k+1)), and the cross-multiplied F replayed
    "q_quade" ->
      """WITH wkk AS (
           SELECT event_type,
             CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM wkk),
         nb AS (SELECT wk, CAST(count(*) AS BIGINT) AS nbk,
                  CAST(count(DISTINCT event_type) AS BIGINT) AS ntk
                FROM wkk GROUP BY 1),
         cw AS (SELECT wkk.* FROM wkk JOIN nb USING (wk) CROSS JOIN kk
                WHERE nbk = k AND ntk = k),
         rk AS (
           SELECT wk, event_type,
             min(rn) OVER (PARTITION BY wk, n)
               + max(rn) OVER (PARTITION BY wk, n) AS r2
           FROM (SELECT *, row_number() OVER (PARTITION BY wk ORDER BY n) AS rn
                 FROM cw)),
         rg AS (SELECT wk, max(n) - min(n) AS d FROM cw GROUP BY 1),
         q2t AS (
           SELECT wk,
             min(qrn) OVER (PARTITION BY d)
               + max(qrn) OVER (PARTITION BY d) AS q2
           FROM (SELECT wk, d, row_number() OVER (ORDER BY d) AS qrn FROM rg)),
         cl AS (
           SELECT rk.event_type AS event_type,
             CAST(q2 AS HUGEINT) * (r2 - (k + 1)) AS s4
           FROM rk JOIN q2t USING (wk) CROSS JOIN kk),
         pt AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
             sum(s4) AS s4j, sum(s4 * s4) AS a16j
           FROM cl GROUP BY 1),
         g AS (
           SELECT sum(a16j) AS a16, sum(s4j * s4j) AS b16n,
             CAST(max(n_blocks) AS BIGINT) AS nn
           FROM pt)
         SELECT event_type, n_blocks, k, CAST(s4j AS BIGINT) AS s4_sum,
           CASE WHEN nn = 0 OR nn * a16 - b16n = 0 THEN 0
                ELSE CAST((1000 * (nn - 1) * b16n)
                  // (nn * a16 - b16n) AS BIGINT) END AS quade_x1000
         FROM pt CROSS JOIN g CROSS JOIN kk ORDER BY event_type""",

    // Zero cells from the marginal cross join, HUGEINT per-cell floor
    // contributions, and the ×10⁶ squared effect size replayed.
    "q_cramers_v" ->
      ("""WITH src AS (SELECT lang AS r, source AS c FROM documents),
       """ + cramersVSqlChain + """
         SELECT n_total, n_rows, n_cols, chi2_x1000, v2_x1e6 FROM cvout"""),

    // Doubled midranks, the lead-difference numerator, and the exact
    // (n+1)-centered denominator replayed.
    "q_bartels" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         rk AS (
           SELECT event_type, day,
             min(rn) OVER (PARTITION BY event_type, n)
               + max(rn) OVER (PARTITION BY event_type, n) AS r2,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nn
           FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                   ORDER BY n) AS rn FROM dl)),
         df AS (
           SELECT event_type, r2, nn,
             lead(r2) OVER (PARTITION BY event_type ORDER BY day) AS nxt
           FROM rk),
         g AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs,
             CAST(sum(CASE WHEN nxt IS NULL THEN 0
                  ELSE (r2 - nxt) * (r2 - nxt) END) AS BIGINT) AS nm_num,
             CAST(sum((r2 - (nn + 1)) * (r2 - (nn + 1))) AS BIGINT) AS nm_den
           FROM df GROUP BY 1)
         SELECT event_type, n_obs, nm_num, nm_den,
           CASE WHEN nm_den = 0 THEN 0
                ELSE (1000 * nm_num) // nm_den END AS rvn_x1000
         FROM g ORDER BY event_type""",

    // Complete weeks, doubled midranks, and the weighted L fold with
    // its exact expectation replayed.
    "q_page_trend" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         wd AS (
           SELECT event_type, CAST(date_trunc('week', day) AS DATE) AS wk,
             CAST(isodow(day) AS BIGINT) AS j, n
           FROM dl),
         nb AS (SELECT event_type, wk, count(*) AS nbk,
                  count(DISTINCT j) AS ntk
                FROM wd GROUP BY 1, 2),
         cw AS (SELECT wd.* FROM wd JOIN nb USING (event_type, wk)
                WHERE nbk = 7 AND ntk = 7),
         rk AS (
           SELECT event_type, wk, j,
             min(rn) OVER (PARTITION BY event_type, wk, n)
               + max(rn) OVER (PARTITION BY event_type, wk, n) AS r2
           FROM (SELECT *, row_number() OVER (PARTITION BY event_type, wk
                   ORDER BY n) AS rn FROM cw))
         SELECT event_type,
           CAST(count(DISTINCT wk) AS BIGINT) AS n_blocks,
           CAST(sum(j * r2) AS BIGINT) AS l2,
           CAST(count(DISTINCT wk) AS BIGINT) * 224 AS el2,
           CAST(sum(j * r2) AS BIGINT)
             - CAST(count(DISTINCT wk) AS BIGINT) * 224 AS l_excess_x2
         FROM rk GROUP BY 1 ORDER BY event_type""",

    // descending-cumsum risk sets over the bounded lifetime grid; the
    // floor-composed hypergeometric E/V terms replayed in HUGEINT
    "q_logrank" ->
      """WITH pu AS (
           SELECT user_id,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS t,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
               AS obs,
             max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1
               AS in_a
           FROM events GROUP BY user_id),
         cell AS (
           SELECT in_a, t, CAST(count(*) AS BIGINT) AS c_all,
             CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS c_obs
           FROM pu GROUP BY 1, 2),
         grid AS (
           SELECT g.in_a, s.t, coalesce(c.c_all, 0) AS c_all,
             coalesce(c.c_obs, 0) AS c_obs
           FROM (SELECT DISTINCT t FROM cell) s
           CROSS JOIN (SELECT true AS in_a UNION ALL SELECT false) g
           LEFT JOIN cell c ON c.in_a = g.in_a AND c.t = s.t),
         risk AS (
           SELECT in_a, t, c_obs,
             CAST(sum(c_all) OVER (PARTITION BY in_a ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_at
           FROM grid),
         terms AS (
           SELECT a.t, a.n_at AS n_a_t, a.c_obs AS d_a_t,
             b.n_at AS n_b_t, b.c_obs AS d_b_t,
             a.n_at + b.n_at AS n_t, a.c_obs + b.c_obs AS d_t
           FROM risk a JOIN risk b ON a.t = b.t AND a.in_a AND NOT b.in_a
           WHERE a.c_obs + b.c_obs > 0),
         tt AS (
           SELECT CAST(sum(d_a_t) AS BIGINT) AS o_a,
             CAST(sum(d_b_t) AS BIGINT) AS o_b,
             CAST(sum((1000 * d_t * n_a_t) // n_t) AS BIGINT) AS e_a_pm,
             CAST(sum(CASE WHEN n_t > 1 THEN
                 (CAST(1000000 AS HUGEINT) * d_t * n_a_t
                  * (n_t - n_a_t) * (n_t - d_t))
                   // (CAST(n_t AS HUGEINT) * n_t * (n_t - 1))
               ELSE 0 END) AS BIGINT) AS v_ppm
           FROM terms),
         sz AS (
           SELECT CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
           FROM pu)
         SELECT n_a, n_b, o_a, o_b, e_a_pm, v_ppm,
           CAST(CASE WHEN v_ppm > 0 THEN
               (CAST(1000 AS HUGEINT) * (1000 * o_a - e_a_pm)
                * (1000 * o_a - e_a_pm)) // v_ppm
             ELSE 0 END AS BIGINT) AS chi2_x1000
         FROM tt CROSS JOIN sz""",

    // The squared rank deviations in the ×12 rendering replayed over
    // the merged cent spine.
    "q_mood_scale" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority = '1-URGENT' AS in_a,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         pv AS (
           SELECT n_name, v, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a
           FROM o GROUP BY 1, 2),
         cu AS (
           SELECT n_name, m, a,
             CAST(coalesce(sum(m) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS lt,
             CAST(sum(m) OVER (PARTITION BY n_name) AS BIGINT) AS n
           FROM pv),
         sc AS (
           SELECT n_name, m, a, n,
             (2 * lt + m + 1 - (n + 1)) * (2 * lt + m + 1 - (n + 1)) AS score
           FROM cu)
         SELECT n_name,
           CAST(sum(a) AS BIGINT) AS n1,
           CAST(sum(m - a) AS BIGINT) AS n2,
           CAST(sum(3 * a * score) AS BIGINT) AS m_x12,
           CAST(sum(a) AS BIGINT)
             * (CAST(sum(m) AS BIGINT) * CAST(sum(m) AS BIGINT) - 1) AS em_x12,
           CAST(sum(3 * a * score) AS BIGINT) - CAST(sum(a) AS BIGINT)
             * (CAST(sum(m) AS BIGINT) * CAST(sum(m) AS BIGINT) - 1)
             AS m_excess_x12
         FROM sc GROUP BY 1 ORDER BY n_name""",

    // cross-multiplied CDF gaps × telescoping spine deltas, one
    // terminal division
    "q_wasserstein" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority = '1-URGENT' AS in_a,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         pv AS (
           SELECT n_name, v,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS m_a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS m_b
           FROM o GROUP BY 1, 2),
         tot AS (
           SELECT n_name,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
           FROM o GROUP BY 1),
         cum AS (
           SELECT n_name, v,
             CAST(sum(m_a) OVER w AS BIGINT) AS ca,
             CAST(sum(m_b) OVER w AS BIGINT) AS cb,
             lead(v) OVER (PARTITION BY n_name ORDER BY v) - v AS dv
           FROM pv
           WINDOW w AS (PARTITION BY n_name ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         nm AS (
           -- dv IS NULL (the spine's last row — or its ONLY row for a
           -- single-distinct-value key) contributes 0 via CASE rather
           -- than a WHERE drop, so degenerate keys still emit a w1=0
           -- row exactly like Stats.wasserstein1 (r16 ADVICE #1)
           SELECT cum.n_name, max(n_a) AS n_a, max(n_b) AS n_b,
             sum(CASE WHEN dv IS NULL THEN 0
                 ELSE abs(CAST(n_b AS HUGEINT) * ca
                          - CAST(n_a AS HUGEINT) * cb) * dv END) AS num
           FROM cum JOIN tot ON cum.n_name = tot.n_name
           GROUP BY 1)
         SELECT n_name, n_a, n_b,
           CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN 0
                ELSE (num * 1000) // (CAST(n_a AS HUGEINT) * n_b)
                END AS BIGINT) AS w1_cents_x1000
         FROM nm ORDER BY n_name""",

    // strictly-below prefix count/sum windows; three pairwise-|x−y|
    // sums with zero pairs materialized
    "q_energy_dist" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority = '1-URGENT' AS in_a,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         pv AS (
           SELECT n_name, v,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS m_a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS m_b
           FROM o GROUP BY 1, 2),
         tot AS (
           SELECT n_name,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN in_a THEN v ELSE 0 END) AS BIGINT) AS s_a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE v END) AS BIGINT) AS s_b
           FROM o GROUP BY 1),
         cu AS (
           SELECT n_name, v, m_a, m_b,
             coalesce(sum(m_a) OVER wb, 0) AS cal,
             coalesce(sum(CAST(m_a AS HUGEINT) * v) OVER wb, 0) AS sal,
             coalesce(sum(m_b) OVER wb, 0) AS cbl,
             coalesce(sum(CAST(m_b AS HUGEINT) * v) OVER wb, 0) AS sbl
           FROM pv
           WINDOW wb AS (PARTITION BY n_name ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         sums AS (
           SELECT cu.n_name, max(n_a) AS n_a, max(n_b) AS n_b,
             sum(CAST(m_a AS HUGEINT)
                 * (CAST(cbl AS HUGEINT) * v - sbl
                    + (CAST(s_b AS HUGEINT) - sbl - CAST(m_b AS HUGEINT) * v)
                    - (CAST(n_b - cbl - m_b AS HUGEINT) * v))) AS sab,
             sum(CAST(m_a AS HUGEINT)
                 * (CAST(cal AS HUGEINT) * v - sal)) AS saa,
             sum(CAST(m_b AS HUGEINT)
                 * (CAST(cbl AS HUGEINT) * v - sbl)) AS sbb
           FROM cu JOIN tot ON cu.n_name = tot.n_name
           GROUP BY 1)
         SELECT n_name, n_a, n_b,
           CAST((2000 * sab) // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
             AS eab_pm,
           CAST((2000 * saa) // (CAST(n_a AS HUGEINT) * n_a) AS BIGINT)
             AS eaa_pm,
           CAST((2000 * sbb) // (CAST(n_b AS HUGEINT) * n_b) AS BIGINT)
             AS ebb_pm,
           CAST((2000 * (sab * n_a * n_b - saa * n_b * n_b
                         - sbb * n_a * n_a))
             // (CAST(n_a AS HUGEINT) * n_a * n_b * n_b) AS BIGINT)
             AS d2_x1000
         FROM sums WHERE n_a > 0 AND n_b > 0 ORDER BY n_name""",

    // doubled midranks per (value, group) via RANGE windows, per-group
    // rank sums, the floor-composed H replayed in integers
    "q_kruskal_wallis" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey),
         pvg AS (
           SELECT n_name, v, g, CAST(count(*) AS BIGINT) AS m
           FROM o GROUP BY 1, 2, 3),
         cu AS (
           SELECT n_name, g, m,
             CAST(coalesce(sum(m) OVER (PARTITION BY n_name ORDER BY v
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS lt,
             CAST(sum(m) OVER (PARTITION BY n_name ORDER BY v
               RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS at
           FROM pvg),
         pg AS (
           SELECT n_name, g, CAST(sum(m) AS BIGINT) AS ng,
             CAST(sum(m * (2 * lt + at + 1)) AS BIGINT) AS s2
           FROM cu GROUP BY 1, 2),
         pk AS (
           SELECT n_name, ng, s2,
             CAST(sum(ng) OVER (PARTITION BY n_name) AS BIGINT) AS n
           FROM pg),
         qd AS (
           SELECT n_name, n,
             ((s2 - ng * (n + 1)) * (s2 - ng * (n + 1))) // ng AS q
           FROM pk),
         ag AS (
           SELECT n_name, CAST(count(*) AS BIGINT) AS k_groups,
             CAST(max(n) AS BIGINT) AS n_obs, CAST(sum(q) AS BIGINT) AS a
           FROM qd GROUP BY 1)
         SELECT n_name, k_groups, n_obs,
           CASE WHEN k_groups < 2 OR n_obs < 2 THEN 0
                ELSE (3000 * a) // (n_obs * (n_obs + 1)) END AS h_x1000
         FROM ag ORDER BY n_name""",

    // dominance pair counts off the value spine: B-below via the
    // cumulative window, B-above by complement
    "q_cliffs_delta" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority = '1-URGENT' AS in_a,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         pv AS (
           SELECT n_name, v,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
           FROM o GROUP BY 1, 2),
         cu AS (
           SELECT n_name, v, a, b,
             CAST(coalesce(sum(b) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS blt,
             CAST(sum(b) OVER (PARTITION BY n_name) AS BIGINT) AS nb
           FROM pv),
         ag AS (
           SELECT n_name, CAST(sum(a) AS BIGINT) AS n1,
             CAST(max(nb) AS BIGINT) AS n2,
             CAST(sum(a * blt) AS BIGINT) AS p_gt,
             CAST(sum(a * (nb - blt - b)) AS BIGINT) AS p_lt
           FROM cu GROUP BY 1)
         SELECT n_name, n1, n2, p_gt, p_lt,
           CASE WHEN n1 = 0 OR n2 = 0 THEN 0
                ELSE (1000 * (p_gt - p_lt)) // (n1 * n2) END AS delta_pm
         FROM ag ORDER BY n_name""",

    // the cochran-q verdict chain reused; kappa's integer cross-
    // multiplication replayed with the same toward-zero division
    "q_fleiss_kappa" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_dis
           FROM tk WHERE len(t) > 0),
         m AS (
           SELECT doc_id, CAST(max(c) AS BIGINT) AS mx FROM (
             SELECT doc_id, tok, count(*) AS c FROM (
               SELECT doc_id, unnest(t) AS tok FROM tk) GROUP BY 1, 2)
           GROUP BY 1),
         v AS (
           SELECT f.source AS source,
             (CASE WHEN n_tok BETWEEN 20 AND 90 THEN 1 ELSE 0 END
              + CASE WHEN (mx * 1000) // n_tok < 150 THEN 1 ELSE 0 END
              + CASE WHEN (n_dis * 1000) // n_tok >= 400 THEN 1 ELSE 0 END)
               AS r
           FROM f JOIN m USING (doc_id)),
         g AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS s,
             CAST(sum(r * r + (3 - r) * (3 - r)) AS BIGINT) AS sq
           FROM v GROUP BY 1),
         h AS (
           SELECT source, n, s,
             sq - n * 3 AS a, n * 3 AS nk, n * 6 AS d,
             s * s + (n * 3 - s) * (n * 3 - s) AS pe
           FROM g)
         SELECT source, n AS n_subjects, CAST(3 AS BIGINT) AS k_raters,
           s AS s_pass,
           CASE WHEN d * (nk * nk - pe) = 0 THEN 0
                ELSE (1000 * (a * nk * nk - d * pe))
                  // (d * (nk * nk - pe)) END AS kappa_x1000
         FROM h ORDER BY source""",

    // coincidence-matrix alpha with exact 420//(m-1) unit weights;
    // units with one rating drop; De folds as n^2 - sum(nc^2)
    "q_krippendorff" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_dis
           FROM tk WHERE len(t) > 0),
         m AS (
           SELECT doc_id, CAST(max(c) AS BIGINT) AS mx FROM (
             SELECT doc_id, tok, count(*) AS c FROM (
               SELECT doc_id, unnest(t) AS tok FROM tk) GROUP BY 1, 2)
           GROUP BY 1),
         j AS (SELECT f.*, m.mx FROM f JOIN m USING (doc_id)),
         r AS (
           SELECT source, doc_id, n_tok BETWEEN 20 AND 90 AS verdict
           FROM j WHERE n_tok >= 10
           UNION ALL
           SELECT source, doc_id, (mx * 1000) // n_tok < 150
           FROM j WHERE n_tok >= 20
           UNION ALL
           SELECT source, doc_id, (n_dis * 1000) // n_tok >= 400
           FROM j WHERE n_tok >= 30),
         ouc AS (
           SELECT source, doc_id, verdict, CAST(count(*) AS BIGINT) AS o
           FROM r GROUP BY 1, 2, 3),
         sc AS (
           SELECT *, o * (mu - o) * (420 // (mu - 1)) AS do_ FROM (
             SELECT *, CAST(sum(o) OVER (PARTITION BY source, doc_id)
               AS BIGINT) AS mu
             FROM ouc)
           WHERE mu >= 2),
         ct AS (
           SELECT source, verdict, CAST(sum(o) AS BIGINT) AS nc,
             CAST(sum(do_) AS BIGINT) AS docat
           FROM sc GROUP BY 1, 2),
         un AS (
           SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_units
           FROM sc GROUP BY 1),
         ag AS (
           SELECT source, CAST(sum(nc) AS BIGINT) AS n_ratings,
             CAST(sum(docat) AS BIGINT) AS dos,
             sum(CAST(nc AS HUGEINT) * nc) AS ncsq
           FROM ct GROUP BY 1)
         SELECT ag.source, n_units, n_ratings,
           CASE WHEN CAST(n_ratings AS HUGEINT) * n_ratings - ncsq = 0
                THEN 1000
                ELSE CAST(1000 -
                  (1000 * (CAST(n_ratings AS HUGEINT) - 1) * dos)
                  // (420 * (CAST(n_ratings AS HUGEINT) * n_ratings - ncsq))
                  AS BIGINT)
           END AS alpha_pm
         FROM ag JOIN un USING (source) ORDER BY source""",

    // shared-denominator variance numerators; one signed division
    "q_cronbach" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_dis
           FROM tk WHERE len(t) > 0),
         m AS (
           SELECT doc_id, CAST(max(c) AS BIGINT) AS mx,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
           FROM (
             SELECT doc_id, tok, count(*) AS c FROM (
               SELECT doc_id, unnest(t) AS tok FROM tk) GROUP BY 1, 2)
           GROUP BY 1),
         it AS (
           SELECT f.source AS source,
             (n_dis * 1000) // n_tok AS x1,
             1000 - (mx * 1000) // n_tok AS x2,
             (hapax * 1000) // n_tok AS x3
           FROM f JOIN m USING (doc_id)),
         g AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS s1, sum(CAST(x1 AS HUGEINT) * x1) AS q1,
             CAST(sum(x2) AS BIGINT) AS s2, sum(CAST(x2 AS HUGEINT) * x2) AS q2,
             CAST(sum(x3) AS BIGINT) AS s3, sum(CAST(x3 AS HUGEINT) * x3) AS q3,
             CAST(sum(x1 + x2 + x3) AS BIGINT) AS st,
             sum(CAST(x1 + x2 + x3 AS HUGEINT) * (x1 + x2 + x3)) AS qt
           FROM it GROUP BY 1),
         v AS (
           SELECT source, n AS n_docs,
             CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st AS vt,
             (CAST(n AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1)
             + (CAST(n AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2)
             + (CAST(n AS HUGEINT) * q3 - CAST(s3 AS HUGEINT) * s3) AS vsum
           FROM g)
         SELECT source, n_docs,
           CAST(CASE WHEN vt = 0 THEN 0
                ELSE ((vt - vsum) * 1500) // vt END AS BIGINT) AS alpha_pm
         FROM v ORDER BY source""",

    // 3-category rater census; alpha/AC1 by one truncating division
    // each off exact pairwise-agreement and category-margin counts
    "q_rater_agreement" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_dis
           FROM tk WHERE len(t) > 0),
         m AS (
           SELECT doc_id, CAST(max(c) AS BIGINT) AS mx FROM (
             SELECT doc_id, tok, count(*) AS c FROM (
               SELECT doc_id, unnest(t) AS tok FROM tk) GROUP BY 1, 2)
           GROUP BY 1),
         r AS (
           SELECT f.source AS source,
             CASE WHEN n_tok < 20 THEN 0 WHEN n_tok <= 90 THEN 1
                  ELSE 2 END AS ra,
             CASE WHEN (n_dis * 1000) // n_tok < 400 THEN 0
                  WHEN (n_dis * 1000) // n_tok < 700 THEN 1
                  ELSE 2 END AS rb,
             CASE WHEN (mx * 1000) // n_tok >= 250 THEN 0
                  WHEN (mx * 1000) // n_tok >= 100 THEN 1
                  ELSE 2 END AS rc
           FROM f JOIN m USING (doc_id)),
         u AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_units,
             CAST(sum(2 * (CASE WHEN ra = rb THEN 1 ELSE 0 END
                         + CASE WHEN ra = rc THEN 1 ELSE 0 END
                         + CASE WHEN rb = rc THEN 1 ELSE 0 END))
               AS BIGINT) AS p,
             CAST(sum(6 - 2 * (CASE WHEN ra = rb THEN 1 ELSE 0 END
                             + CASE WHEN ra = rc THEN 1 ELSE 0 END
                             + CASE WHEN rb = rc THEN 1 ELSE 0 END))
               AS BIGINT) AS a
           FROM r GROUP BY 1),
         lab AS (
           SELECT source, lab, CAST(count(*) AS BIGINT) AS nc FROM (
             SELECT source, unnest([ra, rb, rc]) AS lab FROM r)
           GROUP BY 1, 2),
         c AS (
           SELECT source, CAST(count(DISTINCT lab) AS BIGINT) AS k_cats,
             sum(CAST(nc AS HUGEINT) * nc) AS sc2
           FROM lab GROUP BY 1),
         z AS (
           SELECT u.source, u.n_units, c.k_cats, u.p, u.a,
             CAST(3 * u.n_units AS HUGEINT) AS n,
             CAST(3 * u.n_units AS HUGEINT) * (3 * u.n_units) - c.sc2 AS rr
           FROM u JOIN c USING (source))
         SELECT source, n_units, k_cats, p AS agree_pairs_x2,
           CAST(CASE WHEN k_cats = 1 THEN 1000
                ELSE 1000 - (CAST(a AS HUGEINT) * (n - 1) * 1000) // (rr * 2)
                END AS BIGINT) AS alpha_x1000,
           CAST(CASE WHEN k_cats = 1 THEN 1000
                ELSE ((CAST(p AS HUGEINT) * ((k_cats - 1) * n * n)
                       - rr * (6 * n_units)) * 1000)
                  // (CAST(6 * n_units AS HUGEINT)
                      * ((k_cats - 1) * n * n - rr))
                END AS BIGINT) AS ac1_x1000
         FROM z ORDER BY source""",

    // per-level counts, the folded T and variance, z^2 via HUGEINT
    // cross-products (T^2*N grows ~N^5)
    "q_cochran_armitage" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name,
             CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS w,
             CAST(round(o_totalprice * 100) AS BIGINT) > 15000000 AS big
           FROM orders JOIN nat ON o_custkey = c_custkey),
         pw AS (
           SELECT n_name, w, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN big THEN 1 ELSE 0 END) AS BIGINT) AS s
           FROM o GROUP BY 1, 2),
         ag AS (
           SELECT n_name, CAST(count(*) AS BIGINT) AS n_levels,
             CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ss,
             CAST(sum(w * n) AS BIGINT) AS wn,
             CAST(sum(w * w * n) AS BIGINT) AS wwn,
             CAST(sum(w * s) AS BIGINT) AS ws
           FROM pw GROUP BY 1),
         t AS (
           SELECT n_name, n_levels, nn, ss,
             CAST(ws AS HUGEINT) * nn - CAST(wn AS HUGEINT) * ss AS tt,
             CAST(ss AS HUGEINT) * (nn - ss)
               * (CAST(wwn AS HUGEINT) * nn - CAST(wn AS HUGEINT) * wn)
               AS vv
           FROM ag)
         SELECT n_name, n_levels, nn AS n_obs, ss AS n_pass,
           CAST(tt AS BIGINT) AS t_num,
           CASE WHEN n_levels < 2 OR vv = 0 THEN 0
                ELSE CAST((1000 * tt * tt * nn) // vv AS BIGINT)
           END AS z2_x1000
         FROM t ORDER BY n_name""",

    // cell-pair fold over the bounded contingency; gamma / Somers
    // (dependent-variable ties in the denominator) / Stuart tau-c
    "q_ordinal_assoc" ->
      """WITH geo AS (
           SELECT c_custkey, r_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         o AS (
           SELECT r_name,
             CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS r,
             least(CAST(round(o_totalprice * 100) AS BIGINT) // 5000000, 5)
               AS c
           FROM orders JOIN geo ON o_custkey = c_custkey),
         cells AS (
           SELECT r_name, r, c, CAST(count(*) AS BIGINT) AS o
           FROM o GROUP BY 1, 2, 3),
         fold AS (
           SELECT a.r_name AS r_name,
             CAST(sum(CASE WHEN a.r < b.r AND a.c < b.c
               THEN a.o * b.o ELSE 0 END) AS BIGINT) AS cc,
             CAST(sum(CASE WHEN a.r < b.r AND a.c > b.c
               THEN a.o * b.o ELSE 0 END) AS BIGINT) AS dd,
             CAST(sum(CASE WHEN a.r = b.r AND a.c < b.c
               THEN a.o * b.o ELSE 0 END) AS BIGINT) AS tr,
             CAST(sum(CASE WHEN a.c = b.c AND a.r < b.r
               THEN a.o * b.o ELSE 0 END) AS BIGINT) AS tc,
             CAST(sum(CASE WHEN a.r = b.r AND a.c = b.c
               THEN a.o ELSE 0 END) AS BIGINT) AS n
           FROM cells a JOIN cells b USING (r_name) GROUP BY 1),
         mg AS (
           SELECT r_name, CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT c) AS BIGINT) AS n_cols
           FROM cells GROUP BY 1)
         SELECT fold.r_name AS r_name, n_rows, n_cols, n AS n_total,
           cc AS c_pairs, dd AS d_pairs,
           CASE WHEN cc + dd = 0 THEN 0
                ELSE (1000 * (cc - dd)) // (cc + dd) END AS gamma_pm,
           CASE WHEN cc + dd + tc = 0 THEN 0
                ELSE (1000 * (cc - dd)) // (cc + dd + tc)
           END AS somers_d_rc_pm,
           CASE WHEN cc + dd + tr = 0 THEN 0
                ELSE (1000 * (cc - dd)) // (cc + dd + tr)
           END AS somers_d_cr_pm,
           CASE WHEN least(n_rows, n_cols) < 2
                  OR n * n * (least(n_rows, n_cols) - 1) = 0 THEN 0
                ELSE (1000 * (cc - dd) * 2 * least(n_rows, n_cols))
                  // (n * n * (least(n_rows, n_cols) - 1))
           END AS tau_c_pm
         FROM fold JOIN mg USING (r_name) ORDER BY r_name""",

    // the trimmedSum spine with clamped boundary masses re-valued at
    // the cut-rank values
    "q_winsorized_mean" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey),
         pv AS (
           SELECT n_name, v, CAST(count(*) AS BIGINT) AS m
           FROM o GROUP BY 1, 2),
         cu AS (
           SELECT n_name, v, m,
             CAST(sum(m) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(m) OVER (PARTITION BY n_name) AS BIGINT) AS n
           FROM pv),
         kk AS (
           SELECT n_name, v, m, cum, n,
             (n * 100) // 1000 AS lo, n - (n * 100) // 1000 AS hi
           FROM cu),
         g AS (
           SELECT n_name, CAST(max(n) AS BIGINT) AS n_obs,
             CAST(max(lo) AS BIGINT) AS ncl,
             CAST(sum(v * greatest(0, least(cum, hi)
               - greatest(cum - m, lo))) AS BIGINT) AS interior,
             min(CASE WHEN cum >= lo + 1 THEN v END) AS vlo1,
             min(CASE WHEN cum >= hi THEN v END) AS vhi
           FROM kk GROUP BY 1)
         SELECT n_name, n_obs, ncl AS n_clamped_side,
           interior + ncl * vlo1 + ncl * vhi AS winsorized_sum,
           (interior + ncl * vlo1 + ncl * vhi) // n_obs
             AS winsorized_mean_floor
         FROM g ORDER BY n_name""",

    // type-7 quartiles x4 off the cumulative spine, fences x8, census
    // over the spine's multiplicities
    "q_tukey_outliers" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey),
         pv AS (
           SELECT n_name, v, CAST(count(*) AS BIGINT) AS m
           FROM o GROUP BY 1, 2),
         cu AS (
           SELECT n_name, v, m,
             CAST(sum(m) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             CAST(sum(m) OVER (PARTITION BY n_name) AS BIGINT) AS n
           FROM pv),
         rk AS (
           SELECT n_name, v, m, cum, n,
             1 + (n - 1) // 4 AS r1, (n - 1) % 4 AS f1,
             1 + (3 * (n - 1)) // 4 AS r3, (3 * (n - 1)) % 4 AS f3
           FROM cu),
         q AS (
           SELECT n_name, CAST(max(n) AS BIGINT) AS n_obs,
             CAST(max(f1) AS BIGINT) AS f1, CAST(max(f3) AS BIGINT) AS f3,
             min(CASE WHEN cum >= r1 THEN v END) AS q1lo,
             min(CASE WHEN cum >= r1 + 1 THEN v END) AS q1hi,
             min(CASE WHEN cum >= r3 THEN v END) AS q3lo,
             min(CASE WHEN cum >= r3 + 1 THEN v END) AS q3hi
           FROM rk GROUP BY 1),
         qq AS (
           SELECT n_name, n_obs,
             (4 - f1) * q1lo + f1 * coalesce(q1hi, q1lo) AS q1_x4,
             (4 - f3) * q3lo + f3 * coalesce(q3hi, q3lo) AS q3_x4
           FROM q)
         SELECT qq.n_name AS n_name, n_obs, q1_x4, q3_x4,
           CAST(sum(CASE WHEN pv.v * 8 < 5 * q1_x4 - 3 * q3_x4
             THEN pv.m ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN pv.v * 8 > 5 * q3_x4 - 3 * q1_x4
             THEN pv.m ELSE 0 END) AS BIGINT) AS n_high
         FROM qq JOIN pv ON qq.n_name = pv.n_name
         GROUP BY 1, 2, 3, 4 ORDER BY n_name""",

    "q_mmr_rerank" -> mmrOracleSql,

    // both ANN legs replayed (the annSignCte chain + the exact top-5),
    // then the IR metrics in exact integers — 2520 = lcm(1..10) keeps
    // every reciprocal rank integral
    "q_rank_eval" ->
      (annSignCte + """,
         ax AS (
           SELECT query_id, id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, id) AS BIGINT) AS rank
           FROM rr),
         a5 AS (SELECT query_id, id, rank FROM ax WHERE rank <= 5),
         t0 AS (SELECT query_id, id, list_cosine_similarity(v, qv) AS cos
                FROM c CROSS JOIN q),
         t5 AS (SELECT query_id, id FROM (
             SELECT query_id, id, row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, id) AS rn FROM t0) WHERE rn <= 5),
         j AS (
           SELECT t5.query_id AS query_id, t5.id AS id, a5.rank AS rank
           FROM t5 LEFT JOIN a5
             ON t5.query_id = a5.query_id AND t5.id = a5.id)
         SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS hits_at_5,
           CAST(coalesce(min(rank), 0) AS BIGINT) AS first_hit_rank,
           CASE WHEN min(rank) IS NULL THEN 0
                ELSE 2520 // min(rank) END AS mrr_x2520
         FROM j GROUP BY 1 ORDER BY query_id"""),

    // AP over the approx ranked list with exact-top-5 relevance: every
    // k <= 5 divides 60, so per-hit terms are exact; one final floor
    // graded cascade on the x61440 grid — divisible by every r*4^r,
    // zero floors; survival numerator off two prior-window counts
    "q_err_rank" ->
      (annSignCte + """,
         ax AS (
           SELECT query_id, id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, id) AS BIGINT) AS rank
           FROM rr),
         a5 AS (SELECT query_id, id, rank FROM ax WHERE rank <= 5),
         t0 AS (SELECT query_id, id, list_cosine_similarity(v, qv) AS cos
                FROM c CROSS JOIN q),
         tx AS (SELECT query_id, id,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, id) AS BIGINT) AS rn
                FROM t0),
         t5 AS (SELECT query_id, id, rn FROM tx WHERE rn <= 5),
         graded AS (
           SELECT a5.query_id AS query_id, a5.rank AS rank,
             CAST(CASE WHEN t5.rn <= 2 THEN 3 WHEN t5.rn <= 5 THEN 1
               ELSE 0 END AS BIGINT) AS gn
           FROM a5 LEFT JOIN t5
             ON a5.query_id = t5.query_id AND a5.id = t5.id),
         pri AS (
           SELECT query_id, rank, gn,
             coalesce(CAST(sum(CASE WHEN gn = 0 THEN 1 ELSE 0 END)
               OVER wp AS BIGINT), 0) AS c_miss,
             coalesce(CAST(sum(CASE WHEN gn = 1 THEN 1 ELSE 0 END)
               OVER wp AS BIGINT), 0) AS c_part
           FROM graded
           WINDOW wp AS (PARTITION BY query_id ORDER BY rank
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         terms AS (
           SELECT query_id, gn,
             CAST(1 << CAST(2 * c_miss AS INT) AS BIGINT)
               * (CASE c_part WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 9
                  WHEN 3 THEN 27 ELSE 81 END) AS surv_num,
             CASE rank WHEN 1 THEN 15360 WHEN 2 THEN 1920 WHEN 3 THEN 320
               WHEN 4 THEN 60 ELSE 12 END AS coef
           FROM pri)
         SELECT query_id, CAST(count(*) AS BIGINT) AS n_ranked,
           CAST(sum(CASE WHEN gn > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_graded,
           CAST(sum(gn * surv_num * coef) AS BIGINT) AS err_x61440
         FROM terms GROUP BY 1 ORDER BY query_id"""),

    "q_rank_ap" ->
      (annSignCte + """,
         ax AS (
           SELECT query_id, id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, id) AS BIGINT) AS rank
           FROM rr),
         a5 AS (SELECT query_id, id, rank FROM ax WHERE rank <= 5),
         t0 AS (SELECT query_id, id, list_cosine_similarity(v, qv) AS cos
                FROM c CROSS JOIN q),
         t5 AS (SELECT query_id, id FROM (
             SELECT query_id, id, row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, id) AS rn FROM t0) WHERE rn <= 5),
         rel AS (
           SELECT a5.query_id AS query_id, a5.rank AS rank,
             CASE WHEN t5.id IS NOT NULL THEN 1 ELSE 0 END AS r
           FROM a5 LEFT JOIN t5
             ON a5.query_id = t5.query_id AND a5.id = t5.id),
         cumr AS (
           SELECT query_id, rank, r,
             CAST(sum(r) OVER (PARTITION BY query_id ORDER BY rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS h
           FROM rel),
         tn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
                FROM t5 GROUP BY 1)
         SELECT c2.query_id AS query_id, tn.n_truth,
           CAST(sum(c2.r) AS BIGINT) AS hits_at_5,
           CAST(CASE WHEN tn.n_truth = 0 THEN 0
                ELSE (1000 * sum(CASE WHEN c2.r = 1
                        THEN (60 * c2.h) // c2.rank ELSE 0 END))
                     // (60 * tn.n_truth) END AS BIGINT) AS ap_x1000
         FROM cumr c2 JOIN tn ON c2.query_id = tn.query_id
         GROUP BY c2.query_id, tn.n_truth ORDER BY c2.query_id"""),

    // reliability bins + the per-source ECE numerator and Brier x1e6,
    // every sum CAST back to BIGINT (DuckDB widens to HUGEINT)
    "q_calibration" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT source,
             (CAST(len(list_distinct(t)) AS BIGINT) * 1000)
               // CAST(len(t) AS BIGINT) AS p_pm,
             CASE WHEN len(t) BETWEEN 20 AND 90 THEN 1 ELSE 0 END AS y
           FROM tk WHERE len(t) > 0),
         b AS (
           SELECT source, p_pm // 100 AS bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(p_pm) AS BIGINT) AS sum_p_pm,
             CAST(sum((p_pm - 1000 * y) * (p_pm - 1000 * y)) AS BIGINT) AS sq
           FROM f GROUP BY 1, 2)
         SELECT source, bin, n_docs, n_pos, sum_p_pm,
           (1000 * n_pos) // n_docs AS rate_pm,
           CAST(sum(abs(sum_p_pm - 1000 * n_pos))
             OVER (PARTITION BY source) AS BIGINT) AS ece_num,
           CAST(sum(sq) OVER (PARTITION BY source)
             // sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
             AS brier_x1e6
         FROM b ORDER BY source, bin""",

    // the calibration bin frame; PAV via the minimax identity over
    // prefix-sum range means; picks by (mean-double, index)
    "q_isotonic_calib" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT source,
             (CAST(len(list_distinct(t)) AS BIGINT) * 1000)
               // CAST(len(t) AS BIGINT) AS p_pm,
             CASE WHEN len(t) BETWEEN 20 AND 90 THEN 1 ELSE 0 END AS y
           FROM tk WHERE len(t) > 0),
         b AS (
           SELECT source, p_pm // 100 AS bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(y) AS BIGINT) AS n_pos
           FROM f GROUP BY 1, 2),
         sp AS (
           SELECT source, bin, n_docs, n_pos,
             CAST(row_number() OVER (PARTITION BY source ORDER BY bin)
               AS BIGINT) AS rn,
             CAST(sum(n_pos) OVER (PARTITION BY source ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cp,
             CAST(sum(n_docs) OVER (PARTITION BY source ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cn
           FROM b),
         ri AS (SELECT source, rn AS i, cp - n_pos AS cpi, cn - n_docs AS cni
                FROM sp),
         rj AS (SELECT source, rn AS j, cp AS cpj, cn AS cnj FROM sp),
         rg AS (
           SELECT ri.source AS source, i, j,
             cpj - cpi AS num, cnj - cni AS den,
             CAST(cpj - cpi AS DOUBLE) / CAST(cnj - cni AS DOUBLE) AS mean
           FROM ri JOIN rj ON ri.source = rj.source AND i <= j),
         tr AS (
           SELECT sp.source AS source, sp.bin, sp.rn, sp.n_docs, sp.n_pos,
             rg.i, rg.j, rg.num, rg.den, rg.mean
           FROM sp JOIN rg ON sp.source = rg.source
             AND rg.i <= sp.rn AND sp.rn <= rg.j),
         inn AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY source, rn, i
               ORDER BY mean ASC, j ASC) AS r1 FROM tr) WHERE r1 = 1),
         outt AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY source, rn
               ORDER BY mean DESC, i ASC) AS r2 FROM inn) WHERE r2 = 1)
         SELECT source, bin, n_docs, n_pos,
           (1000 * n_pos) // n_docs AS rate_pm,
           (1000 * num) // den AS iso_pm
         FROM outt ORDER BY source, bin""",

    // the calibration bin frame; REL/RES floored per bin, UNC once
    "q_brier_decomp" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT source,
             (CAST(len(list_distinct(t)) AS BIGINT) * 1000)
               // CAST(len(t) AS BIGINT) AS p_pm,
             CASE WHEN len(t) BETWEEN 20 AND 90 THEN 1 ELSE 0 END AS y
           FROM tk WHERE len(t) > 0),
         b AS (
           SELECT source, p_pm // 100 AS bin,
             CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(y) AS BIGINT) AS pos_k,
             CAST(sum(p_pm) AS BIGINT) AS sp_k,
             CAST(sum((p_pm - 1000 * y) * (p_pm - 1000 * y)) AS BIGINT) AS sq_k
           FROM f GROUP BY 1, 2),
         t AS (
           SELECT source, CAST(sum(n_k) AS BIGINT) AS n,
             CAST(sum(pos_k) AS BIGINT) AS pos,
             CAST(sum(sq_k) AS BIGINT) AS sq
           FROM b GROUP BY 1),
         terms AS (
           SELECT b.source,
             (CAST(sp_k - 1000 * pos_k AS HUGEINT)
              * CAST(sp_k - 1000 * pos_k AS HUGEINT))
               // (CAST(n_k AS HUGEINT) * n) AS rel_t,
             ((CAST(pos_k AS HUGEINT) * n - CAST(pos AS HUGEINT) * n_k)
              * (CAST(pos_k AS HUGEINT) * n - CAST(pos AS HUGEINT) * n_k)
              * 1000000)
               // (CAST(n_k AS HUGEINT) * n * n * n) AS res_t
           FROM b JOIN t ON b.source = t.source)
         SELECT t.source AS source, n AS n_docs, pos AS n_pos,
           CAST(max(sq) // n AS BIGINT) AS brier_x1e6,
           CAST(sum(rel_t) AS BIGINT) AS rel_x1e6,
           CAST(sum(res_t) AS BIGINT) AS res_x1e6,
           CAST((CAST(1000000 AS HUGEINT) * pos * (n - pos))
             // (CAST(n AS HUGEINT) * n) AS BIGINT) AS unc_x1e6
         FROM terms JOIN t ON terms.source = t.source
         GROUP BY 1, 2, 3 ORDER BY t.source""",

    // Every Walsh sum and the lower-median pick replayed.
    "q_hodges_lehmann" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         sm AS (
           SELECT a.event_type AS event_type, a.n + b.n AS s
           FROM dl a JOIN dl b
             ON a.event_type = b.event_type AND a.day <= b.day),
         r AS (
           SELECT event_type, s,
             row_number() OVER (PARTITION BY event_type ORDER BY s) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
           FROM sm)
         SELECT event_type, n_pairs, CAST(s AS BIGINT) AS hl_x2
         FROM r WHERE rn = (n_pairs + 1) // 2 ORDER BY event_type""",

    // The doubled J fold replayed via per-group strictly-below
    // cumulatives over the cent spine.
    "q_jonckheere" ->
      """WITH o AS (
           SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders),
         pv AS (
           SELECT v,
             CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m_1,
             CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m_2,
             CAST(sum(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS m_3,
             CAST(sum(CASE WHEN g = 4 THEN 1 ELSE 0 END) AS BIGINT) AS m_4,
             CAST(sum(CASE WHEN g = 5 THEN 1 ELSE 0 END) AS BIGINT) AS m_5
           FROM o GROUP BY 1),
         cu AS (
           SELECT *,
             CAST(sum(m_1) OVER w AS BIGINT) AS c_1,
             CAST(sum(m_2) OVER w AS BIGINT) AS c_2,
             CAST(sum(m_3) OVER w AS BIGINT) AS c_3,
             CAST(sum(m_4) OVER w AS BIGINT) AS c_4,
             CAST(sum(m_5) OVER w AS BIGINT) AS c_5
           FROM pv
           WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)),
         ag AS (
           SELECT
             CAST(sum(
               m_2 * (2*(c_1-m_1) + m_1) +
               m_3 * (2*(c_1-m_1) + m_1 + 2*(c_2-m_2) + m_2) +
               m_4 * (2*(c_1-m_1) + m_1 + 2*(c_2-m_2) + m_2
                      + 2*(c_3-m_3) + m_3) +
               m_5 * (2*(c_1-m_1) + m_1 + 2*(c_2-m_2) + m_2
                      + 2*(c_3-m_3) + m_3 + 2*(c_4-m_4) + m_4)
             ) AS BIGINT) AS j_x2,
             CAST(sum(m_1) AS BIGINT) AS n_1, CAST(sum(m_2) AS BIGINT) AS n_2,
             CAST(sum(m_3) AS BIGINT) AS n_3, CAST(sum(m_4) AS BIGINT) AS n_4,
             CAST(sum(m_5) AS BIGINT) AS n_5
           FROM cu)
         SELECT n_1 + n_2 + n_3 + n_4 + n_5 AS n_total, j_x2,
           ((n_1+n_2+n_3+n_4+n_5) * (n_1+n_2+n_3+n_4+n_5)
             - (n_1*n_1 + n_2*n_2 + n_3*n_3 + n_4*n_4 + n_5*n_5)) // 2 AS ej_x2,
           j_x2 - (((n_1+n_2+n_3+n_4+n_5) * (n_1+n_2+n_3+n_4+n_5)
             - (n_1*n_1 + n_2*n_2 + n_3*n_3 + n_4*n_4 + n_5*n_5)) // 2)
             AS j_excess_x2,
           n_1, n_2, n_3, n_4, n_5
         FROM ag""",

    // The rank cuts and exact tie-run interval splits replayed.
    "q_trimmed_mean" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey),
         pv AS (SELECT n_name, v, CAST(count(*) AS BIGINT) AS m
                FROM o GROUP BY 1, 2),
         cu AS (
           SELECT n_name, v, m,
             CAST(sum(m) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(m) OVER (PARTITION BY n_name) AS BIGINT) AS n
           FROM pv),
         kp AS (
           SELECT n_name, v, m, cum, n,
             (n * 100) // 1000 AS lo, n - ((n * 100) // 1000) AS hi
           FROM cu),
         kk AS (
           SELECT n_name, v, n,
             greatest(0, least(cum, hi) - greatest(cum - m, lo)) AS keepn
           FROM kp)
         SELECT n_name, CAST(max(n) AS BIGINT) AS n_obs,
           CAST(sum(keepn) AS BIGINT) AS n_kept,
           CAST(sum(v * keepn) AS BIGINT) AS trimmed_sum,
           CASE WHEN sum(keepn) = 0 THEN 0
                ELSE CAST(sum(v * keepn) AS BIGINT)
                  // CAST(sum(keepn) AS BIGINT) END AS trimmed_mean_floor
         FROM kk GROUP BY 1 ORDER BY n_name""",

    // Both lower medians replayed over the value and deviation spines.
    "q_mad" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey),
         pv AS (SELECT n_name, v, CAST(count(*) AS BIGINT) AS m
                FROM o GROUP BY 1, 2),
         c1 AS (
           SELECT n_name, v,
             CAST(sum(m) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm,
             CAST(sum(m) OVER (PARTITION BY n_name) AS BIGINT) AS n
           FROM pv),
         md AS (
           SELECT n_name, CAST(min(v) AS BIGINT) AS median,
             CAST(max(n) AS BIGINT) AS n_obs
           FROM c1 WHERE cm >= (n + 1) // 2 GROUP BY 1),
         dv AS (
           SELECT o.n_name, abs(v - median) AS d
           FROM o JOIN md ON o.n_name = md.n_name),
         pd AS (SELECT n_name, d, CAST(count(*) AS BIGINT) AS m
                FROM dv GROUP BY 1, 2),
         c2 AS (
           SELECT n_name, d,
             CAST(sum(m) OVER (PARTITION BY n_name ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm,
             CAST(sum(m) OVER (PARTITION BY n_name) AS BIGINT) AS n
           FROM pd),
         mad AS (
           SELECT n_name, CAST(min(d) AS BIGINT) AS mad
           FROM c2 WHERE cm >= (n + 1) // 2 GROUP BY 1)
         SELECT md.n_name, n_obs, median, mad
         FROM md JOIN mad USING (n_name) ORDER BY n_name""",

    // The pairwise majority matrix and both-sides score sums replayed.
    "q_copeland" ->
      """WITH bl AS (
           SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1, 2),
         pw AS (
           SELECT a.source AS ca, b.source AS cb,
             CAST(sum(CASE WHEN a.n_docs > b.n_docs THEN 1 ELSE 0 END) AS BIGINT) AS wa,
             CAST(sum(CASE WHEN a.n_docs < b.n_docs THEN 1 ELSE 0 END) AS BIGINT) AS wb
           FROM bl a JOIN bl b ON a.lang = b.lang AND a.source < b.source
           GROUP BY 1, 2),
         vd AS (
           SELECT ca, cb,
             CASE WHEN wa > wb THEN 1 WHEN wa < wb THEN -1 ELSE 0 END AS v
           FROM pw),
         sides AS (
           SELECT ca AS cand, v FROM vd
           UNION ALL SELECT cb AS cand, -v FROM vd),
         ag AS (
           SELECT cand, CAST(count(*) AS BIGINT) AS n_opponents,
             CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
             CAST(sum(CASE WHEN v = -1 THEN 1 ELSE 0 END) AS BIGINT) AS losses
           FROM sides GROUP BY 1)
         SELECT cand, n_opponents, wins, losses,
           wins - losses AS copeland,
           CAST(row_number() OVER (ORDER BY wins - losses DESC, cand) AS BIGINT)
             AS final_rank
         FROM ag ORDER BY final_rank""",

    // the copeland pairwise spine; worst defeat = max opponent margin
    "q_minimax" ->
      """WITH bl AS (
           SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1, 2),
         pw AS (
           SELECT a.source AS ca, b.source AS cb,
             CAST(sum(CASE WHEN a.n_docs > b.n_docs THEN 1 ELSE 0 END) AS BIGINT) AS wa,
             CAST(sum(CASE WHEN a.n_docs < b.n_docs THEN 1 ELSE 0 END) AS BIGINT) AS wb
           FROM bl a JOIN bl b ON a.lang = b.lang AND a.source < b.source
           GROUP BY 1, 2),
         sides AS (
           SELECT ca AS cand, wb - wa AS defeat FROM pw
           UNION ALL SELECT cb AS cand, wa - wb AS defeat FROM pw),
         ag AS (
           SELECT cand, CAST(count(*) AS BIGINT) AS n_opponents,
             CAST(max(defeat) AS BIGINT) AS worst_defeat
           FROM sides GROUP BY 1)
         SELECT cand, n_opponents, worst_defeat,
           CAST(row_number() OVER (ORDER BY worst_defeat ASC, cand) AS BIGINT)
             AS final_rank
         FROM ag ORDER BY final_rank""",

    // The QI group table and the privacy rollup replayed.
    "q_anon_gate" ->
      """WITH g AS (
           SELECT event_type, isodow(CAST(ts AS DATE)) AS dow,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS l
           FROM events GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(min(n) AS BIGINT) AS min_group_size,
           CAST(sum(CASE WHEN n < 300 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below_k,
           CAST(sum(CASE WHEN n < 300 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_below_k,
           CAST(min(l) AS BIGINT) AS l_min,
           CAST(300 AS BIGINT) AS k,
           min(n) >= 300 AS k_anonymous
         FROM g""",

    // Per-ballot doubled midranks and the consensus sums replayed.
    "q_borda" ->
      """WITH bl AS (
           SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1, 2),
         rk AS (
           SELECT lang, source,
             min(rn) OVER (PARTITION BY lang, n_docs)
               + max(rn) OVER (PARTITION BY lang, n_docs) AS r2
           FROM (SELECT *, row_number() OVER (PARTITION BY lang
                   ORDER BY n_docs) AS rn FROM bl)),
         ag AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_ballots,
             CAST(sum(r2) AS BIGINT) AS borda_x2
           FROM rk GROUP BY 1)
         SELECT source, n_ballots, borda_x2,
           CAST(row_number() OVER (ORDER BY borda_x2 DESC, source) AS BIGINT)
             AS final_rank
         FROM ag ORDER BY final_rank""",

    // The frequency spectrum, S₂, and the decimal K rendering replayed.
    // exact L1 pair grid (materialized once), cross-multiplied argmin,
    // one floored division per point; Dunn off the same pair frame
    "q_silhouette" ->
      """WITH pts AS MATERIALIZED (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
             list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))
               AS q
           FROM embeddings),
         pd AS MATERIALIZED (
           SELECT a.vec_id AS ia, a.label AS la, b.label AS lb,
             CAST(list_sum(list_transform(list_zip(a.q, b.q),
               p -> abs(p[1] - p[2]))) AS BIGINT) AS d
           FROM pts a JOIN pts b ON a.vec_id <> b.vec_id),
         sic AS MATERIALIZED (
           SELECT ia, la, lb, CAST(sum(d) AS BIGINT) AS sc,
             CAST(count(*) AS BIGINT) AS nc
           FROM pd GROUP BY 1, 2, 3),
         own AS (SELECT ia, la, sc AS a_num, nc AS a_den
                 FROM sic WHERE la = lb),
         oth AS MATERIALIZED (SELECT * FROM sic WHERE la <> lb),
         bm AS (
           SELECT o.ia, o.sc AS b_num, o.nc AS b_den
           FROM oth o JOIN oth p ON p.ia = o.ia
           GROUP BY o.ia, o.lb, o.sc, o.nc
           HAVING sum(CASE WHEN p.sc * o.nc < o.sc * p.nc
             OR (p.sc * o.nc = o.sc * p.nc AND p.lb < o.lb)
             THEN 1 ELSE 0 END) = 0),
         si AS (
           SELECT own.ia, own.la,
             (1000 * (CAST(b_num AS HUGEINT) * a_den
                - CAST(a_num AS HUGEINT) * b_den))
               // greatest(CAST(a_num AS HUGEINT) * b_den,
                  CAST(b_num AS HUGEINT) * a_den) AS s
           FROM own JOIN bm ON own.ia = bm.ia),
         dunn AS (
           SELECT CAST(min(CASE WHEN la <> lb THEN d END) AS BIGINT)
               AS min_inter,
             CAST(max(CASE WHEN la = lb THEN d END) AS BIGINT) AS max_intra
           FROM pd)
         SELECT la AS label, CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(s) // count(*) AS BIGINT) AS mean_s_x1000,
           min_inter, max_intra,
           CAST(CASE WHEN max_intra <= 0 THEN 0
             ELSE (1000 * min_inter) // max_intra END AS BIGINT)
             AS dunn_x1000
         FROM si CROSS JOIN dunn
         GROUP BY la, min_inter, max_intra ORDER BY la""",

    // doubled median / doubled-twice MAD order-stat trick (parity-
    // free); the median telescopes out of the pair difference; mad4=0
    // words drop
    "q_stylometry_delta" ->
      """WITH toks AS (
           SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents),
         cnt AS (
           SELECT source, tok, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY 1, 2),
         vocab AS (
           SELECT tok FROM (
             SELECT tok, row_number() OVER
               (ORDER BY sum(c) DESC, tok) AS rk
             FROM cnt GROUP BY tok) WHERE rk <= 30),
         tot AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS tot
           FROM cnt GROUP BY 1),
         prof AS (
           SELECT v.tok, t.source,
             (1000000 * coalesce(c, 0)) // tot AS f
           FROM vocab v CROSS JOIN tot t
           LEFT JOIN cnt ON cnt.tok = v.tok AND cnt.source = t.source),
         m1 AS (
           SELECT *, row_number() OVER
               (PARTITION BY tok ORDER BY f, source) AS rn,
             CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS ns
           FROM prof),
         m2 AS (SELECT *, (ns + 1) // 2 AS mlo, ns // 2 + 1 AS mhi FROM m1),
         m3 AS (
           SELECT *,
             sum(CASE WHEN rn = mlo THEN f ELSE 0 END)
               OVER (PARTITION BY tok)
             + sum(CASE WHEN rn = mhi THEN f ELSE 0 END)
               OVER (PARTITION BY tok) AS med2
           FROM m2),
         m4 AS (SELECT *, abs(2 * f - med2) AS dev FROM m3),
         m5 AS (
           SELECT *, row_number() OVER
             (PARTITION BY tok ORDER BY dev, source) AS rd
           FROM m4),
         m6 AS (
           SELECT *,
             sum(CASE WHEN rd = mlo THEN dev ELSE 0 END)
               OVER (PARTITION BY tok)
             + sum(CASE WHEN rd = mhi THEN dev ELSE 0 END)
               OVER (PARTITION BY tok) AS mad4
           FROM m5),
         mf AS (SELECT tok, source, f, mad4 FROM m6 WHERE mad4 > 0),
         pairs AS (
           SELECT a.source AS s_a, b.source AS s_b,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum((4000000 * abs(a.f - b.f)) // a.mad4) AS BIGINT)
               AS ssum
           FROM mf a JOIN mf b ON a.tok = b.tok AND a.source < b.source
           GROUP BY 1, 2)
         SELECT s_a, s_b, n_words, ssum // n_words AS delta_x1e6
         FROM pairs ORDER BY s_a, s_b""",

    "q_yule_k" ->
      """WITH tk AS (
           SELECT source AS cat,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) AS tok
           FROM documents),
         fr AS (SELECT cat, tok, CAST(count(*) AS BIGINT) AS f
                FROM tk GROUP BY 1, 2)
         SELECT cat, CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CAST(f AS HUGEINT) * f) AS BIGINT) AS sum_f_sq,
           CAST((10000000 * (sum(CAST(f AS HUGEINT) * f) - sum(f)))
             // (CAST(sum(f) AS HUGEINT) * sum(f)) AS BIGINT) AS yule_k_x1000
         FROM fr GROUP BY 1 ORDER BY cat""",

    // singleton/doubleton spectrum; bias-corrected Chao1 + coverage
    "q_chao1" ->
      """WITH tk AS (
           SELECT source AS cat,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) AS tok
           FROM documents),
         fr AS (SELECT cat, tok, CAST(count(*) AS BIGINT) AS f
                FROM tk GROUP BY 1, 2)
         SELECT cat, CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(count(*) * 10
             + (10 * sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)
                   * (sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) - 1))
               // (2 * (sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) + 1))
             AS BIGINT) AS chao1_x10,
           CAST(CASE WHEN sum(f) = 0 THEN 0
                ELSE 1000 - (1000 * sum(CASE WHEN f = 1 THEN 1 ELSE 0 END))
                  // sum(f) END AS BIGINT) AS coverage_pm
         FROM fr GROUP BY 1 ORDER BY cat""",

    // fixed candidate grid; per-child floors summed as integers
    "q_stump_split" ->
      """WITH tk AS (
           SELECT lang,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT CAST(len(t) AS BIGINT) AS n_tok,
             (CAST(len(list_distinct(t)) AS BIGINT) * 1000)
               // CAST(len(t) AS BIGINT) AS ttr_pm,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM tk WHERE len(t) > 0),
         grid AS (
           SELECT * FROM (VALUES
             ('n_tok', 10), ('n_tok', 20), ('n_tok', 40),
             ('n_tok', 60), ('n_tok', 90), ('n_tok', 120),
             ('ttr_pm', 300), ('ttr_pm', 400), ('ttr_pm', 500),
             ('ttr_pm', 600), ('ttr_pm', 700), ('ttr_pm', 800))
             AS g(feature, thr)),
         e AS (
           SELECT feature, CAST(thr AS BIGINT) AS thr,
             CASE WHEN feature = 'n_tok' THEN n_tok ELSE ttr_pm END AS v,
             y
           FROM f CROSS JOIN grid),
         c AS (
           SELECT feature, thr,
             CAST(sum(CASE WHEN v <= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_l,
             CAST(sum(CASE WHEN v <= thr THEN y ELSE 0 END) AS BIGINT)
               AS pos_l,
             CAST(sum(CASE WHEN v > thr THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
             CAST(sum(CASE WHEN v > thr THEN y ELSE 0 END) AS BIGINT) AS pos_r
           FROM e GROUP BY 1, 2),
         sc AS (
           SELECT feature, thr, n_l, pos_l, n_r, pos_r,
             CAST(CASE WHEN n_l = 0 THEN 0
               ELSE (CAST(1000000 AS HUGEINT) * pos_l * (n_l - pos_l)) // n_l
               END
             + CASE WHEN n_r = 0 THEN 0
               ELSE (CAST(1000000 AS HUGEINT) * pos_r * (n_r - pos_r)) // n_r
               END AS BIGINT) AS imp_x1e6
           FROM c)
         SELECT feature, thr, n_l, pos_l, n_r, pos_r, imp_x1e6,
           CAST(row_number() OVER (ORDER BY imp_x1e6 ASC, feature ASC, thr ASC)
             AS BIGINT) AS split_rank
         FROM sc ORDER BY split_rank""",

    // the identical 3-way-max DP via nested list_reduce: outer fold
    // over xs (as ys-position masks — exact equality, no hashing),
    // inner fold appends the running max per cell, both branches
    // always rebuilding the list (the documented list_reduce hazard)
    "q_rouge_lcs" ->
      """WITH tk AS (
           SELECT doc_id, lang, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '')[1:30] AS t
           FROM documents),
         f AS (SELECT * FROM tk WHERE len(t) > 0),
         p AS (
           SELECT doc_id AS doc_id_a, lead(doc_id) OVER w AS doc_id_b,
             t AS xs, lead(t) OVER w AS ys
           FROM f
           WINDOW w AS (PARTITION BY lang, source ORDER BY doc_id)),
         q AS (SELECT * FROM p WHERE doc_id_b IS NOT NULL),
         m AS (
           SELECT doc_id_a, doc_id_b,
             CAST(len(xs) AS BIGINT) AS len_a,
             CAST(len(ys) AS BIGINT) AS len_b, ys,
             list_transform(xs, x ->
               list_filter(range(1, len(ys) + 1), j -> ys[j] = x)) AS xm
           FROM q),
         l AS (
           SELECT doc_id_a, doc_id_b, len_a, len_b,
             list_reduce(
               list_prepend(
                 list_transform(range(0, len(ys) + 1),
                   i -> CAST(0 AS BIGINT)),
                 xm),
               (row, x) -> list_reduce(
                 list_prepend([CAST(0 AS BIGINT)],
                   list_transform(range(1, len(ys) + 1),
                     j -> [CAST(j AS BIGINT)])),
                 (nr, jj) -> list_concat(nr, [greatest(
                   nr[-1], row[jj[1] + 1],
                   row[jj[1]] + CASE WHEN list_contains(x, jj[1])
                                     THEN 1 ELSE 0 END)]))
             )[-1] AS lcs_len
           FROM m)
         SELECT doc_id_a, doc_id_b, len_a, len_b, lcs_len,
           (1000 * lcs_len) // len_a AS recall_pm,
           (1000 * lcs_len) // len_b AS precision_pm,
           (2000 * lcs_len) // (len_a + len_b) AS f_pm
         FROM l ORDER BY doc_id_a""",

    // blocked pairs; clipped multiset precisions by min-join per gram
    "q_bleu_components" ->
      """WITH d AS (
           SELECT doc_id, lang, n_chars,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS tk
           FROM documents WHERE doc_id < 500),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b
             ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 1
             AND a.doc_id < b.doc_id),
         u1 AS (
           SELECT doc_id, unnest(tk) AS g FROM d WHERE len(tk) >= 1),
         u2 AS (
           SELECT doc_id,
             unnest([tk[i] || ' ' || tk[i+1]
                     for i in range(1, greatest(len(tk), 1))]) AS g
           FROM d WHERE len(tk) >= 2),
         c1c AS (
           SELECT id_a, id_b, g, CAST(count(*) AS BIGINT) AS cc
           FROM pairs JOIN u1 ON u1.doc_id = pairs.id_a GROUP BY 1, 2, 3),
         c1r AS (
           SELECT id_a, id_b, g, CAST(count(*) AS BIGINT) AS cr
           FROM pairs JOIN u1 ON u1.doc_id = pairs.id_b GROUP BY 1, 2, 3),
         k1 AS (
           SELECT c1c.id_a, c1c.id_b,
             CAST(sum(cc) AS BIGINT) AS len1,
             CAST(sum(least(cc, coalesce(cr, 0))) AS BIGINT) AS clip1
           FROM c1c LEFT JOIN c1r
             ON c1c.id_a = c1r.id_a AND c1c.id_b = c1r.id_b AND c1c.g = c1r.g
           GROUP BY 1, 2),
         c2c AS (
           SELECT id_a, id_b, g, CAST(count(*) AS BIGINT) AS cc
           FROM pairs JOIN u2 ON u2.doc_id = pairs.id_a GROUP BY 1, 2, 3),
         c2r AS (
           SELECT id_a, id_b, g, CAST(count(*) AS BIGINT) AS cr
           FROM pairs JOIN u2 ON u2.doc_id = pairs.id_b GROUP BY 1, 2, 3),
         k2 AS (
           SELECT c2c.id_a, c2c.id_b,
             CAST(sum(cc) AS BIGINT) AS len2,
             CAST(sum(least(cc, coalesce(cr, 0))) AS BIGINT) AS clip2
           FROM c2c LEFT JOIN c2r
             ON c2c.id_a = c2r.id_a AND c2c.id_b = c2r.id_b AND c2c.g = c2r.g
           GROUP BY 1, 2),
         lr AS (SELECT doc_id AS id_b, CAST(len(tk) AS BIGINT) AS len_ref
                FROM d)
         SELECT k1.id_a, k1.id_b, k1.len1, lr.len_ref, k1.clip1,
           (1000 * k1.clip1) // k1.len1 AS p1_pm,
           coalesce(k2.clip2, 0) AS clip2,
           CASE WHEN coalesce(k2.len2, 0) = 0 THEN 0
                ELSE (1000 * k2.clip2) // k2.len2 END AS p2_pm,
           CASE WHEN lr.len_ref = 0 THEN 0
                ELSE (1000 * k1.len1) // lr.len_ref END AS brevity_pm
         FROM k1
           LEFT JOIN k2 ON k1.id_a = k2.id_a AND k1.id_b = k2.id_b
           JOIN lr ON k1.id_b = lr.id_b
         ORDER BY k1.id_a, k1.id_b""",

    // the identical sqrt tree; gt_half by exact squared comparison
    "q_wilson_rank" ->
      """WITH tk AS (
           SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT source, len(t) BETWEEN 20 AND 90 AS pass
           FROM tk WHERE len(t) > 0),
         g AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS pos
           FROM f GROUP BY 1),
         w AS (
           SELECT source, n, pos,
             (1000 * pos) // n AS rate_pm,
             (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
              + 2.0 / CAST(n AS DOUBLE)
              - 2.0 * sqrt((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                  * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)))
                    / CAST(n AS DOUBLE)
                  + 1.0 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + 4.0 / CAST(n AS DOUBLE)) AS wilson_lb,
             pos * 2 > n AND
               CAST(n AS HUGEINT) * (CAST(pos AS HUGEINT) * 2 - n)
                 * (CAST(pos AS HUGEINT) * 2 - n) >
               (CAST(pos AS HUGEINT) * (n - pos) + n) * 16 AS gt_half
           FROM g)
         SELECT source, n, pos, rate_pm, wilson_lb, gt_half,
           CAST(row_number() OVER (ORDER BY wilson_lb DESC, source ASC)
             AS BIGINT) AS final_rank
         FROM w ORDER BY final_rank""",

    // doubled pair censuses off one contingency; RI/ARI by signed
    // truncating division
    "q_rand_index" ->
      """WITH cells AS (
           SELECT source AS a, lang AS b, CAST(count(*) AS BIGINT) AS m
           FROM documents GROUP BY 1, 2),
         tc AS (SELECT sum(CAST(m AS HUGEINT) * (m - 1)) AS tc FROM cells),
         ta AS (
           SELECT CAST(count(*) AS BIGINT) AS k_a,
             sum(CAST(n AS HUGEINT) * (n - 1)) AS ta
           FROM (SELECT a, CAST(sum(m) AS BIGINT) AS n FROM cells GROUP BY 1)),
         tb AS (
           SELECT CAST(count(*) AS BIGINT) AS k_b,
             sum(CAST(n AS HUGEINT) * (n - 1)) AS tb
           FROM (SELECT b, CAST(sum(m) AS BIGINT) AS n FROM cells GROUP BY 1)),
         nn AS (SELECT CAST(sum(m) AS BIGINT) AS n_rows FROM cells),
         z AS (
           SELECT n_rows, k_a, k_b, tc, ta, tb,
             CAST(n_rows AS HUGEINT) * (n_rows - 1) AS tn
           FROM nn CROSS JOIN tc CROSS JOIN ta CROSS JOIN tb)
         SELECT n_rows, k_a, k_b, CAST(tc AS BIGINT) AS t_cells_x2,
           CAST(CASE WHEN tn = 0 THEN 1000
                ELSE ((tc * 2 + tn - ta - tb) * 1000) // tn
                END AS BIGINT) AS ri_pm,
           CAST(CASE WHEN (ta + tb) * tn - ta * tb * 2 = 0 THEN 0
                ELSE ((tc * tn - ta * tb) * 2000000)
                  // ((ta + tb) * tn - ta * tb * 2)
                END AS BIGINT) AS ari_x1e6
         FROM z""",

    // top-12 terms by (count desc, term asc); densified per-part
    // cells; DP by cross-multiplied L1 halves
    "q_gries_dp" ->
      """WITH tk AS (
           SELECT source AS part,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) AS term
           FROM documents),
         cells AS (
           SELECT part, term, CAST(count(*) AS BIGINT) AS c
           FROM tk GROUP BY 1, 2),
         sizes AS (SELECT part, CAST(sum(c) AS BIGINT) AS n_p
                   FROM cells GROUP BY 1),
         corpus AS (SELECT term, CAST(sum(c) AS BIGINT) AS cf
                    FROM cells GROUP BY 1),
         top AS (SELECT term, cf FROM corpus
                 ORDER BY cf DESC, term ASC LIMIT 12),
         tot AS (SELECT CAST(sum(n_p) AS BIGINT) AS n_total FROM sizes),
         dense AS (
           SELECT t.term, t.cf, s.n_p, coalesce(c.c, 0) AS c, tot.n_total
           FROM top t CROSS JOIN sizes s
           LEFT JOIN cells c ON c.part = s.part AND c.term = t.term
           CROSS JOIN tot)
         SELECT term, cf, CAST(max(n_total) AS BIGINT) AS n_total,
           CAST(CASE WHEN cf = 0 OR max(n_total) = 0 THEN 0
                ELSE (sum(abs(CAST(c AS HUGEINT) * n_total
                              - CAST(n_p AS HUGEINT) * cf)) * 1000)
                  // (CAST(cf AS HUGEINT) * max(n_total) * 2)
                END AS BIGINT) AS dp_pm
         FROM dense GROUP BY 1, 2 ORDER BY cf DESC, term ASC""",

    // Complex-word counts and the floor-composed fog index replayed.
    "q_gunning_fog" ->
      """WITH tk AS (
           SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t,
             CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                         x -> trim(x) <> '')) AS BIGINT) AS s
           FROM documents),
         f AS (
           SELECT source, s,
             CAST(len(t) AS BIGINT) AS w,
             CAST(COALESCE(list_sum(list_transform(t,
               x -> CASE WHEN len(regexp_extract_all(x, '[aeiouy]+')) >= 3
                    THEN 1 ELSE 0 END)), 0) AS BIGINT) AS cx
           FROM tk),
         sc AS (
           SELECT source,
             CASE WHEN w = 0 OR s = 0 THEN 0
                  ELSE ((400 * w) // s) + ((40000 * cx) // w)
             END AS f1000
           FROM f)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f1000) AS BIGINT) AS sum_fog_x1000,
           CAST(min(f1000) AS BIGINT) AS min_fog_x1000,
           CAST(max(f1000) AS BIGINT) AS max_fog_x1000
         FROM sc GROUP BY 1 ORDER BY source""",

    // The exact lower median over the cent spine, the above/at-or-below
    // split, and the shared Cramér's-V chain replayed.
    "q_median_test" ->
      ("""WITH o AS (
           SELECT o_orderpriority AS prio,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders),
         pv AS (SELECT v, CAST(count(*) AS BIGINT) AS m FROM o GROUP BY 1),
         nn AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM pv),
         cm AS (SELECT v, CAST(sum(m) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cmv FROM pv),
         md AS (SELECT min(v) AS med FROM cm CROSS JOIN nn
                WHERE cmv >= (n + 1) // 2),
         src AS (
           SELECT CASE WHEN v > med THEN 'above' ELSE 'at_or_below' END AS r,
             prio AS c
           FROM o CROSS JOIN md),
       """ + cramersVSqlChain + """
         SELECT n_total, n_rows, n_cols, chi2_x1000, v2_x1e6, med
         FROM cvout CROSS JOIN md"""),

    // Sentences, vowel-group syllables, and the floor-composed score
    // replayed per document, then the per-source rollup.
    "q_flesch" ->
      """WITH tk AS (
           SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t,
             CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                         x -> trim(x) <> '')) AS BIGINT) AS s
           FROM documents),
         f AS (
           SELECT source, s,
             CAST(len(t) AS BIGINT) AS w,
             CAST(COALESCE(list_sum(list_transform(t,
               x -> len(regexp_extract_all(x, '[aeiouy]+')))), 0) AS BIGINT) AS sy
           FROM tk),
         sc AS (
           SELECT source,
             CASE WHEN w = 0 OR s = 0 THEN 0
                  ELSE 206835 - ((1015 * w) // s) - ((84600 * sy) // w)
             END AS f1000
           FROM f)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f1000) AS BIGINT) AS sum_flesch_x1000,
           CAST(min(f1000) AS BIGINT) AS min_flesch_x1000,
           CAST(max(f1000) AS BIGINT) AS max_flesch_x1000
         FROM sc GROUP BY 1 ORDER BY source""",

    // letters = ascii-token character mass, the floor-composed CLI
    "q_coleman_liau" ->
      """WITH tk AS (
           SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t,
             CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                         x -> trim(x) <> '')) AS BIGINT) AS s
           FROM documents),
         f AS (
           SELECT source, s,
             CAST(len(t) AS BIGINT) AS w,
             CAST(COALESCE(list_sum(list_transform(t, x -> len(x))), 0)
               AS BIGINT) AS l
           FROM tk),
         sc AS (
           SELECT source,
             CASE WHEN w = 0 OR s = 0 THEN 0
                  ELSE (5880 * l) // w - (29600 * s) // w - 15800
             END AS c1000
           FROM f)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(c1000) AS BIGINT) AS sum_cli_x1000,
           CAST(min(c1000) AS BIGINT) AS min_cli_x1000,
           CAST(max(c1000) AS BIGINT) AS max_cli_x1000
         FROM sc GROUP BY 1 ORDER BY source""",

    // long word = >= 7 letters, floor-composed LIX/RIX replayed
    "q_lix" ->
      """WITH tk AS (
           SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t,
             CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                         x -> trim(x) <> '')) AS BIGINT) AS s
           FROM documents),
         f AS (
           SELECT source, s,
             CAST(len(t) AS BIGINT) AS w,
             CAST(len(list_filter(t, x -> len(x) >= 7)) AS BIGINT) AS lw
           FROM tk),
         sc AS (
           SELECT source,
             CASE WHEN w = 0 OR s = 0 THEN 0
                  ELSE (1000 * w) // s + (100000 * lw) // w END AS lix1000,
             CASE WHEN s = 0 THEN 0 ELSE (1000 * lw) // s END AS rix1000
           FROM f)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(lix1000) AS BIGINT) AS sum_lix_x1000,
           CAST(sum(rix1000) AS BIGINT) AS sum_rix_x1000,
           CAST(max(lix1000) AS BIGINT) AS max_lix_x1000
         FROM sc GROUP BY 1 ORDER BY source""",

    // the densified 12-word function lexicon with ppm rates replayed
    "q_stopword_profile" ->
      """WITH toks AS (
           SELECT source AS cat,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) AS tok
           FROM documents),
         totals AS (
           SELECT cat, CAST(count(*) AS BIGINT) AS n_tokens
           FROM toks GROUP BY 1),
         lex AS (
           SELECT unnest(['the', 'of', 'and', 'to', 'in', 'a', 'is',
                          'that', 'it', 'as', 'with', 'for']) AS tok),
         counts AS (
           SELECT cat, tok, CAST(count(*) AS BIGINT) AS cnt
           FROM toks WHERE tok IN (SELECT tok FROM lex) GROUP BY 1, 2)
         SELECT t.cat, l.tok, CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt,
           t.n_tokens,
           CAST(CASE WHEN t.n_tokens = 0 THEN 0
                ELSE (1000000 * coalesce(c.cnt, 0)) // t.n_tokens
           END AS BIGINT) AS ppm
         FROM totals t CROSS JOIN lex l
         LEFT JOIN counts c ON c.cat = t.cat AND c.tok = l.tok
         ORDER BY t.cat, l.tok""",

    // exact HUGEINT moment sums cast to double, then the identical
    // fixed expression tree (each sqrt/ratio one IEEE-rounded op)
    "q_partial_corr" ->
      """WITH li AS (
           SELECT l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(round(l_discount * 1000) AS BIGINT) AS disc_pm
           FROM lineitem),
         m AS (
           SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(price_c) AS DOUBLE) AS sx,
             CAST(sum(qty) AS DOUBLE) AS sy,
             CAST(sum(disc_pm) AS DOUBLE) AS sz,
             CAST(sum(price_c * price_c) AS DOUBLE) AS sxx,
             CAST(sum(qty * qty) AS DOUBLE) AS syy,
             CAST(sum(disc_pm * disc_pm) AS DOUBLE) AS szz,
             CAST(sum(price_c * qty) AS DOUBLE) AS sxy,
             CAST(sum(price_c * disc_pm) AS DOUBLE) AS sxz,
             CAST(sum(qty * disc_pm) AS DOUBLE) AS syz
           FROM li GROUP BY 1),
         r AS (
           SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             (n * sxy - sx * sy)
               / sqrt(nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0))
               AS r_xy,
             (n * sxz - sx * sz)
               / sqrt(nullif((n * sxx - sx * sx) * (n * szz - sz * sz), 0.0))
               AS r_xz,
             (n * syz - sy * sz)
               / sqrt(nullif((n * syy - sy * sy) * (n * szz - sz * sz), 0.0))
               AS r_yz
           FROM m)
         SELECT l_returnflag, n, r_xy, r_xz, r_yz,
           (r_xy - r_xz * r_yz)
             / sqrt(nullif((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz), 0.0))
             AS partial_xy_z
         FROM r ORDER BY l_returnflag""",

    // The r_s recursion, the cumulative U_t, and the earliest-argmax
    // pick replayed; struct_pack min = the portable argmin idiom.
    "q_pettitt" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT a.event_type AS event_type, a.day AS day,
             CAST(sum(CASE WHEN a.n > b.n THEN 1 WHEN a.n < b.n THEN -1
                      ELSE 0 END) AS BIGINT) AS r
           FROM dl a JOIN dl b
             ON a.event_type = b.event_type AND a.day <> b.day
           GROUP BY 1, 2),
         u AS (
           SELECT dl.event_type, dl.day,
             CAST(sum(COALESCE(r.r, 0)) OVER (PARTITION BY dl.event_type
               ORDER BY dl.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS u
           FROM dl LEFT JOIN r
             ON dl.event_type = r.event_type AND dl.day = r.day),
         bst AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs,
             min(struct_pack(na := -abs(u), d := day, u := u)) AS best
           FROM u GROUP BY 1)
         SELECT event_type, n_obs, CAST(-best.na AS BIGINT) AS k_stat,
           best.d AS cp_day, CAST(best.u AS BIGINT) AS u_at_cp
         FROM bst ORDER BY event_type""",

    // Doubled day-ranks (distinct) and doubled value-midranks, then the
    // classic floor-divided Σd² rendering of ρ.
    "q_spearman_trend" ->
      """WITH dl AS (
           SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         rk AS (
           SELECT event_type,
             2 * row_number() OVER (PARTITION BY event_type ORDER BY day) AS rx2,
             min(rnv) OVER (PARTITION BY event_type, n)
               + max(rnv) OVER (PARTITION BY event_type, n) AS ry2
           FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                   ORDER BY n) AS rnv FROM dl))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum((rx2 - ry2) * (rx2 - ry2)) AS BIGINT) AS sum_d2_sq,
           CASE WHEN count(*) < 2 THEN 0
                ELSE 1000 - ((1500 * CAST(sum((rx2 - ry2) * (rx2 - ry2)) AS BIGINT))
                  // (count(*) * (count(*) * count(*) - 1))) END AS rho_pm
         FROM rk GROUP BY 1 ORDER BY event_type""",

    // The cross-multiplied ECDF gap replayed over the merged cent spine.
    "q_ks_test" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority = '1-URGENT' AS in_a,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         pv AS (
           SELECT n_name, v,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
           FROM o GROUP BY 1, 2),
         cu AS (
           SELECT n_name,
             CAST(sum(a) OVER w AS BIGINT) AS ca,
             CAST(sum(b) OVER w AS BIGINT) AS cb,
             CAST(sum(a) OVER (PARTITION BY n_name) AS BIGINT) AS n1,
             CAST(sum(b) OVER (PARTITION BY n_name) AS BIGINT) AS n2
           FROM pv
           WINDOW w AS (PARTITION BY n_name ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT n_name, max(n1) AS n1, max(n2) AS n2,
           CAST(max(abs(ca * n2 - cb * n1)) AS BIGINT) AS d_num,
           CASE WHEN max(n1) = 0 OR max(n2) = 0 THEN 0
                ELSE (1000 * CAST(max(abs(ca * n2 - cb * n1)) AS BIGINT))
                  // (max(n1) * max(n2)) END AS d_pm
         FROM cu GROUP BY 1 ORDER BY n_name""",

    // the KS value spine reused; Σm·Δ² in HUGEINT, the cross-multiplied
    // L2 statistic floor-divided identically
    "q_cvm_test" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority = '1-URGENT' AS in_a,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         pv AS (
           SELECT n_name, v,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
           FROM o GROUP BY 1, 2),
         cu AS (
           SELECT n_name, a, b,
             CAST(sum(a) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
             CAST(sum(b) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb,
             CAST(sum(a) OVER (PARTITION BY n_name) AS BIGINT) AS n1,
             CAST(sum(b) OVER (PARTITION BY n_name) AS BIGINT) AS n2
           FROM pv),
         ag AS (
           SELECT n_name, max(n1) AS n1, max(n2) AS n2,
             sum(CAST(a + b AS HUGEINT)
               * (CAST(ca AS HUGEINT) * n2 - CAST(cb AS HUGEINT) * n1)
               * (CAST(ca AS HUGEINT) * n2 - CAST(cb AS HUGEINT) * n1))
               AS t_num
           FROM cu GROUP BY 1)
         SELECT n_name, n1, n2,
           CASE WHEN n1 = 0 OR n2 = 0 THEN 0
                ELSE CAST((1000 * t_num)
                  // (CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * n1 * n2)
                  AS BIGINT) END AS t_x1000
         FROM ag ORDER BY n_name""",

    // the KS value spine a third time; per-term ×1000 floor (varying
    // denominators B·(N−B) admit no common-denominator single division),
    // term-sum floored once by n1·n2; the B=N spine row is excluded
    "q_ad_test" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority = '1-URGENT' AS in_a,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         pv AS (
           SELECT n_name, v,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
           FROM o GROUP BY 1, 2),
         cu AS (
           SELECT n_name, a, b,
             CAST(sum(a) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
             CAST(sum(b) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb,
             CAST(sum(a) OVER (PARTITION BY n_name) AS BIGINT) AS n1,
             CAST(sum(b) OVER (PARTITION BY n_name) AS BIGINT) AS n2
           FROM pv),
         tm AS (
           SELECT n_name, n1, n2,
             CASE WHEN ca + cb = n1 + n2 THEN NULL
               ELSE (CAST(a + b AS HUGEINT)
                 * (CAST(n1 + n2 AS HUGEINT) * ca - CAST(n1 AS HUGEINT) * (ca + cb))
                 * (CAST(n1 + n2 AS HUGEINT) * ca - CAST(n1 AS HUGEINT) * (ca + cb))
                 * 1000)
                 // (CAST(ca + cb AS HUGEINT) * (n1 + n2 - ca - cb)) END AS term
           FROM cu),
         ag AS (
           SELECT n_name, max(n1) AS n1, max(n2) AS n2,
             coalesce(sum(term), 0) AS s
           FROM tm GROUP BY 1)
         SELECT n_name, n1, n2,
           CASE WHEN n1 = 0 OR n2 = 0 THEN 0
                ELSE CAST(s // (CAST(n1 AS HUGEINT) * n2) AS BIGINT)
                END AS a2_x1000
         FROM ag ORDER BY n_name""",

    // exact n^4-scaled double-centering; ordered two-stage floor for
    // dCor^4 (q1 <= 1000 by Cauchy-Schwarz)
    "q_dcov" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         m AS (
           SELECT n_name,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT) // 1000)
               AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
           FROM orders JOIN nat ON o_custkey = c_custkey
           GROUP BY 1, 2),
         p AS (
           SELECT a.n_name, a.mon AS i, b.mon AS j,
             CAST(abs(a.x - b.x) AS HUGEINT) AS da,
             CAST(abs(a.y - b.y) AS HUGEINT) AS db
           FROM m a JOIN m b USING (n_name)),
         r AS (
           SELECT n_name, i, sum(da) AS ra, sum(db) AS rb
           FROM p GROUP BY 1, 2),
         g AS (
           SELECT n_name, sum(ra) AS ga, sum(rb) AS gb,
             CAST(count(*) AS HUGEINT) AS n
           FROM r GROUP BY 1),
         t AS (
           SELECT p.n_name,
             g.n * g.n * p.da - g.n * ri.ra - g.n * rj.ra + g.ga AS ta,
             g.n * g.n * p.db - g.n * ri.rb - g.n * rj.rb + g.gb AS tb
           FROM p
           JOIN r ri ON p.n_name = ri.n_name AND p.i = ri.i
           JOIN r rj ON p.n_name = rj.n_name AND p.j = rj.i
           JOIN g ON p.n_name = g.n_name),
         v AS (
           SELECT n_name, sum(ta * tb) AS vxy, sum(ta * ta) AS vx,
             sum(tb * tb) AS vy
           FROM t GROUP BY 1)
         SELECT v.n_name, CAST(g.n AS BIGINT) AS n,
           CASE WHEN vx = 0 OR vy = 0 OR vxy <= 0 THEN 0
                ELSE CAST(((1000 * vxy) // greatest(vx, vy) * vxy)
                          // least(vx, vy) AS BIGINT)
           END AS dcor4_x1000
         FROM v JOIN g ON v.n_name = g.n_name ORDER BY v.n_name""",

    // the KS spine with TWO signed maxes instead of one absolute:
    // V = D+ + D-, per-mille floor in HUGEINT
    "q_kuiper" ->
      """WITH ev AS (
           SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr FROM events),
         u AS (
           SELECT event_type, TRUE AS in_a, hr FROM ev
           WHERE event_type <> 'click'
           UNION ALL
           SELECT t.event_type, FALSE AS in_a, c.hr
           FROM (SELECT DISTINCT event_type FROM ev
                 WHERE event_type <> 'click') t
           CROSS JOIN (SELECT hr FROM ev WHERE event_type = 'click') c),
         pv AS (
           SELECT event_type, hr,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
           FROM u GROUP BY 1, 2),
         cu AS (
           SELECT event_type,
             CAST(sum(a) OVER w AS BIGINT) AS ca,
             CAST(sum(b) OVER w AS BIGINT) AS cb,
             CAST(sum(a) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
             CAST(sum(b) OVER (PARTITION BY event_type) AS BIGINT) AS n2
           FROM pv
           WINDOW w AS (PARTITION BY event_type ORDER BY hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         ag AS (
           SELECT event_type, max(n1) AS n1, max(n2) AS n2,
             greatest(CAST(max(ca * n2 - cb * n1) AS BIGINT),
                      CAST(0 AS BIGINT)) AS dplus_num,
             greatest(CAST(max(cb * n1 - ca * n2) AS BIGINT),
                      CAST(0 AS BIGINT)) AS dminus_num
           FROM cu GROUP BY 1)
         SELECT event_type, n1, n2, dplus_num, dminus_num,
           CASE WHEN n1 = 0 OR n2 = 0 THEN 0
                ELSE CAST((1000 * (CAST(dplus_num AS HUGEINT) + dminus_num))
                          // (CAST(n1 AS HUGEINT) * n2) AS BIGINT)
                END AS v_pm
         FROM ag ORDER BY event_type""",

    // closed-form doubled AB scores per tie run (two arithmetic series
    // split at the peak), per-run floor, expectation alongside
    "q_ansari_bradley" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority = '1-URGENT' AS in_a,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         pv AS (
           SELECT n_name, v,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
           FROM o GROUP BY 1, 2),
         cu AS (
           SELECT n_name, a, b, a + b AS m,
             CAST(sum(a + b) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi,
             CAST(sum(a + b) OVER (PARTITION BY n_name) AS BIGINT) AS n
           FROM pv),
         sc AS (SELECT *, hi - m + 1 AS lo, (n + 1) // 2 AS c FROM cu),
         ser AS (
           SELECT n_name, a, b, m,
             (CASE WHEN least(hi, c) < lo THEN 0
                   ELSE CAST(lo + least(hi, c) AS HUGEINT)
                        * (least(hi, c) - lo + 1) END)
             + (CASE WHEN least(n - c, n + 1 - lo) < n + 1 - hi THEN 0
                     ELSE CAST((n + 1 - hi) + least(n - c, n + 1 - lo) AS HUGEINT)
                          * (least(n - c, n + 1 - lo) - (n + 1 - hi) + 1) END)
               AS s2run
           FROM sc),
         ag AS (
           SELECT n_name, CAST(sum(a) AS BIGINT) AS n1,
             CAST(sum(b) AS BIGINT) AS n2,
             sum((s2run * a * 1000) // m) AS ab2
           FROM ser GROUP BY 1)
         SELECT n_name, n1, n2, n1 + n2 AS n_total,
           CAST(ab2 AS BIGINT) AS ab2_x1000,
           CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN 0
                WHEN (n1 + n2) % 2 = 0 THEN (1000 * n1 * (n1 + n2 + 2)) // 2
                ELSE (1000 * n1 * (n1 + n2 + 1) * (n1 + n2 + 1))
                     // (2 * (n1 + n2)) END AS BIGINT) AS e_ab2_x1000
         FROM ag ORDER BY n_name""",

    // W leg integer-exact (doubled midranks, tie-corrected variance,
    // two-stage floor); AB leg on the ansari ×1000 grid; ×1000² dev
    // over unit-grid variance IS the ×1e6 standardized square
    "q_lepage" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority = '1-URGENT' AS in_a,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey
           WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         pv AS (
           SELECT n_name, v,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b
           FROM o GROUP BY 1, 2),
         cu AS (
           SELECT n_name, a, b, a + b AS m,
             CAST(sum(a + b) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi,
             CAST(sum(a + b) OVER (PARTITION BY n_name) AS BIGINT) AS n
           FROM pv),
         sc AS (SELECT *, hi - m + 1 AS lo, (n + 1) // 2 AS c FROM cu),
         ser AS (
           SELECT n_name, a, b, m, lo, hi,
             (CASE WHEN least(hi, c) < lo THEN 0
                   ELSE CAST(lo + least(hi, c) AS HUGEINT)
                        * (least(hi, c) - lo + 1) END)
             + (CASE WHEN least(n - c, n + 1 - lo) < n + 1 - hi THEN 0
                     ELSE CAST((n + 1 - hi) + least(n - c, n + 1 - lo) AS HUGEINT)
                          * (least(n - c, n + 1 - lo) - (n + 1 - hi) + 1) END)
               AS s2run
           FROM sc),
         ag AS (
           SELECT n_name, CAST(sum(a) AS BIGINT) AS n1,
             CAST(sum(b) AS BIGINT) AS n2,
             CAST(sum(a * (lo + hi)) AS BIGINT) AS w2,
             CAST(sum(CAST(m AS HUGEINT) * m * m - m) AS HUGEINT) AS ties,
             CAST(sum((s2run * a * 1000) // m) AS BIGINT) AS ab2,
             CAST(sum((s2run * s2run * 1000) // m) AS HUGEINT) AS t2,
             CAST(sum(s2run) AS HUGEINT) AS s2tot
           FROM ser GROUP BY 1),
         fin AS (
           SELECT n_name, n1, n2, n1 + n2 AS nn, w2,
             n1 * (n1 + n2 + 1) AS e_w2, ab2,
             CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN 0
                  WHEN (n1 + n2) % 2 = 0 THEN (1000 * n1 * (n1 + n2 + 2)) // 2
                  ELSE (1000 * n1 * (n1 + n2 + 1) * (n1 + n2 + 1))
                       // (2 * (n1 + n2)) END AS BIGINT) AS e_ab2,
             CASE WHEN n1 + n2 < 2 THEN NULL
                  ELSE (CAST(n1 AS HUGEINT) * n2
                    * ((n1 + n2 + 1) * CAST(n1 + n2 AS HUGEINT)
                       * (n1 + n2 - 1) - ties))
                    // (3 * CAST(n1 + n2 AS HUGEINT) * (n1 + n2 - 1)) END
               AS vw2,
             CASE WHEN n1 + n2 < 2 THEN NULL
                  ELSE (CAST(n1 AS HUGEINT) * n2
                    * ((CAST(n1 + n2 AS HUGEINT) * t2
                        - 1000 * s2tot * s2tot) // 1000))
                    // (CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * (n1 + n2 - 1))
                  END AS vab2
           FROM ag)
         SELECT n_name, n1, n2, w2, e_w2,
           ab2 AS ab2_x1000, e_ab2 AS e_ab2_x1000,
           CAST(CASE WHEN n1 = 0 OR n2 = 0 OR nn < 2
                     OR vw2 IS NULL OR vw2 <= 0 THEN 0
                ELSE (CAST(w2 - e_w2 AS HUGEINT) * (w2 - e_w2) * 1000000)
                     // vw2 END AS BIGINT) AS z2w_x1e6,
           CAST(CASE WHEN n1 = 0 OR n2 = 0
                     OR vab2 IS NULL OR vab2 <= 0 THEN 0
                ELSE (CAST(ab2 - e_ab2 AS HUGEINT) * (ab2 - e_ab2))
                     // vab2 END AS BIGINT) AS z2ab_x1e6,
           CAST(CASE WHEN n1 = 0 OR n2 = 0 OR nn < 2
                     OR vw2 IS NULL OR vw2 <= 0 THEN 0
                ELSE (CAST(w2 - e_w2 AS HUGEINT) * (w2 - e_w2) * 1000000)
                     // vw2 END
              + CASE WHEN n1 = 0 OR n2 = 0
                     OR vab2 IS NULL OR vab2 <= 0 THEN 0
                ELSE (CAST(ab2 - e_ab2 AS HUGEINT) * (ab2 - e_ab2))
                     // vab2 END AS BIGINT) AS lepage_x1e6
         FROM fin ORDER BY n_name""",

    // the densified value spine, per-group cumulative mass, and the
    // pairwise fold replayed — never a row-pair join in either engine
    "q_pairwise_mw" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey
           WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM', '5-LOW')),
         pvg AS (
           SELECT n_name, v, g, CAST(count(*) AS BIGINT) AS m
           FROM o GROUP BY 1, 2, 3),
         vs AS (SELECT DISTINCT n_name, v FROM pvg),
         gs AS (SELECT DISTINCT n_name, g FROM pvg),
         dense AS (
           SELECT vs.n_name, vs.v, gs.g, coalesce(m, 0) AS m
           FROM vs JOIN gs USING (n_name)
           LEFT JOIN pvg ON pvg.n_name = vs.n_name AND pvg.v = vs.v
             AND pvg.g = gs.g),
         cum AS (
           SELECT n_name, v, g AS g2, m AS m2,
             CAST(coalesce(sum(m) OVER (PARTITION BY n_name, g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS below,
             CAST(sum(m) OVER (PARTITION BY n_name, g) AS BIGINT) AS n2
           FROM dense),
         j AS (
           SELECT p.n_name, p.g AS g1, c.g2, p.m, c.m2, c.below, c.n2
           FROM pvg p JOIN cum c ON p.n_name = c.n_name AND p.v = c.v
           WHERE p.g < c.g2),
         ag AS (
           SELECT n_name, g1, g2, CAST(max(n2) AS BIGINT) AS n2,
             CAST(sum(m) AS BIGINT) AS n1,
             sum(CAST(m AS HUGEINT) * below) AS pgt,
             sum(CAST(m AS HUGEINT) * (n2 - below - m2)) AS plt,
             sum(CAST(m AS HUGEINT) * m2) AS t
           FROM j GROUP BY 1, 2, 3)
         SELECT n_name, g1, g2, n2, n1,
           CAST(pgt AS BIGINT) AS p_gt, CAST(plt AS BIGINT) AS p_lt,
           CAST(pgt * 2 + t AS BIGINT) AS u2_g1,
           CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN 0
                ELSE ((pgt - plt) * 1000) // (CAST(n1 AS HUGEINT) * n2)
                END AS BIGINT) AS r_rb_pm
         FROM ag ORDER BY n_name, g1, g2""",

    // the same densified spine with at-or-below cumulatives; per-pair
    // sup gap cross-multiplied
    "q_pairwise_ks" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name, o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
           FROM orders JOIN nat ON o_custkey = c_custkey
           WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM', '5-LOW')),
         pvg AS (
           SELECT n_name, v, g, CAST(count(*) AS BIGINT) AS m
           FROM o GROUP BY 1, 2, 3),
         vs AS (SELECT DISTINCT n_name, v FROM pvg),
         gs AS (SELECT DISTINCT n_name, g FROM pvg),
         dense AS (
           SELECT vs.n_name, vs.v, gs.g, coalesce(m, 0) AS m
           FROM vs JOIN gs USING (n_name)
           LEFT JOIN pvg ON pvg.n_name = vs.n_name AND pvg.v = vs.v
             AND pvg.g = gs.g),
         cum AS (
           SELECT n_name, v, g,
             CAST(sum(m) OVER (PARTITION BY n_name, g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS c,
             CAST(sum(m) OVER (PARTITION BY n_name, g) AS BIGINT) AS ng
           FROM dense),
         j AS (
           SELECT a.n_name AS n_name, a.g AS g1, b.g AS g2,
             a.c AS c1, b.c AS c2, a.ng AS n1, b.ng AS n2
           FROM cum a JOIN cum b ON a.n_name = b.n_name AND a.v = b.v
           WHERE a.g < b.g),
         ag AS (
           SELECT n_name, g1, g2, CAST(max(n1) AS BIGINT) AS n1,
             CAST(max(n2) AS BIGINT) AS n2,
             max(abs(CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)) AS d
           FROM j GROUP BY 1, 2, 3)
         SELECT n_name, g1, g2, n1, n2, CAST(d AS BIGINT) AS d_num,
           CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN 0
                ELSE (1000 * d) // (CAST(n1 AS HUGEINT) * n2)
                END AS BIGINT) AS d_pm
         FROM ag ORDER BY n_name, g1, g2""",

    // lag diffs off the per-priority day spine; population-variance
    // numerators cross-multiplied, one floor at the end
    "q_variance_ratio" ->
      """WITH daily AS (
           SELECT o_orderpriority AS prio, o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT) // 1000) AS BIGINT)
               AS kusd
           FROM orders GROUP BY 1, 2),
         df AS (
           SELECT prio,
             kusd - lag(kusd, 1) OVER (PARTITION BY prio ORDER BY day) AS d1,
             kusd - lag(kusd, 5) OVER (PARTITION BY prio ORDER BY day) AS dq
           FROM daily),
         ag AS (
           SELECT prio,
             CAST(count(d1) AS BIGINT) AS n1, sum(CAST(d1 AS HUGEINT)) AS s1,
             sum(CAST(d1 AS HUGEINT) * d1) AS ss1,
             CAST(count(dq) AS BIGINT) AS nq, sum(CAST(dq AS HUGEINT)) AS sq,
             sum(CAST(dq AS HUGEINT) * dq) AS ssq
           FROM df GROUP BY 1),
         v AS (
           SELECT prio, n1, nq,
             n1 * ss1 - s1 * s1 AS v1, nq * ssq - sq * sq AS vq
           FROM ag)
         SELECT prio, n1, nq,
           CAST(v1 AS BIGINT) AS v1_num, CAST(vq AS BIGINT) AS vq_num,
           CAST(CASE WHEN n1 < 2 OR nq < 2 OR v1 = 0 THEN 0
                ELSE (vq * n1 * n1 * 1000) // (v1 * 5 * nq * nq)
                END AS BIGINT) AS vr_x1000
         FROM v ORDER BY prio""",

    // n-scaled residuals (n^2 cancels in the ratio), lag window, one floor
    "q_durbin_watson" ->
      """WITH daily AS (
           SELECT o_orderpriority AS prio, o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT) // 1000) AS BIGINT)
               AS kusd
           FROM orders GROUP BY 1, 2),
         r AS (
           SELECT prio, day,
             CAST(count(*) OVER (PARTITION BY prio) AS HUGEINT) * kusd
               - CAST(sum(kusd) OVER (PARTITION BY prio) AS HUGEINT) AS e,
             CAST(count(*) OVER (PARTITION BY prio) AS BIGINT) AS n
           FROM daily),
         rl AS (
           SELECT prio, n, e,
             lag(e) OVER (PARTITION BY prio ORDER BY day) AS ep
           FROM r),
         ag AS (
           SELECT prio, CAST(max(n) AS BIGINT) AS n,
             sum(e * e) AS den,
             sum(CASE WHEN ep IS NOT NULL THEN (e - ep) * (e - ep)
                 ELSE 0 END) AS num
           FROM rl GROUP BY 1)
         SELECT prio, n,
           CAST(CASE WHEN n < 2 OR den = 0 THEN 0
                ELSE (num * 1000) // den END AS BIGINT) AS dw_x1000
         FROM ag ORDER BY prio""",

    // The paired 2×2 and the discordant-cell statistic replayed.
    "q_mcnemar" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT source,
             len(t) BETWEEN 20 AND 90 AS a,
             (CAST(len(list_distinct(t)) AS BIGINT) * 1000)
               // CAST(len(t) AS BIGINT) >= 400 AS b
           FROM tk WHERE len(t) > 0),
         g AS (
           SELECT source,
             CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11
           FROM f GROUP BY 1)
         SELECT source, n00, n01, n10, n11,
           CASE WHEN n01 + n10 = 0 THEN 0
                ELSE (1000 * (n10 - n01) * (n10 - n01)) // (n10 + n01)
           END AS chi2_x1000
         FROM g ORDER BY source""",

    // the same 2x2 with the cross-product odds rendering
    "q_odds_ratio" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT source,
             len(t) BETWEEN 20 AND 90 AS a,
             (CAST(len(list_distinct(t)) AS BIGINT) * 1000)
               // CAST(len(t) AS BIGINT) >= 400 AS b
           FROM tk WHERE len(t) > 0),
         g AS (
           SELECT source,
             CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11
           FROM f GROUP BY 1)
         SELECT source, n00, n01, n10, n11,
           CASE WHEN n01 + n10 = 0 THEN 0
                ELSE (1000 * (n10 - n01) * (n10 - n01)) // (n10 + n01)
           END AS chi2_x1000,
           CAST(CASE WHEN n10 = 0 OR n01 = 0 OR n11 = 0 OR n00 = 0 THEN 0
                ELSE (CAST(n11 AS HUGEINT) * n00 * 1000)
                     // (CAST(n10 AS HUGEINT) * n01)
                END AS BIGINT) AS or_x1000
         FROM g ORDER BY source""",

    // same 2x2; informedness + signed MCC^2 cross-multiplied
    "q_youden_j" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT source,
             len(t) BETWEEN 20 AND 90 AS a,
             (CAST(len(list_distinct(t)) AS BIGINT) * 1000)
               // CAST(len(t) AS BIGINT) >= 400 AS b
           FROM tk WHERE len(t) > 0),
         g AS (
           SELECT source,
             CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11
           FROM f GROUP BY 1),
         x AS (
           SELECT source, n00, n01, n10, n11,
             CAST(n11 AS HUGEINT) * n00 - CAST(n10 AS HUGEINT) * n01 AS delta,
             CAST(n11 + n10 AS HUGEINT) AS ma, CAST(n00 + n01 AS HUGEINT) AS mna,
             CAST(n11 + n01 AS HUGEINT) AS mb, CAST(n00 + n10 AS HUGEINT) AS mnb
           FROM g)
         SELECT source, n00, n01, n10, n11,
           CAST(CASE WHEN ma = 0 OR mna = 0 THEN 0
                ELSE (delta * 1000) // (ma * mna)
                END AS BIGINT) AS j_pm,
           CAST(CASE WHEN ma = 0 OR mna = 0 OR mb = 0 OR mnb = 0 THEN 0
                ELSE (CASE WHEN delta < 0 THEN -1 ELSE 1 END)
                     * ((delta * delta * 1000000) // (ma * mna * mb * mnb))
                END AS BIGINT) AS mcc2_x1e6
         FROM x ORDER BY source""",

    // the cliffsDelta spine with label classes; Mann-Whitney identity
    "q_auc" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT source,
             len(t) BETWEEN 20 AND 90 AS y,
             (CAST(len(list_distinct(t)) AS BIGINT) * 1000)
               // CAST(len(t) AS BIGINT) AS p_pm
           FROM tk WHERE len(t) > 0),
         pv AS (
           SELECT source, p_pm AS v,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
             CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n
           FROM f GROUP BY 1, 2),
         cu AS (
           SELECT source, p, n,
             CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS nlt,
             CAST(sum(p) OVER (PARTITION BY source) AS BIGINT) AS npos,
             CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS nneg
           FROM pv),
         ag AS (
           SELECT source, CAST(max(npos) AS BIGINT) AS n_pos,
             CAST(max(nneg) AS BIGINT) AS n_neg,
             sum(CAST(p AS HUGEINT) * nlt) AS pgt,
             sum(CAST(p AS HUGEINT) * n) AS t
           FROM cu GROUP BY 1)
         SELECT source, n_pos, n_neg,
           CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
                ELSE ((pgt * 2 + t) * 1000)
                     // (CAST(n_pos AS HUGEINT) * n_neg * 2)
                END AS BIGINT) AS auc_x1000
         FROM ag ORDER BY source""",

    // densified decile grid, descending cumulatives, exact confusion
    "q_pr_curve" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT source,
             len(t) BETWEEN 20 AND 90 AS y,
             least(((CAST(len(list_distinct(t)) AS BIGINT) * 1000)
               // CAST(len(t) AS BIGINT)) // 100, 9) AS bin
           FROM tk WHERE len(t) > 0),
         b AS (
           SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
           FROM f GROUP BY 1, 2),
         grid AS (
           SELECT s.source, g.bin
           FROM (SELECT DISTINCT source FROM b) s
           CROSS JOIN (SELECT unnest(range(10)) AS bin) g),
         dense AS (
           SELECT grid.source, grid.bin,
             coalesce(n, 0) AS n, coalesce(pos, 0) AS pos
           FROM grid LEFT JOIN b
             ON b.source = grid.source AND b.bin = grid.bin),
         c AS (
           SELECT source, bin,
             CAST(sum(pos) OVER (PARTITION BY source ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS tp,
             CAST(sum(n) OVER (PARTITION BY source ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS pp,
             CAST(sum(pos) OVER (PARTITION BY source) AS BIGINT) AS npos
           FROM dense)
         SELECT source, CAST(bin AS BIGINT) AS threshold_bin, tp,
           pp - tp AS fp, npos - tp AS fn,
           CAST(CASE WHEN pp = 0 THEN 0 ELSE (1000 * tp) // pp
                END AS BIGINT) AS precision_pm,
           CAST(CASE WHEN npos = 0 THEN 0 ELSE (1000 * tp) // npos
                END AS BIGINT) AS recall_pm
         FROM c ORDER BY source, threshold_bin""",

    // count maxima only — PRE in both directions
    "q_gk_lambda" ->
      """WITH cells AS (
           SELECT source AS r, lang AS c, CAST(count(*) AS BIGINT) AS m
           FROM documents GROUP BY 1, 2),
         srm AS (SELECT CAST(sum(mx) AS BIGINT) AS srm FROM
                 (SELECT max(m) AS mx FROM cells GROUP BY r)),
         scm AS (SELECT CAST(sum(mx) AS BIGINT) AS scm FROM
                 (SELECT max(m) AS mx FROM cells GROUP BY c)),
         mc AS (SELECT CAST(max(n) AS BIGINT) AS mc FROM
                (SELECT sum(m) AS n FROM cells GROUP BY c)),
         mr AS (SELECT CAST(max(n) AS BIGINT) AS mr FROM
                (SELECT sum(m) AS n FROM cells GROUP BY r)),
         n AS (SELECT CAST(sum(m) AS BIGINT) AS n_total FROM cells)
         SELECT n_total,
           CAST(CASE WHEN n_total = mc THEN 0
                ELSE (1000 * (srm - mc)) // (n_total - mc)
                END AS BIGINT) AS lambda_rc_pm,
           CAST(CASE WHEN n_total = mr THEN 0
                ELSE (1000 * (scm - mr)) // (n_total - mr)
                END AS BIGINT) AS lambda_cr_pm
         FROM n CROSS JOIN srm CROSS JOIN scm CROSS JOIN mc CROSS JOIN mr""",

    // n-scaled excess mass over the per-nation totals, one floor
    "q_hoover" ->
      """WITH spend AS (
           SELECT n_name, c_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         w AS (
           SELECT n_name, cents,
             CAST(count(*) OVER (PARTITION BY n_name) AS BIGINT) AS n,
             CAST(sum(cents) OVER (PARTITION BY n_name) AS BIGINT) AS t
           FROM spend),
         ag AS (
           SELECT n_name, CAST(max(n) AS BIGINT) AS n,
             CAST(max(t) AS BIGINT) AS total,
             sum(greatest(CAST(n AS HUGEINT) * cents - t, 0)) AS s
           FROM w GROUP BY 1)
         SELECT n_name, n, total,
           CAST(CASE WHEN n = 0 OR total <= 0 THEN 0
                ELSE (s * 1000) // (CAST(n AS HUGEINT) * total)
                END AS BIGINT) AS hoover_pm
         FROM ag ORDER BY n_name""",

    // per-term floored reciprocals at ×10¹², one welfare division
    "q_atkinson" ->
      """WITH spend AS (
           SELECT n_name, c_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         ag AS (
           SELECT n_name,
             CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
             CAST(sum(CASE WHEN x <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonpos,
             CAST(sum(CASE WHEN x > 0 THEN x ELSE 0 END) AS BIGINT) AS total,
             CAST(sum(CASE WHEN x > 0 THEN 1000000000000 // x ELSE 0 END)
               AS BIGINT) AS t
           FROM spend GROUP BY 1)
         SELECT n_name, n, n_nonpos, total,
           CAST(CASE WHEN n = 0 OR total = 0 OR t = 0 THEN 0
                ELSE 1000 - (CAST(1000 AS HUGEINT) * n * n * 1000000000000)
                  // (CAST(total AS HUGEINT) * t)
                END AS BIGINT) AS a2_pm
         FROM ag ORDER BY n_name""",

    // exact ⌈0.9n⌉ order-stat threshold; exceedance census + floored
    // mean excess
    "q_pot" ->
      """WITH daily AS (
           SELECT n_name, o_orderdate,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         rk AS (
           SELECT n_name, rev,
             CAST(count(*) OVER (PARTITION BY n_name) AS BIGINT) AS n,
             CAST(row_number() OVER (PARTITION BY n_name
               ORDER BY rev, o_orderdate) AS BIGINT) AS r
           FROM daily),
         thr AS (
           SELECT n_name, rev AS thr FROM rk
           WHERE r = (n * 9 + 9) // 10)
         SELECT rk.n_name, CAST(max(n) AS BIGINT) AS n_days,
           CAST(max(thr) AS BIGINT) AS threshold,
           CAST(sum(CASE WHEN rev > thr THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exceed,
           CAST(CASE WHEN sum(CASE WHEN rev > thr THEN 1 ELSE 0 END) = 0
                THEN 0
                ELSE (CAST(1000 AS HUGEINT)
                      * sum(CASE WHEN rev > thr THEN rev - thr ELSE 0 END))
                  // sum(CASE WHEN rev > thr THEN 1 ELSE 0 END)
                END AS BIGINT) AS mean_excess_x1000,
           CAST(max(CASE WHEN rev > thr THEN rev - thr ELSE 0 END)
             AS BIGINT) AS max_excess
         FROM rk JOIN thr ON rk.n_name = thr.n_name
         GROUP BY 1 ORDER BY rk.n_name""",

    // G² fully cross-multiplied; two-step argmax (max dev² then
    // smallest custkey)
    "q_grubbs" ->
      """WITH spend AS (
           SELECT n_name, c_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         w AS (
           SELECT n_name, c_custkey, x,
             CAST(count(*) OVER pk AS BIGINT) AS n,
             CAST(sum(x) OVER pk AS BIGINT) AS s,
             sum(CAST(x AS HUGEINT) * x) OVER pk AS sxx
           FROM spend
           WINDOW pk AS (PARTITION BY n_name)),
         dv AS (
           SELECT n_name, c_custkey, n,
             (CAST(n AS HUGEINT) * x - s)
               * (CAST(n AS HUGEINT) * x - s) AS dev2,
             CAST(n AS HUGEINT) * sxx - CAST(s AS HUGEINT) * s AS ssq
           FROM w),
         mx AS (
           SELECT n_name, CAST(max(n) AS BIGINT) AS n, max(dev2) AS mx2,
             max(ssq) AS ssq2
           FROM dv GROUP BY 1)
         SELECT mx.n_name, max(mx.n) AS n,
           CAST(min(dv.c_custkey) AS BIGINT) AS worst_cust,
           CAST(max(CASE WHEN mx.n <= 1 OR mx.ssq2 = 0 THEN 0
                ELSE (CAST(1000000 AS HUGEINT) * mx.mx2 * (mx.n - 1))
                  // (CAST(mx.n AS HUGEINT) * mx.ssq2) END) AS BIGINT)
             AS g2_x1e6
         FROM mx JOIN dv ON mx.n_name = dv.n_name AND dv.dev2 = mx.mx2
         GROUP BY 1 ORDER BY mx.n_name""",

    // three cross-multiplied σ-rules; consecutive context via one lag
    "q_westgard" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT event_type, day, x,
             CAST(count(*) OVER pk AS BIGINT) AS n,
             CAST(sum(x) OVER pk AS BIGINT) AS s,
             sum(CAST(x AS HUGEINT) * x) OVER pk AS sxx
           FROM daily
           WINDOW pk AS (PARTITION BY event_type)),
         dv AS (
           SELECT event_type, day, n,
             CAST(n AS HUGEINT) * sxx - CAST(s AS HUGEINT) * s AS ssq,
             CAST(n AS HUGEINT) * x - s AS dev,
             lag(CAST(n AS HUGEINT) * x - s) OVER (
               PARTITION BY event_type ORDER BY day) AS pdev
           FROM w),
         fl AS (
           SELECT event_type, n,
             dev * dev * (n - 1) > ssq * n * 9 AS r13,
             dev * dev * (n - 1) > ssq * n * 4
               AND pdev IS NOT NULL
               AND pdev * pdev * (n - 1) > ssq * n * 4
               AND ((dev > 0 AND pdev > 0) OR (dev < 0 AND pdev < 0))
               AS r22,
             pdev IS NOT NULL
               AND (dev - pdev) * (dev - pdev) * (n - 1) > ssq * n * 16
               AND ((dev > 0 AND pdev < 0) OR (dev < 0 AND pdev > 0))
               AS r4s
           FROM dv)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN r13 THEN 1 ELSE 0 END) AS BIGINT) AS n_13s,
           CAST(sum(CASE WHEN r22 THEN 1 ELSE 0 END) AS BIGINT) AS n_22s,
           CAST(sum(CASE WHEN r4s THEN 1 ELSE 0 END) AS BIGINT) AS n_r4s
         FROM fl GROUP BY 1 ORDER BY event_type""",

    // strict-below-mean by cross-multiplication; two share divisions
    "q_lorenz_asym" ->
      """WITH spend AS (
           SELECT n_name, c_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         w AS (
           SELECT n_name, x,
             CAST(count(*) OVER (PARTITION BY n_name) AS BIGINT) AS n,
             CAST(sum(x) OVER (PARTITION BY n_name) AS BIGINT) AS t
           FROM spend),
         ag AS (
           SELECT n_name, CAST(max(n) AS BIGINT) AS n,
             CAST(max(t) AS BIGINT) AS total,
             CAST(sum(CASE WHEN CAST(x AS HUGEINT) * n < t THEN 1 ELSE 0 END)
               AS BIGINT) AS n_below,
             CAST(sum(CASE WHEN CAST(x AS HUGEINT) * n < t THEN x ELSE 0 END)
               AS BIGINT) AS mass_below
           FROM w GROUP BY 1)
         SELECT n_name, n, total, n_below, mass_below,
           CAST(CASE WHEN n = 0 OR total = 0 THEN 0
                ELSE (CAST(1000 AS HUGEINT) * n_below) // n
                   + (CAST(1000 AS HUGEINT) * mass_below) // total
                END AS BIGINT) AS s_x1000
         FROM ag ORDER BY n_name""",

    // deterministic (cents, custkey) rank order; complementary floor
    // cuts; tail sums exact, ratios by one truncating division
    "q_palma" ->
      """WITH spend AS (
           SELECT n_name, c_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         w AS (
           SELECT n_name, cents,
             CAST(row_number() OVER (PARTITION BY n_name
               ORDER BY cents, c_custkey) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY n_name) AS BIGINT) AS n
           FROM spend),
         ag AS (
           SELECT n_name, CAST(max(n) AS BIGINT) AS n,
             sum(CASE WHEN rn <= (n * 4) // 10
               THEN CAST(cents AS HUGEINT) ELSE 0 END) AS b40,
             sum(CASE WHEN rn > (n * 9) // 10
               THEN CAST(cents AS HUGEINT) ELSE 0 END) AS t10,
             sum(CASE WHEN rn <= (n * 2) // 10
               THEN CAST(cents AS HUGEINT) ELSE 0 END) AS b20,
             sum(CASE WHEN rn > (n * 8) // 10
               THEN CAST(cents AS HUGEINT) ELSE 0 END) AS t20
           FROM w GROUP BY 1)
         SELECT n_name, n,
           CAST(b40 AS BIGINT) AS bottom40, CAST(t10 AS BIGINT) AS top10,
           CAST(b20 AS BIGINT) AS bottom20, CAST(t20 AS BIGINT) AS top20,
           CAST(CASE WHEN b40 = 0 THEN 0
                ELSE (t10 * 1000) // b40 END AS BIGINT) AS palma_x1000,
           CAST(CASE WHEN b20 = 0 THEN 0
                ELSE (t20 * 1000) // b20 END AS BIGINT) AS s2020_x1000
         FROM ag ORDER BY n_name""",

    // octiles at rank ceil(n*i/8) of the (cents, orderkey) total order
    // undivided falling-factorial prefix polynomials off the value
    // spine; lambda numerators over 12*D; final floored divisions only
    "q_lmoments" ->
      """WITH nat AS (
           SELECT c_custkey, n_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey),
         o AS (
           SELECT n_name,
             CAST(round(o_totalprice) AS BIGINT) // 1000 AS v
           FROM orders JOIN nat ON o_custkey = c_custkey),
         pv AS (
           SELECT n_name, v, CAST(count(*) AS BIGINT) AS m
           FROM o GROUP BY 1, 2),
         cu AS (
           SELECT n_name, v, m,
             CAST(sum(m) OVER (PARTITION BY n_name ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS hi
           FROM pv),
         tr AS (
           SELECT n_name, v, m, hi, hi - m + 1 AS lo FROM cu),
         tt AS (
           SELECT n_name, v, m,
             ((hi - 1) * CAST(hi AS HUGEINT))
               - ((lo - 2) * CAST(lo - 1 AS HUGEINT)) AS t1,
             ((hi - 2) * (hi - 1) * CAST(hi AS HUGEINT))
               - ((lo - 3) * (lo - 2) * CAST(lo - 1 AS HUGEINT)) AS t2,
             ((hi - 3) * (hi - 2) * (hi - 1) * CAST(hi AS HUGEINT))
               - ((lo - 4) * (lo - 3) * (lo - 2) * CAST(lo - 1 AS HUGEINT))
               AS t3
           FROM tr),
         ag AS (
           SELECT n_name, CAST(sum(m) AS BIGINT) AS n,
             CAST(sum(CAST(m AS HUGEINT) * v) AS HUGEINT) AS b0,
             CAST(sum(t1 * v) AS HUGEINT) AS t1,
             CAST(sum(t2 * v) AS HUGEINT) AS t2,
             CAST(sum(t3 * v) AS HUGEINT) AS t3
           FROM tt GROUP BY 1),
         fin AS (
           SELECT n_name, n,
             12 * b0 * (n - 1) * (n - 2) * (n - 3) AS l1n,
             12 * t1 * (n - 2) * (n - 3)
               - 12 * b0 * (n - 1) * (n - 2) * (n - 3) AS l2n,
             24 * t2 * (n - 3) - 36 * t1 * (n - 2) * (n - 3)
               + 12 * b0 * (n - 1) * (n - 2) * (n - 3) AS l3n,
             60 * t3 - 120 * t2 * (n - 3) + 72 * t1 * (n - 2) * (n - 3)
               - 12 * b0 * (n - 1) * (n - 2) * (n - 3) AS l4n,
             12 * CAST(n AS HUGEINT) * (n - 1) * (n - 2) * (n - 3) AS d
           FROM ag)
         SELECT n_name, n,
           CAST(CASE WHEN n < 4 THEN 0 ELSE l1n // d END AS BIGINT) AS l1,
           CAST(CASE WHEN n < 4 THEN 0 ELSE l2n // d END AS BIGINT) AS l2,
           CAST(CASE WHEN n < 4 OR l1n <= 0 THEN 0
             ELSE (1000 * l2n) // l1n END AS BIGINT) AS lcv_x1000,
           CAST(CASE WHEN n < 4 OR l2n <= 0 THEN 0
             ELSE (1000 * l3n) // l2n END AS BIGINT) AS t3_x1000,
           CAST(CASE WHEN n < 4 OR l2n <= 0 THEN 0
             ELSE (1000 * l4n) // l2n END AS BIGINT) AS t4_x1000
         FROM fin ORDER BY n_name""",

    "q_bowley_moors" ->
      """WITH o AS (
           SELECT n_name, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey),
         w AS (
           SELECT n_name, cents,
             CAST(row_number() OVER (PARTITION BY n_name
               ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY n_name) AS BIGINT) AS n
           FROM o),
         ag AS (
           SELECT n_name, CAST(max(n) AS BIGINT) AS n,
             max(CASE WHEN rn = (n * 1 + 7) // 8 THEN cents END) AS e1,
             max(CASE WHEN rn = (n * 2 + 7) // 8 THEN cents END) AS e2,
             max(CASE WHEN rn = (n * 3 + 7) // 8 THEN cents END) AS e3,
             max(CASE WHEN rn = (n * 4 + 7) // 8 THEN cents END) AS e4,
             max(CASE WHEN rn = (n * 5 + 7) // 8 THEN cents END) AS e5,
             max(CASE WHEN rn = (n * 6 + 7) // 8 THEN cents END) AS e6,
             max(CASE WHEN rn = (n * 7 + 7) // 8 THEN cents END) AS e7
           FROM w GROUP BY 1)
         SELECT n_name, n, e1, e2, e3, e4, e5, e6, e7,
           CAST(CASE WHEN e6 = e2 THEN 0
                ELSE (1000 * (e6 + e2 - 2 * e4)) // (e6 - e2)
                END AS BIGINT) AS bowley_x1000,
           CAST(CASE WHEN e6 = e2 THEN 0
                ELSE (1000 * ((e7 - e5) + (e3 - e1))) // (e6 - e2)
                END AS BIGINT) AS moors_x1000
         FROM ag ORDER BY n_name""",

    // densified (source, lang) cells, cross-multiplied gaps, TV + Linf
    "q_pairwise_tv" ->
      """WITH counts AS (
           SELECT source AS g, lang AS c, CAST(count(*) AS BIGINT) AS m
           FROM documents GROUP BY 1, 2),
         gs AS (SELECT DISTINCT g FROM counts),
         cs AS (SELECT DISTINCT c FROM counts),
         dense AS (
           SELECT gs.g, cs.c, coalesce(m, 0) AS m
           FROM gs CROSS JOIN cs
           LEFT JOIN counts ON counts.g = gs.g AND counts.c = cs.c),
         dn AS (
           SELECT g, c, m,
             CAST(sum(m) OVER (PARTITION BY g) AS BIGINT) AS ng
           FROM dense),
         j AS (
           SELECT a.g AS g1, b.g AS g2,
             abs(CAST(a.m AS HUGEINT) * b.ng - CAST(b.m AS HUGEINT) * a.ng)
               AS gap,
             a.ng AS n1, b.ng AS n2
           FROM dn a JOIN dn b ON a.c = b.c WHERE a.g < b.g),
         ag AS (
           SELECT g1, g2, CAST(max(n1) AS BIGINT) AS n1,
             CAST(max(n2) AS BIGINT) AS n2,
             sum(gap) AS l1, max(gap) AS linf
           FROM j GROUP BY 1, 2)
         SELECT g1, g2, n1, n2,
           CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN 0
                ELSE (l1 * 1000) // (CAST(n1 AS HUGEINT) * n2 * 2)
                END AS BIGINT) AS tv_pm,
           CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN 0
                ELSE (linf * 1000) // (CAST(n1 AS HUGEINT) * n2)
                END AS BIGINT) AS linf_pm
         FROM ag ORDER BY g1, g2""",

    // S, ΣC², ΣR², and the integer Q rendering replayed per source.
    "q_cochran_q" ->
      """WITH tk AS (
           SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
           FROM documents),
         f AS (
           SELECT doc_id, source,
             CAST(len(t) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_dis
           FROM tk WHERE len(t) > 0),
         m AS (
           SELECT doc_id, CAST(max(c) AS BIGINT) AS mx FROM (
             SELECT doc_id, tok, count(*) AS c FROM (
               SELECT doc_id, unnest(t) AS tok FROM tk) GROUP BY 1, 2)
           GROUP BY 1),
         v AS (
           SELECT f.source AS source,
             CASE WHEN n_tok BETWEEN 20 AND 90 THEN 1 ELSE 0 END AS v1,
             CASE WHEN (mx * 1000) // n_tok < 150 THEN 1 ELSE 0 END AS v2,
             CASE WHEN (n_dis * 1000) // n_tok >= 400 THEN 1 ELSE 0 END AS v3
           FROM f JOIN m USING (doc_id)),
         g AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_subjects,
             CAST(sum(v1 + v2 + v3) AS BIGINT) AS s_total,
             CAST(sum((v1 + v2 + v3) * (v1 + v2 + v3)) AS BIGINT) AS sum_r2,
             CAST(sum(v1) AS BIGINT) AS c1,
             CAST(sum(v2) AS BIGINT) AS c2,
             CAST(sum(v3) AS BIGINT) AS c3
           FROM v GROUP BY 1)
         SELECT source, n_subjects, CAST(3 AS BIGINT) AS k, s_total,
           c1 * c1 + c2 * c2 + c3 * c3 AS sum_c_sq, sum_r2,
           CASE WHEN 3 * s_total - sum_r2 = 0 THEN 0
                ELSE (1000 * 2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3)
                  - s_total * s_total)) // (3 * s_total - sum_r2)
           END AS q_x1000
         FROM g ORDER BY source""")

  /** Shared CTE chain recomputing every document's 64-bit SimHash in
    * DuckDB (`fps(doc_id, uf HUGEINT unsigned-bits, simhash64 BIGINT)`).
    * Mirrors `TextKernels.simhash64` exactly on the ASCII corpus.
    */
  /** q_mmr_rerank's oracle: the greedy MMR chain unrolled as a CTE
    * ladder — selall₁ is the relevance argmax, each later step anti-
    * joins the selected set, takes max sim-to-selected, and argmaxes
    * 700·rel − 300·maxsim with the same (score desc, id asc) total
    * order the Spark struct-min uses. String-assembled because steps
    * 2..k differ only in the index (the pqOracleSql convention).
    */
  private def mmrOracleSql: String = {
    val steps = (2 to 4).map { r =>
      val prev = r - 1
      s"""rem$r AS (
           SELECT cand.query_id AS query_id, cand.id AS id, cand.rel AS rel
           FROM cand ANTI JOIN selall$prev USING (query_id, id)),
         ms$r AS (
           SELECT r.query_id AS query_id, r.id AS id, r.rel AS rel,
             CAST(max(s.sim) AS BIGINT) AS ms
           FROM rem$r r
           JOIN sim s ON s.query_id = r.query_id AND s.id_a = r.id
           JOIN selall$prev t ON s.query_id = t.query_id AND s.id_b = t.id
           GROUP BY 1, 2, 3),
         pick$r AS (
           SELECT query_id, id, $r AS sel_rank FROM (
             SELECT query_id, id, row_number() OVER (PARTITION BY query_id
               ORDER BY 700 * rel - 300 * ms DESC, id) AS rn
             FROM ms$r) WHERE rn = 1),
         selall$r AS (
           SELECT * FROM selall$prev UNION ALL SELECT * FROM pick$r)"""
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 3),
       c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id >= 5),
       s0 AS (SELECT query_id, id, list_cosine_similarity(v, qv) AS cos
              FROM c, q),
       cand AS (
         SELECT query_id, id,
           CAST(round(round(cos, 6) * 1000000) AS BIGINT) AS rel
         FROM (SELECT query_id, id, cos, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, id) AS rn FROM s0)
         WHERE rn <= 8),
       cv AS (SELECT cand.query_id AS query_id, cand.id AS id, c.v AS v
              FROM cand JOIN c ON cand.id = c.id),
       sim AS (
         SELECT x.query_id AS query_id, x.id AS id_a, y.id AS id_b,
           CAST(round(round(list_cosine_similarity(x.v, y.v), 6) * 1000000)
             AS BIGINT) AS sim
         FROM cv x JOIN cv y ON x.query_id = y.query_id AND x.id <> y.id),
       selall1 AS (
         SELECT query_id, id, 1 AS sel_rank FROM (
           SELECT query_id, id, row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, id) AS rn FROM cand) WHERE rn = 1),
       $steps
       SELECT s.query_id AS query_id, CAST(s.sel_rank AS BIGINT) AS sel_rank,
         s.id AS id, cand.rel AS rel
       FROM selall4 s JOIN cand ON s.query_id = cand.query_id AND s.id = cand.id
       ORDER BY query_id, sel_rank"""
  }

  /** q_ann_pq's oracle: 4 mechanical per-subspace integer-Lloyd chains
    * (the q_kmeans CTE shape sliced to dims [16m+1, 16m+16]) + the ADC
    * distance-table join and ranking. Built by string assembly because
    * the 4 chains differ only in the slice bounds.
    */
  private def pqOracleSql: String = {
    val subChains = (0 until 4).map { m =>
      val lo = m * 16 + 1
      val hi = (m + 1) * 16
      s"""v$m AS (SELECT id, list_slice(v, $lo, $hi) AS v FROM vq),
         c0_$m AS (
           SELECT row_number() OVER (ORDER BY id) - 1 AS cid, v
           FROM (SELECT * FROM v$m ORDER BY id LIMIT 4)),
         d1_$m AS (
           SELECT x.id, c.cid,
             list_sum(list_transform(range(1, 17),
               i -> (x.v[i] - c.v[i]) * (x.v[i] - c.v[i]))) AS dist
           FROM v$m x CROSS JOIN c0_$m c),
         a1_$m AS (
           SELECT id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY id
               ORDER BY dist, cid) AS rn FROM d1_$m) WHERE rn = 1),
         m1_$m AS (
           SELECT a.cid, i.i AS pos, sum(x.v[i.i]) // count(*) AS mv
           FROM a1_$m a JOIN v$m x USING (id)
           CROSS JOIN (SELECT unnest(range(1, 17)) AS i) i
           GROUP BY 1, 2),
         c1_$m AS (SELECT cid, list(mv ORDER BY pos) AS v FROM m1_$m GROUP BY cid),
         d2_$m AS (
           SELECT x.id, c.cid,
             list_sum(list_transform(range(1, 17),
               i -> (x.v[i] - c.v[i]) * (x.v[i] - c.v[i]))) AS dist
           FROM v$m x CROSS JOIN c1_$m c),
         a2_$m AS (
           SELECT id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY id
               ORDER BY dist, cid) AS rn FROM d2_$m) WHERE rn = 1)"""
    }.mkString(",\n         ")
    val codesUnion =
      (0 until 4).map(m => s"SELECT id, $m AS m, cid FROM a2_$m")
        .mkString(" UNION ALL ")
    val centsUnion =
      (0 until 4).map(m => s"SELECT $m AS m, cid, v FROM c1_$m")
        .mkString(" UNION ALL ")
    s"""WITH vq AS (
         SELECT vec_id AS id,
           list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(round(x * 256) AS BIGINT) + 512) AS v
         FROM embeddings),
         $subChains,
         codes AS ($codesUnion),
         cents AS ($centsUnion),
         q AS (SELECT id AS qid, v FROM vq WHERE id < 5),
         qs AS (
           SELECT qid, m.m AS m,
             list_slice(v, m.m * 16 + 1, m.m * 16 + 16) AS qv
           FROM q CROSS JOIN (SELECT unnest(range(0, 4)) AS m) m),
         dtab AS (
           SELECT qs.qid, qs.m, c.cid,
             list_sum(list_transform(range(1, 17),
               i -> (qs.qv[i] - c.v[i]) * (qs.qv[i] - c.v[i]))) AS d
           FROM qs JOIN cents c ON c.m = qs.m),
         ad AS (
           SELECT dt.qid, cd.id, sum(dt.d) AS adist
           FROM codes cd JOIN dtab dt ON dt.m = cd.m AND dt.cid = cd.cid
           GROUP BY 1, 2),
         rk AS (
           SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY adist, id) AS rn FROM ad)
         SELECT qid, id, CAST(adist AS BIGINT) AS adist
         FROM rk WHERE rn <= 10 ORDER BY qid, id"""
  }

  private[queries] def simhashFingerprintsCte: String =
    """tok AS (
           SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
           FROM documents),
         vh AS (
           SELECT token,
             list_reduce(
               list_prepend(CAST('14695981039346656037' AS HUGEINT),
                 list_transform(string_split(token, ''), c -> CAST(unicode(c) AS HUGEINT))),
               (acc, b) -> (xor(acc, b) * CAST('1099511628211' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT)
             ) AS h
           FROM (SELECT DISTINCT token FROM tok)),
         th AS (SELECT doc_id, h FROM tok JOIN vh USING (token)),
         bits AS (
           SELECT doc_id, bit,
             sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
           FROM th CROSS JOIN (SELECT unnest(range(64)) AS bit) b
           GROUP BY doc_id, bit),
         fps AS (
           SELECT doc_id, uf,
             CAST(CASE WHEN uf >= CAST('9223372036854775808' AS HUGEINT)
                  THEN uf - CAST('18446744073709551616' AS HUGEINT)
                  ELSE uf END AS BIGINT) AS simhash64
           FROM (
             SELECT doc_id,
               sum(CASE WHEN vote > 0 THEN (CAST(1 AS HUGEINT) << bit)
                   ELSE CAST(0 AS HUGEINT) END) AS uf
             FROM bits GROUP BY doc_id))"""
}
