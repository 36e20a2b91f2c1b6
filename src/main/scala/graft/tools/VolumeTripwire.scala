package graft.tools

import graft.Tables
import graft.ext.{Dedup, Graph, Multimodal, Profile, Relevance, Sampling, Similarity, Sketches, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Volume tripwire for the LSH/ANN family (VERDICT r2 #6): blow the
  * sf0.01 tables up 10× — WITH adversarial skew (100k byte-identical
  * copies of one document, duplicated embedding vectors) — and assert
  * the four headline ops grow ~linearly, not quadratically.
  *
  * A 10× input should cost ≲10× plus fixed overhead; the assertion
  * bound is 30× (generous for scheduling noise at toy scale) — a
  * quadratic blow-up would show ≥100× and the skewed flood would hang
  * outright without the distinct-contents/bucket-cap guards.
  *
  * Run: `sbt "runMain graft.tools.VolumeTripwire"`. Exits non-zero on a
  * violated bound; prints one PROF line per (op, scale) for COVERAGE.md.
  */
object VolumeTripwire {

  /** Every registered query either has a `Res(...)` probe in `main`
    * or an entry HERE stating WHY a 10x volume probe cannot find a
    * superlinearity: the plan shape bounds the work by construction
    * (scan-side, combinable agg, broadcast, bounded replication,
    * key-cardinality wire) or the risky machinery is shared with a
    * probed row. DocsParitySpec gates the union (round 14): a new
    * query with neither a probe nor a reason fails `sbt test`, so
    * the tripwire surface can never silently lag the registry. */
  val linearByConstruction: Map[String, String] = Map(
    "q1_catalog_scan" ->
      "reference-surface core: pushed-filter scan, no joins; benched at sf0.1 every round and at sf1 in the decade receipt",
    "q2_time_range" ->
      "reference core: pushed BETWEEN scan; benched every round + sf1",
    "q3_first_nonempty" ->
      "reference core: one combinable url_id rollup; benched every round + sf1",
    "q4_error_pivot_score" ->
      "reference core: combinable conditional counts; benched every round + sf1",
    "q5_vendor_histogram" ->
      "reference core: scan-side classifier + SUM(CASE) histogram; benched every round + sf1",
    "q6_weak_programs" ->
      "reference core: MAX+HAVING below a broadcast semi-join; benched every round + sf1",
    "q7_dim_rematch" ->
      "reference core: broadcast first-match rematch; benched every round + sf1",
    "q8_batching" ->
      "reference core: two-phase rank (the _pid idiom's origin); benched every round + sf1",
    "q9_strings" ->
      "reference core: scan-side string family; benched every round + sf1",
    "q10_json_roundtrip" ->
      "reference core: codegen JSON build/parse, no UDF; benched every round + sf1",
    "q11_daily_window" ->
      "reference core: date-keyed combinable window agg; benched every round + sf1",
    "q12_revenue_join" ->
      "reference core: broadcast fact-dim join; benched every round + sf1",
    "qr1_detection_pipeline" ->
      "reference core: single-shuffle rollup + broadcast dim; benched every round + sf1",
    "x1_dedup_exact" ->
      "one md5-digest groupBy, map-combinable; text never shuffles - linear by construction",
    "x2_token_stats" ->
      "scan-side token counts + one combinable agg; no joins",
    "x3_text_quality" ->
      "pure scan-side integer ratios; no exchange beyond output sort",
    "x4_lang_id" ->
      "scan-side argmax classifier + language-cardinality groupBy",
    "x5_fingerprint" ->
      "one codegen rolling-hash scan pass; zero shuffle",
    "x6_ngram_jaccard" ->
      "df-capped inverted index - pair fan-out bounded by the cap; the shared postings machinery is probed via the x7 row",
    "x9_knn_brute" ->
      "fixed query set broadcasts; corpus streams once - |q|*N by construction",
    "x11_embed_neardup" ->
      "N-squared BY DESIGN oracle twin behind a loud >100k refusal; the scale paths x10/x57 are probed",
    "x12_multimodal_meta" ->
      "metadata scan + bounded per-row decode seam; zero shuffle",
    "x13_set_ops" ->
      "full-row hash exchanges, Catalyst-native; linear",
    "x14_rollup_subtotals" ->
      "single Expand pass (constant lattice) + combinable agg",
    "x15_asof_join" ->
      "union + carry-forward window on ONE key exchange; linear in both inputs",
    "x16_topk_per_group" ->
      "rank window on a corpus-cardinality group key - no funnel",
    "x17_percentiles" ->
      "group-cardinality percentile state; one exchange",
    "x18_token_freq" ->
      "explode + combinable count + TakeOrdered top-k",
    "x19_grouping_sets" ->
      "single Expand pass (3 sets) + combinable agg",
    "x20_cube" ->
      "single Expand pass (constant 2^k lattice) + combinable agg",
    "x22_window_family" ->
      "one key-partitioned window; no global sort",
    "x23_salted_join" ->
      "constant-factor salt replication; the op EXISTS to remove skew",
    "x24_asof_custom" ->
      "co-partitioned streaming merge, one exchange per side; linear",
    "x25_normalize" ->
      "scan-side normalization; zero joins",
    "x26_knn_ivf_lloyd" ->
      "x21's probed assignment shape + one Lloyd round over cell-cardinality centroids",
    "x27_stratified_sample" ->
      "sampling as a scan-side filter; zero shuffle",
    "x28_pii_redaction" ->
      "scan-side portable-regex redaction; no joins",
    "x29_repetition_filter" ->
      "scan-side shingle ratios, distinct-by-construction; no joins",
    "x30_incremental_dedup" ->
      "anti-join on (id, digest) only; linear",
    "x31_zorder_key" ->
      "scan-side bit interleave + layout write; no runtime joins",
    "x32_range_join" ->
      "equi-join on covered bins; replication bounded by len/bin + 1",
    "x34_global_topn" ->
      "TakeOrderedAndProject - per-partition top-n merged once; zero shuffles (plan-pinned)",
    "x35_weighted_sample" ->
      "exact-integer keep filter, scan-side; no exchange",
    "x36_doc_chunking" ->
      "one bounded explode (chunks per doc); linear",
    "x37_seq_packing" ->
      "ONE partitioned window cumsum; parallelism = shard count",
    "x38_decontaminate" ->
      "benchmark shingles broadcast; train side ships only 8-byte hashes",
    "x42_c4_filters" ->
      "scan-side integer keep decision; no joins",
    "x43_bloom_decontaminate" ->
      "scan-side bloom probes, sketch built once - the bloom family is probed via the x179 row",
    "x45_event_pivot" ->
      "one combinable pivot shuffle with pinned values",
    "x46_rank_family" ->
      "type-partitioned analytic windows; no global funnel",
    "x47_containment" ->
      "same df-capped inverted index as x6 (probed via x7's row)",
    "x48_take_per_stratum" ->
      "two-phase StratumRank (round 13/14); the shared rank machinery is probed via the x249 fat-bin row",
    "x49_dedup_best" ->
      "one normalized-digest groupBy; linear",
    "x50_class_outliers" ->
      "label-cardinality centroid agg + one cosine scan",
    "x51_hopping_window" ->
      "each event lands in exactly 2 buckets; combinable agg",
    "x52_funnel" ->
      "one user exchange for stacked 3-stage windows",
    "x53_retention" ->
      "two combinable aggregations; no windows",
    "x54_full_outer" ->
      "single full-outer join; linear",
    "x55_null_aware_anti" ->
      "single null-aware anti join (plan-pinned); linear",
    "x57_semantic_dedup" ->
      "shared assignment machinery probed via the x62 multi-probe row",
    "x59_token_mix" ->
      "corpus never shuffles; mixture weights broadcast",
    "x60_knn_ivf_pq" ->
      "composite of the probed x21 (IVF) and x33 (PQ) machinery; rerank bounded at rerank*k rows/query",
    "x61_quantize_int8" ->
      "zero-shuffle codegen lambdas; per-row cost O(dim)",
    "x71_novelty" ->
      "combinable first-seen min + hash join-back (x56's probed span machinery)",
    "x72_temperature_mix" ->
      "source-cardinality aggregate + broadcast normalizer",
    "x74_interval_overlap" ->
      "equi-join on covered bins, replication bounded by len/bin + 1; ONE shuffle",
    "x75_profile" ->
      "ONE table pass (single Expand, spec-pinned) + unpivot of one wide row",
    "x76_hist_quantile" ->
      "O(buckets) mergeable counters, map-combinable",
    "x77_snapshot_delta" ->
      "both sides pre-aggregate to key cardinality BEFORE the full outer",
    "x78_bigram_pmi" ->
      "scan-side pair generation; vocabulary-bounded key space",
    "x80_leakage_split" ->
      "digest-keyed split, 2 shuffles; text never crosses an exchange",
    "x82_rendezvous_shard" ->
      "zero-shuffle scan-side argmax; the sharding family is probed via the x174 ring row",
    "x83_contrast_keywords" ->
      "one conditional-sum agg + TakeOrdered",
    "x84_ann_recall" ->
      "|q|*N linear ground truth, checkpointed once; recall join at k*|q| rows",
    "x88_simpson_diversity" ->
      "two combinable aggs; no joins",
    "x89_token_budget_cut" ->
      "two-phase StratumRank cumsum (round 14); shared machinery probed via the x249 fat-bin row",
    "x90_contamination_report" ->
      "x38's hash-only machinery scored per doc; shingle checkpoint reused",
    "x93_pareto_frontier" ->
      "_pid-local sweep windows + broadcast corner set (plan-pinned); no dominance self-join",
    "x94_category_drift" ->
      "one combinable groupBy + broadcast 1-row totals",
    "x96_dup_size_hist" ->
      "63-row broadcast range join over x1's group sizes",
    "x97_curriculum_interleave" ->
      "two-phase StratumRank rank (round 14); shared machinery probed via the x249 fat-bin row",
    "x98_quantile_norm" ->
      "two-phase StratumRank rank (round 14); shared machinery probed via the x249 fat-bin row",
    "x99_ivf_purity" ->
      "x63's probed scale-invariant seeding + two combinable groupBys",
    "x100_frame_sample" ->
      "bounded explode (<=4 frames per video); zero shuffle",
    "x101_hopping_distinct" ->
      "each event in exactly 2 buckets + distinct agg",
    "x102_norm_profile" ->
      "scan-side norms; only (label, long) rows shuffle",
    "x103_length_quantiles" ->
      "two-phase StratumRank rank (round 14) + broadcast counts",
    "x104_lang_confusion" ->
      "two combinable groupBys + broadcast per-lang totals",
    "x105_key_skew" ->
      "combinable count + TakeOrdered + broadcast 1-row totals",
    "x106_regional_revenue" ->
      "one shuffled join + four broadcasts (plan-pinned)",
    "x107_cross_source_dups" ->
      "distinct (fp, source) first; fan-out bounded by the SOURCE count; winnow machinery probed via x79",
    "x108_interarrival_quantiles" ->
      "user-keyed lag + hash-window quantiles - entity-keyed strata, the right plan at user cardinality",
    "x109_dup_occurrence_rate" ->
      "two combinable hash-keyed aggs + one slim hash join",
    "x110_shard_balance" ->
      "scan-side placement + one combinable groupBy",
    "x113_lerp_grid" ->
      "grid replication bounded by each key's hour span; sf1 receipt linear (14.5 s at 10x)",
    "x115_robust_outliers" ->
      "user-keyed strata: hash windows are the right plan at entity cardinality (two-phase would refuse at partitions*users cells)",
    "x117_rrf_fusion" ->
      "fusion join touches k*|queries| rows; brute truth linear",
    "x118_normalized_dedup" ->
      "scan-side canonicalization + ONE digest groupBy",
    "x119_transition_rates" ->
      "|types|^2 key space, combinable; broadcast totals",
    "x120_k_anonymity" ->
      "one combinable groupBy at QID-product cardinality",
    "x121_token_gini" ->
      "broadcast self-join on the |strata|-row aggregate",
    "x122_group_topk" ->
      "typed aggregator with bounded per-group heap state (plan-pinned)",
    "x123_funnel_timing" ->
      "one user exchange + two-phase cohort medians (round 14)",
    "x124_novelty_curve" ->
      "combinable first-seen min + 10-row broadcast cumulative",
    "x125_rolling_actives" ->
      "bounded x7 cover-day explode; never a rolling-distinct state",
    "x126_session_stats" ->
      "user-keyed session windows + two-phase day quantiles (round 14)",
    "x127_spend_deciles" ->
      "two-phase global rank (plan-pinned _pid windows)",
    "x128_price_outliers" ->
      "broadcast dim + two-phase MAD ranks (round 14)",
    "x130_rollup_revenue" ->
      "ONE Expand pass over the joined fact; exact cents",
    "x131_attribution" ->
      "user windows + two-phase channel median (round 14)",
    "x132_pit_features" ->
      "strictly-prior frames on ONE user window",
    "x133_fd_strength" ->
      "value-domain-bounded aggregates; deterministic tie-break",
    "x134_ri_orphans" ->
      "child keys pre-aggregate to (key, count) histograms before the anti joins - key-cardinality wire",
    "x135_benford" ->
      "9-row groupBy + broadcast total",
    "x136_seasonality" ->
      "two combinable groupBys, <=168 keys; no window over the fact",
    "x137_vocab_stats" ->
      "ONE (stratum, token) combinable groupBy - vocabulary key space",
    "x138_textrank" ->
      "vocabulary-bounded graph; 3 unrolled join+agg iterations (x64's probed shape)",
    "x139_window_funnel" ->
      "ONE hash(user) exchange + two-phase day medians (round 14)",
    "x140_centroid_drift" ->
      "corpus collapses to |langs|*dim rows; matrix is a broadcast self-join",
    "x141_record_linkage" ->
      "shifted-band blocking - x111's probed blocking contract on structured records",
    "x142_cube_revenue" ->
      "ONE Expand pass (4 grouping sets); exact cents",
    "x143_cov_matrix" ->
      "ONE combinable pass building all k(k+1)/2 accumulators",
    "x144_zone_prune" ->
      "block-cardinality stats + one-row report; no joins",
    "x145_join_card" ->
      "(key, count) histogram products; facts never shuffle",
    "x146_feature_hash" ->
      "O(strata*buckets) output; zero joins; codegen PolyHash",
    "x149_ewma_spend" ->
      "key windows over day-cardinality daily series (days are calendar-bounded)",
    "x150_trend_slope" ->
      "DECIMAL moment aggs over day-cardinality series; no window",
    "x151_entry_exit" ->
      "combinable min_by/max_by on one user exchange",
    "x153_cusum" ->
      "key windows over day-cardinality daily series",
    "x154_bloom_export" ->
      "monotone bit_or at word cardinality; shard-mergeable",
    "x156_props_stats" ->
      "scan-side codegen JSON + two-phase type quantiles (round 14)",
    "x157_reconcile_totals" ->
      "details pre-aggregate to key cardinality BELOW the join",
    "x159_rfm_segments" ->
      "three two-phase global rankings (plan-pinned _pid windows)",
    "x160_powerlaw_fit" ->
      "regression on the <=63-bin histogram, never the corpus",
    "x161_ship_lag" ->
      "two-phase priority quantiles (round 14) over the co-keyed join",
    "x162_incremental_agg" ->
      "merge-law full outer at key cardinality",
    "x163_proportional_sample" ->
      "two-phase StratumRank rank (round 14); allocation on the |strata|-row aggregate",
    "x164_weighted_median" ->
      "two-phase StratumRank cumsum (round 14)",
    "x165_churn_labels" ->
      "one (min, max) groupBy per user; no windows",
    "x167_pseudonymize_audit" ->
      "scan-side HMAC + combinable audit agg",
    "x168_seasonal_index" ->
      "month-cardinality index over a day-cardinality pre-agg",
    "x169_abc_classes" ->
      "rank over the part-cardinality revenue aggregate, bucketed to <=1000 rows - never the raw fact",
    "x170_chao1" ->
      "abundance counts at value cardinality; combinable",
    "x181_rank_autocorr" ->
      "day-cardinality pre-agg; O(days) per key at any corpus size",
    "x182_readability" ->
      "scan-side integer formulas; no joins",
    "x183_contract_audit" ->
      "scan-side checks + combinable agg",
    "x184_key_candidates" ->
      "distinct-count aggs at column-combination cardinality",
    "x223_mcnemar" ->
      "paired 2x2 counts - one combinable agg",
    "x252_bitext_margin" ->
      "fixed id-bounded query shard broadcasts (x9's contract - constant work at any SF); one |q|*|pool| checkpointed scan; production shards via x82/x10",
    "x254_consensus_neardup" ->
      "composes the probed x241 + x8 banded pair machinery; the consensus full outer is pair-driven",
    "x255_ndcg_eval" ->
      "x9's fixed-query contract: queries broadcast, one corpus scan; post-kNN work is k*|q| rows + label-cardinality broadcasts",
    "x256_audio_keepone" ->
      "thin composition of probed machinery: x250's audio pair pipeline (probed) + CC (probed via x39) feeding x251's broadcast keep-one (probed) - no new plan shape",
    "x257_video_keepone" ->
      "thin composition of probed machinery: x243's video pair pipeline (probed) + CC (probed via x39) feeding x251's broadcast keep-one (probed) - no new plan shape",
    "x258_code_signals" ->
      "one scan-side projection (line split + regex counts + integer thresholds), zero exchanges - linear by construction",
    "x259_chunk_dedup" ->
      "chunk grid is x36's (probed); the rest is two combinable cell-cardinality groupBys + one cell-level equi-join on the 16-byte hash - the x1 exact-dedup wire shape (probed)")

  /** The rows `SPARK_GRAFT_TRIPWIRE` picks: a token matches a row when
    * it equals the row's full name or its id before the first `_`
    * (`x249` picks both x249 rows, `x7` never picks x70). No tokens
    * picks every row; a token that matches no row throws, naming it. */
  def select(rowNames: Seq[String], tokens: Seq[String]): Set[String] = {
    val ts = tokens.map(_.trim).filter(_.nonEmpty).toSet
    def matches(row: String, t: String) = row == t || row.takeWhile(_ != '_') == t
    val unknown = ts.filterNot(t => rowNames.exists(matches(_, t)))
    require(unknown.isEmpty, "SPARK_GRAFT_TRIPWIRE names no tripwire row: " +
      unknown.toSeq.sorted.mkString(", "))
    rowNames.filter(r => ts.isEmpty || ts.exists(matches(r, _))).toSet
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.local("volume-tripwire")
    spark.range(100000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    def timeMin(df: => DataFrame): Double =
      (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min

    /** `copies`× the frame with shifted ids, so every copy is a distinct
      * row (near-dup pressure without byte-identity). */
    def blow(df: DataFrame, idCol: String, copies: Int, shift: Long): DataFrame =
      (0 until copies).map(i =>
        df.withColumn(idCol, col(idCol) + lit(i * shift))).reduce(_.unionAll(_))

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // skew flood: 100k byte-identical copies of one doc under fresh ids —
    // the distinct-contents guard must collapse these before any LSH
    val flood = docs.where(col("doc_id") === 42).select(col("text"))
      .crossJoin(spark.range(100000).select((col("id") + 10000000L).as("doc_id")))
      .select("doc_id", "text")
    val docs1 = docs
    val docs10 = blow(docs, "doc_id", 10, 1000000L).unionAll(flood)

    val embs = Tables.embeddings(spark, sfDir)
    val embs1 = Similarity.withNorm(embs, col("vec_id"), col("embedding"))
    val embs10 = Similarity.withNorm(
      blow(embs, "vec_id", 10, 1000000L), col("vec_id"), col("embedding"))

    /** Lazy row: the timed bodies run only if the row survives the
      * SPARK_GRAFT_TRIPWIRE selection ([[select]]) — so a new batch's
      * rows can be measured without re-paying the whole (30+ row)
      * historical suite. */
    class Res(val name: String, t1f: => Double, t10f: => Double) {
      lazy val t1: Double = t1f
      lazy val t10: Double = t10f
      def ratio: Double = t10 / t1
    }
    object Res {
      def apply(name: String, t1: => Double, t10: => Double): Res =
        new Res(name, t1, t10)
    }
    val results = Seq(
      Res("x7_minhashPairs",
        timeMin(Dedup.minhashPairs(docs1, col("doc_id"), col("text"))),
        timeMin(Dedup.minhashPairs(docs10, col("doc_id"), col("text")))),
      Res("x8_simhashPairs", {
        val d = Dedup.distinctContents(docs1, col("doc_id"), col("text"))
        timeMin(Dedup.simhashPairs(Dedup.simhash(d, col("doc_id"), col("text"))))
      }, {
        val d = Dedup.distinctContents(docs10, col("doc_id"), col("text"))
        timeMin(Dedup.simhashPairs(Dedup.simhash(d, col("doc_id"), col("text"))))
      }),
      // substring spans over the flood: every shingle of the 100k
      // identical docs repeats 100k× — the min(struct) partial agg and
      // the AQE skew join must keep this linear (a row_number window
      // over the hash would collect each hash's 100k rows in one task)
      Res("x56_duplicateSpans",
        timeMin(Dedup.duplicateSpans(docs1, col("doc_id"), col("text"), n = 5)),
        timeMin(Dedup.duplicateSpans(docs10, col("doc_id"), col("text"), n = 5))),
      // clusters over the minhash pairs: pointer doubling keeps rounds at
      // O(log diameter), so a 10x corpus (plus the flood collapsing to
      // one content) must not add iterations, only per-round volume
      Res("x39_neardupClusters",
        timeMin(Dedup.connectedComponents(
          Dedup.minhashPairs(docs1, col("doc_id"), col("text")))),
        timeMin(Dedup.connectedComponents(
          Dedup.minhashPairs(docs10, col("doc_id"), col("text"))))),
      Res("x10_knnLsh",
        timeMin(Similarity.knnLsh(embs1, (0L until 10L).toSeq, k = 5)),
        timeMin(Similarity.knnLsh(embs10, (0L until 10L).toSeq, k = 5))),
      Res("x21_ivfSearch",
        timeMin(Similarity.ivfSearch(embs1,
          Similarity.seedCentroids(embs1, stride = 50), (0L until 10L).toSeq, k = 5)),
        timeMin(Similarity.ivfSearch(embs10,
          Similarity.seedCentroids(embs10, stride = 50), (0L until 10L).toSeq, k = 5))),
      Res("x33_pqSearch",
        timeMin(Similarity.pqSearch(embs1, (0L until 10L).toSeq, k = 5)),
        timeMin(Similarity.pqSearch(embs10, (0L until 10L).toSeq, k = 5))),
      // multi-probe semantic dedup under the duplicate-vector flood:
      // every blown copy is byte-identical to its original (cosine 1.0),
      // so the dup graph is maximal — membership doubles via top-2
      // cells and the pairing must stay cell-local, never N²
      Res("x62_semDedupMp",
        timeMin(Similarity.semanticDedupMultiProbe(embs1, threshold = 0.4, stride = 50)),
        timeMin(Similarity.semanticDedupMultiProbe(embs10, threshold = 0.4, stride = 50))),
      // the scale doctrine in tripwire form: deriving the stride from
      // the corpus (fixed ~40 cells) must hold the ratio at-or-under
      // the constant-stride x21 row above, because assignment stays
      // N·cells instead of growing N²/stride
      Res("x63_ivfScaled",
        timeMin(Similarity.ivfSearch(embs1,
          Similarity.seedCentroids(embs1, Similarity.strideForCells(embs1, 40)),
          (0L until 10L).toSeq, k = 5)),
        timeMin(Similarity.ivfSearch(embs10,
          Similarity.seedCentroids(embs10, Similarity.strideForCells(embs10, 40)),
          (0L until 10L).toSeq, k = 5))), {
        // round-4 ops: sessionize + rate anomaly over a 10× event fact
        // (skew: user 7 owns all blown copies, ~90% of the 10× fact), tfidf over
        // the 10× corpus incl. the identical-doc flood
        val events = Tables.events(spark, sfDir).select("event_id", "user_id", "ts")
        val events10 = blow(events, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        Res("x40_sessionize",
          timeMin(graft.ops.Sessionize.sessionize(events,
            col("user_id"), col("ts"), col("event_id"), 1800000000L)),
          timeMin(graft.ops.Sessionize.sessionize(events10,
            col("user_id"), col("ts"), col("event_id"), 1800000000L)))
      }, {
        val events = Tables.events(spark, sfDir).select("event_id", "user_id", "ts")
        val events10 = blow(events, "event_id", 10, 100000000L)
        Res("x44_rateZscores",
          timeMin(graft.ops.RateAnomaly.rateZscores(events,
            col("user_id"), col("ts"), "hour")),
          timeMin(graft.ops.RateAnomaly.rateZscores(events10,
            col("user_id"), col("ts"), "hour")))
      },
      Res("x41_tfidfTopK",
        timeMin(graft.ext.Relevance.tfidfTopK(docs1, col("doc_id"), col("text"), k = 3)),
        timeMin(graft.ext.Relevance.tfidfTopK(docs10, col("doc_id"), col("text"), k = 3))),
      // curation pipeline under the flood: the 100k identical docs all
      // share ONE content fingerprint — the combinable-agg canonical
      // election must keep this linear (a window over nfp would buffer
      // the whole copy-group in a single task)
      Res("x58_curationFlags",
        timeMin(graft.ext.Curation.curationFlags(docs1, col("doc_id"), col("text"))),
        timeMin(graft.ext.Curation.curationFlags(docs10, col("doc_id"), col("text")))),
      // round-9 ops. PageRank under the flood: every shingle of the
      // 100k identical docs has df = 100k >> the stop-gram cap and is
      // dropped at the bucket stage — the flood contributes ZERO edges,
      // which is exactly the guard's job (without it, one hot shingle
      // bucket would emit 10^10 pairs). The cap also bounds the blown
      // corpus's densified buckets at cap² pairs each.
      Res("x64_pageRank",
        timeMin(Graph.pageRank(Graph.coShingleEdges(
          docs1, col("doc_id"), col("text"), n = 3, maxShingleDf = 16L), iters = 3)),
        timeMin(Graph.pageRank(Graph.coShingleEdges(
          docs10, col("doc_id"), col("text"), n = 3, maxShingleDf = 16L), iters = 3))),
      // HLL under the flood: registers are max() folds, so 100k copies
      // of one doc's shingles collapse map-side; the exchange carries
      // O(keys × 64) register rows regardless of corpus size (the
      // exact-distinct baseline inside the op is the linear part)
      Res("x65_hllDistinct",
        timeMin(Sketches.hllDistinct(
          docs1.select(pmod(col("doc_id"), lit(20)).as("k"),
            explode(Dedup.shingles(col("text"), 3)).as("el")), col("k"), col("el"))),
        timeMin(Sketches.hllDistinct(
          docs10.select(pmod(col("doc_id"), lit(20)).as("k"),
            explode(Dedup.shingles(col("text"), 3)).as("el")), col("k"), col("el")))),
      // boilerplate under the flood: doc42's shingles hit df=100k — all
      // of its positions are covered in every copy; the join-back on the
      // hot hash is AQE-split and the islands window stays per-doc
      Res("x66_boilerplate",
        timeMin(Dedup.boilerplateCoverage(docs1, col("doc_id"), col("text"),
          n = 4, minDf = 3L)),
        timeMin(Dedup.boilerplateCoverage(docs10, col("doc_id"), col("text"),
          n = 4, minDf = 3L))),
      Res("x67_bm25",
        timeMin(Relevance.bm25TopK(docs1, col("doc_id"), col("text"),
          Seq("dup", "vector", "merge"), k = 10)),
        timeMin(Relevance.bm25TopK(docs10, col("doc_id"), col("text"),
          Seq("dup", "vector", "merge"), k = 10))),
      // CMS under the flood: the 100k copies of one doc pile their
      // tokens into d fixed counters — map-side combine absorbs them;
      // the counter table stays d×w rows at any corpus size
      Res("x68_cmsTopK",
        timeMin(Sketches.cmsTopK(
          docs1.select(explode(split(trim(col("text")), "\\s+")).as("term")),
          col("term"), k = 20)),
        timeMin(Sketches.cmsTopK(
          docs10.select(explode(split(trim(col("text")), "\\s+")).as("term")),
          col("term"), k = 20))),
      Res("x69_randomProject",
        timeMin(Similarity.randomProject(embs1, outDim = 8)),
        timeMin(Similarity.randomProject(embs10, outDim = 8))),
      // triangle counting's wedge volume is Σdeg² — bounded by the SAME
      // stop-gram cap as the pageRank row (flood contributes no edges)
      Res("x73_triangleStats",
        timeMin(Graph.triangleStats(Graph.coShingleEdges(
          docs1, col("doc_id"), col("text"), n = 3, maxShingleDf = 16L))),
        timeMin(Graph.triangleStats(Graph.coShingleEdges(
          docs10, col("doc_id"), col("text"), n = 3, maxShingleDf = 16L)))),
      // BPE rounds work on the VOCABULARY (distinct words + counts) —
      // a 10× corpus with the same vocabulary only inflates the count
      // aggregation; the per-round merge passes are vocabulary-sized
      // and must not notice the corpus growth at all
      Res("x70_bpeRounds", {
        val w1 = docs1.select(explode(split(trim(col("text")), "\\s+")).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        timeMin(graft.ext.Vocab.bpeRounds(w1, rounds = 3))
      }, {
        val w10 = docs10.select(explode(split(trim(col("text")), "\\s+")).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        timeMin(graft.ext.Vocab.bpeRounds(w10, rounds = 3))
      }),
      // round-10 ops. Winnowing under the flood: the 100k identical
      // docs share fingerprints with df ~100k — the maxFpDf cap drops
      // them at the bucket stage, so the flood contributes no pairs
      Res("x79_winnowPairs",
        timeMin(Dedup.sharedFingerprintPairs(docs1, col("doc_id"), col("text"),
          n = 3, w = 4, maxFpDf = 64L)),
        timeMin(Dedup.sharedFingerprintPairs(docs10, col("doc_id"), col("text"),
          n = 3, w = 4, maxFpDf = 64L))),
      // bigram LM under the flood: doc42's bigrams reach count ~100k —
      // both counting aggs are map-combinable and the count joins carry
      // one row per key, so the hot keys can't amplify multiplicity
      Res("x81_bigramLm",
        timeMin(graft.ext.Vocab.bigramLmScore(docs1, col("doc_id"), col("text"))),
        timeMin(graft.ext.Vocab.bigramLmScore(docs10, col("doc_id"), col("text")))),
      // medoids under the duplicate-vector flood: hot cells grow 10× in
      // membership, but the sum-of-squares identity keeps per-cell work
      // LINEAR in members (three scan passes + combinable aggs) — the
      // contrast with a Σ|c|² pair join, in tripwire form
      Res("x85_cellMedoids",
        timeMin(Similarity.cellMedoids(embs1,
          Similarity.seedCentroids(embs1, Similarity.strideForCells(embs1, 40)))),
        timeMin(Similarity.cellMedoids(embs10,
          Similarity.seedCentroids(embs10, Similarity.strideForCells(embs10, 40))))),
      // k-core on the blown graph: the flood contributes no edges (df
      // cap); each peel round is one combinable count + two semi-joins
      // over (long, long) edges, so 10× edges cost ~10× per round
      Res("x86_kCorePeel",
        timeMin(Graph.kCorePeel(Graph.coShingleEdges(
          docs1, col("doc_id"), col("text"), n = 3, maxShingleDf = 16L),
          k = 3, rounds = 3)),
        timeMin(Graph.kCorePeel(Graph.coShingleEdges(
          docs10, col("doc_id"), col("text"), n = 3, maxShingleDf = 16L),
          k = 3, rounds = 3))),
      // DSIR under the flood: the hashed feature table is ≤ 4096 rows
      // NO MATTER what the corpus does — the join-back broadcasts, the
      // two counting aggs combine map-side, the flood's hot features
      // just carry bigger counts
      Res("x87_dsirAffinity",
        timeMin(Sampling.dsirAffinity(docs1, col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(3)) === 0)),
        timeMin(Sampling.dsirAffinity(docs10, col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(3)) === 0))),
      // prefix join under the flood: byte-identical copies emit
      // IDENTICAL prefixes — one 100k-doc bucket, quadratic, no cap
      // can fix it without breaking exactness. The documented contract
      // is distinctContents first (identical contents are exactGroups'
      // job); this row proves the composed pipeline stays linear.
      Res("x91_prefixJaccard", {
        val d = Dedup.distinctContents(docs1, col("doc_id"), col("text"))
        timeMin(Dedup.prefixJaccardPairs(d, col("doc_id"), col("text"),
          n = 3, threshold = 0.5))
      }, {
        val d = Dedup.distinctContents(docs10, col("doc_id"), col("text"))
        timeMin(Dedup.prefixJaccardPairs(d, col("doc_id"), col("text"),
          n = 3, threshold = 0.5))
      }),
      // SNM is the skew-IMMUNE regime: candidates are N·(window-1) by
      // construction, flood or no flood — the 100k identical docs just
      // occupy 100k consecutive sort positions and contribute 100k·7
      // candidate pairs, scored in bounded per-pair work
      Res("x92_sortedNeighbor",
        timeMin(Dedup.sortedNeighborPairs(docs1, col("doc_id"), col("text"),
          keyLen = 12, window = 8, n = 3, threshold = 0.5)),
        timeMin(Dedup.sortedNeighborPairs(docs10, col("doc_id"), col("text"),
          keyLen = 12, window = 8, n = 3, threshold = 0.5))),
      // OOV under the flood: both sides of the op are map-combinable
      // token counts; the flood's tokens pile into existing vocab rows
      Res("x95_oovRates",
        timeMin(graft.ext.Vocab.oovRates(docs1, col("doc_id"), col("text"), v = 256)),
        timeMin(graft.ext.Vocab.oovRates(docs10, col("doc_id"), col("text"), v = 256))),
      // fifth batch. Edit distance under the flood: the 100k identical
      // copies all land in ONE length band, which blows past maxBand and
      // is dropped whole — the same silent-cap contract as the LSH
      // bucket caps (identical contents are exactGroups' job, not an
      // O(p·maxDist) DP's); densified organic bands cap the same way
      Res("x111_editDistance",
        timeMin(Dedup.editDistancePairs(docs1, col("doc_id"), col("text"))),
        timeMin(Dedup.editDistancePairs(docs10, col("doc_id"), col("text")))),
      // grid fill under the skewed 10× fact (user 7 owns ~90% of rows):
      // the per-(user,hour) election compacts the flood to one obs per
      // hour BEFORE the grid explode, so the grid itself never grows —
      // only the election window sees 10× rows
      {
        val events = Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "value")
        val events10 = blow(events, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        Res("x112_locfGrid",
          timeMin(graft.ext.TimeSeries.locfGrid(events,
            col("user_id"), col("ts"), col("event_id"), col("value"))),
          timeMin(graft.ext.TimeSeries.locfGrid(events10,
            col("user_id"), col("ts"), col("event_id"), col("value"))))
      },
      // co-occurrence under the flood: doc42's pairs reach count ~100k
      // but the count agg is map-combinable and the key space is
      // vocabulary-bounded — the flood piles into existing counters
      Res("x114_cooccur",
        timeMin(graft.ext.Vocab.cooccurTopK(docs1, col("text"), window = 3, k = 50)),
        timeMin(graft.ext.Vocab.cooccurTopK(docs10, col("text"), window = 3, k = 50))),
      // journey trigrams under the same user-7 skew: one user's
      // partition carries ~90% of the fact through the lag window — a
      // straggler by design (per-entity order is the semantic), but
      // strictly linear in that user's rows; the count groupBy after is
      // |event types|³-bounded
      {
        val events = Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "event_type")
        val events10 = blow(events, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        Res("x116_journeys",
          timeMin(graft.ops.EventAnalytics.journeyTrigrams(events,
            col("user_id"), col("ts"), col("event_id"), col("event_type"))),
          timeMin(graft.ops.EventAnalytics.journeyTrigrams(events10,
            col("user_id"), col("ts"), col("event_id"), col("event_type"))))
      },
      // basket pairs under the same user-7 skew: user 7's ~90k events
      // collapse into few giant sessions, but each session's state is
      // the DISTINCT item set (bounded by |event types|), so the
      // collect_set and the scan-side pair expansion never see the
      // session LENGTH — only the sessionize window walks the 90k rows
      {
        val events = Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "event_type")
        val events10 = blow(events, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        Res("x129_basketPairs",
          timeMin(graft.ops.EventAnalytics.basketPairs(events,
            col("user_id"), col("ts"), col("event_id"), col("event_type"),
            gapMicros = 1800000000L)),
          timeMin(graft.ops.EventAnalytics.basketPairs(events10,
            col("user_id"), col("ts"), col("event_id"), col("event_type"),
            gapMicros = 1800000000L)))
      },
      // seventh batch. Link prediction under the flood: the 100k
      // identical docs' shingles all have df ≈ 100k >> the stop-gram
      // cap and contribute NO edges (the x64/x73 guard); organic 10×
      // docs grow the wedge volume ~linearly because per-shingle pair
      // fan-out stays capped at df²
      Res("x148_linkPred",
        timeMin(Graph.linkPrediction(Graph.coShingleEdges(
          docs1, col("doc_id"), col("text"), n = 3, maxShingleDf = 16L), k = 50)),
        timeMin(Graph.linkPrediction(Graph.coShingleEdges(
          docs10, col("doc_id"), col("text"), n = 3, maxShingleDf = 16L), k = 50))),
      // HLL overlap under the flood: registers absorb the 100k copies
      // map-side (max-fold); the exact-overlap branch joins DISTINCT
      // (key, token) sets, so byte-identical copies add zero rows there
      Res("x152_hllOverlap",
        timeMin(Sketches.hllOverlap(
          docs1.select(pmod(col("doc_id"), lit(4)).cast("string").as("k"),
            explode(split(trim(col("text")), "\\s+")).as("el"))
            .where(col("el") =!= ""), col("k"), col("el"))),
        timeMin(Sketches.hllOverlap(
          docs10.select(pmod(col("doc_id"), lit(4)).cast("string").as("k"),
            explode(split(trim(col("text")), "\\s+")).as("el"))
            .where(col("el") =!= ""), col("k"), col("el")))),
      // cluster keepers under the flood: minhashPairs' distinct-contents
      // guard collapses the 100k copies before LSH; CC pointer-doubling
      // stays O(log d); the election is a combinable max(struct)
      Res("x158_clusterKeepers", {
        val q1 = docs1.select(col("doc_id"), length(col("text")).as("n_chars"))
        timeMin(Dedup.clusterKeepers(
          Dedup.minhashPairs(docs1, col("doc_id"), col("text")),
          q1, col("doc_id"), col("n_chars")))
      }, {
        val q10 = docs10.select(col("doc_id"), length(col("text")).as("n_chars"))
        timeMin(Dedup.clusterKeepers(
          Dedup.minhashPairs(docs10, col("doc_id"), col("text")),
          q10, col("doc_id"), col("n_chars")))
      }), {
        // survival + attribution under the user-7 skew (one user owns
        // ~90% of the 10× fact): journeys/sessions form in ONE ordered
        // walk of that user's partition — linear by construction; the
        // rollups after are type- or threshold-bounded
        val events = Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "event_type")
        val events10 = blow(events, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        Res("x147_survival",
          timeMin(graft.ops.EventAnalytics.survivalCurve(events,
            col("user_id"), col("ts"), col("event_id"),
            gapMicros = 1800000000L, minuteMarks = Seq(0, 1, 5, 15))),
          timeMin(graft.ops.EventAnalytics.survivalCurve(events10,
            col("user_id"), col("ts"), col("event_id"),
            gapMicros = 1800000000L, minuteMarks = Seq(0, 1, 5, 15))))
      }, {
        val events = Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "event_type")
        val events10 = blow(events, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        Res("x155_linearAttr",
          timeMin(graft.ops.EventAnalytics.linearAttribution(events,
            col("user_id"), col("ts"), col("event_id"), col("event_type"),
            convType = "purchase")),
          timeMin(graft.ops.EventAnalytics.linearAttribution(events10,
            col("user_id"), col("ts"), col("event_id"), col("event_type"),
            convType = "purchase")))
      }, {
        // ring sharding under a KEY FLOOD: one key value repeated 500k×
        // on top of 10× distinct keys — the distinct-key collapse plus
        // the O(log V) ring_successor expression must keep this linear
        // (the r10 crossJoin form paid ×128 row amplification here)
        val keys1 = Tables.orders(spark, sfDir).select("o_orderkey")
        val keys10 = blow(keys1, "o_orderkey", 10, 10000000L)
          .unionAll(spark.range(500000).select(lit(77L).as("o_orderkey")))
        Res("x174_hashRing",
          timeMin(Sampling.hashRingLoad(keys1, col("o_orderkey"), 8, 16)),
          timeMin(Sampling.hashRingLoad(keys10, col("o_orderkey"), 8, 16)))
      },
      // negative sampling over the flood corpus: the 100k identical docs
      // collapse to one content representative before LSH, positions come
      // from the two-phase rank (no O(N²) self-join since round 11), and
      // the candidate set is exactly N·k rows
      Res("x172_negSamples",
        timeMin(Sampling.negativeSamples(docs1, col("doc_id"), col("text"),
          k = 4, step = 997L)),
        timeMin(Sampling.negativeSamples(docs10, col("doc_id"), col("text"),
          k = 4, step = 997L))),
      // pairwise EMD with the flood concentrated in ONE stratum: the
      // corpus folds into 63-bin CDFs per stratum in a single combinable
      // pass, so a 100k-doc hot stratum costs one partial agg, and the
      // pair join runs on the dimension-sized CDF table
      Res("x171_emdLengths", {
        val d1 = docs1.select(pmod(col("doc_id"), lit(4)).cast("string").as("s"),
          length(col("text")).as("len"))
        timeMin(graft.ext.Profile.log2Emd(d1, col("s"), col("len")))
      }, {
        val d10 = docs10.select(
          when(col("doc_id") >= 10000000L, lit("hot"))
            .otherwise(pmod(col("doc_id"), lit(4)).cast("string")).as("s"),
          length(col("text")).as("len"))
        timeMin(graft.ext.Profile.log2Emd(d10, col("s"), col("len")))
      },
      // merkle fingerprint with the whole flood inside one stratum:
      // block hashing is group-local (sort within 1024-doc blocks), so
      // the hot stratum shards into ~100 dense blocks, never one task
      ), Res("x166_merkleRoot", {
        val d1 = docs1.select(pmod(col("doc_id"), lit(4)).cast("string").as("s"),
          col("doc_id"), col("text"))
        timeMin(graft.ext.Curation.merkleFingerprint(d1, col("s"),
          col("doc_id"), col("text")))
      }, {
        val d10 = docs10.select(
          when(col("doc_id") >= 10000000L, lit("hot"))
            .otherwise(pmod(col("doc_id"), lit(4)).cast("string")).as("s"),
          col("doc_id"), col("text"))
        timeMin(graft.ext.Curation.merkleFingerprint(d10, col("s"),
          col("doc_id"), col("text")))
      }),
      // merkle diff a-vs-mutated-a at 1× and 10×+flood: the outer join
      // compares BLOCK tables (≤ n/1024 rows), documents never cross it
      Res("x173_merkleDiff", {
        val d1 = docs1.select(lit("d").as("s"), col("doc_id"), col("text"))
        val m1 = d1.withColumn("text",
          when(col("doc_id") % 97 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        timeMin(graft.ext.Curation.merkleDiff(d1, m1, col("s"),
          col("doc_id"), col("text")))
      }, {
        val d10 = docs10.select(lit("d").as("s"), col("doc_id"), col("text"))
        val m10 = d10.withColumn("text",
          when(col("doc_id") % 97 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        timeMin(graft.ext.Curation.merkleDiff(d10, m10, col("s"),
          col("doc_id"), col("text")))
      }),
      // full-corpus link prediction under the byte-identical flood: the
      // 100k copies share every shingle, so those shingles' df blows
      // past the cap (16) and the flood mints ZERO edges — STRUCTURE
      // (df cap + mid-degree cap), not a fixture slice, bounds the
      // wedge work at any corpus size
      Res("x175_linkPredFull",
        timeMin(Graph.linkPrediction(
          Graph.coShingleEdges(docs1, col("doc_id"), col("text"),
            n = 3, maxShingleDf = 16L), k = 50, maxMidDegree = 64L)),
        timeMin(Graph.linkPrediction(
          Graph.coShingleEdges(docs10, col("doc_id"), col("text"),
            n = 3, maxShingleDf = 16L), k = 50, maxMidDegree = 64L))),
      // CDC chunking over the flood: boundary detection and chunk
      // hashing are per-doc scan-side work plus ONE per-doc window —
      // the 100k identical docs each pay their own linear chunking
      // (duplicate chunks are the OUTPUT, not a precondition)
      Res("x177_cdcChunks",
        timeMin(Dedup.cdcChunks(docs1, col("doc_id"), col("text"), mask = 64)),
        timeMin(Dedup.cdcChunks(docs10, col("doc_id"), col("text"), mask = 64))),
      {
        val events = Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "event_type")
        val events10 = blow(events, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        // SCD2 under one hot key: 9/10 of the blown corpus lands on
        // user 7 — the run-collapse windows are per-key, so the hot key
        // is one task's sort over ITS rows, never a global sort; the
        // 30× bound still holds because the sort is O(n log n) local
        Res("x176_scd2",
          timeMin(graft.ext.TimeSeries.scd2Intervals(events,
            col("user_id"), col("ts"), col("event_id"), col("event_type"))),
          timeMin(graft.ext.TimeSeries.scd2Intervals(events10,
            col("user_id"), col("ts"), col("event_id"), col("event_type"))))
      }, {
        val events = Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "event_type")
        val events10 = blow(events, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        // partition-gap audit under the same hot key: the calendar
        // explode runs on the per-key (first..last day) SPAN, and the
        // hot key's 9×-volume collapses to distinct days before the
        // spine join — flood rows cost one distinct pass, zero explode
        Res("x178_partGaps",
          timeMin(graft.ext.Layout.partitionGaps(events,
            col("user_id"), col("ts"))),
          timeMin(graft.ext.Layout.partitionGaps(events10,
            col("user_id"), col("ts"))))
      }, {
        // bloom prune audit at 10× probe volume + a 500k flood of one
        // ABSENT key: the filter is built once from the (unchanged) dim
        // and embedded at plan build; every probe is d multiply-mod
        // tests scan-side, so probe cost is linear in fact rows
        val fact1 = Tables.orders(spark, sfDir).select("o_custkey")
        val fact10 = blow(fact1, "o_custkey", 10, 0L)
          .unionAll(spark.range(500000).select(lit(999999999L).as("o_custkey")))
        val dim = Tables.customer(spark, sfDir)
          .where(col("c_mktsegment") === "BUILDING")
        Res("x179_bloomPrune",
          timeMin(Sketches.bloomPruneAudit(fact1, col("o_custkey"),
            dim, col("c_custkey"), words = 512, d = 3)),
          timeMin(Sketches.bloomPruneAudit(fact10, col("o_custkey"),
            dim, col("c_custkey"), words = 512, d = 3)))
      }, {
        // KMV under a VALUE flood: one element repeated 500k× on top of
        // 10× rows — the O(k) buffer absorbs the repeats in-place (the
        // dedup-on-insert contract), so the hot value costs one probe
        // per row and the wire still carries ≤ k longs per partition
        val ev1 = Tables.events(spark, sfDir).select("event_type", "user_id")
        val ev10 = blow(ev1, "user_id", 10, 10000000L)
          .unionAll(spark.range(500000)
            .select(lit("purchase").as("event_type"), lit(42L).as("user_id")))
        Res("x180_kmv",
          timeMin(Sketches.kmvDistinct(ev1, col("event_type"), col("user_id"), k = 64)),
          timeMin(Sketches.kmvDistinct(ev10, col("event_type"), col("user_id"), k = 64)))
      }, {
        // apriori triples with 9/10 of the blown corpus on ONE hot user:
        // the hot user's sessions still bound the expansion by their own
        // DISTINCT item sets (vocab-bounded), and the minSup prune keeps
        // the candidate space fixed no matter the flood
        val events = Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "event_type")
        val events10 = blow(events, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        Res("x185_triples",
          timeMin(graft.ops.EventAnalytics.basketTriples(events,
            col("user_id"), col("ts"), col("event_id"), col("event_type"),
            gapMicros = 14400000000L, minSup = 10L)),
          timeMin(graft.ops.EventAnalytics.basketTriples(events10,
            col("user_id"), col("ts"), col("event_id"), col("event_type"),
            gapMicros = 14400000000L, minSup = 10L)))
      },
      // epoch shuffle at 10×+flood: scan-side hash + combinable aggs —
      // the flood ids re-hash like any others; nothing accumulates
      Res("x186_epochShuffle",
        timeMin(Sampling.epochShuffle(docs1.select("doc_id"), col("doc_id"),
          epochs = 3, shards = 8)),
        timeMin(Sampling.epochShuffle(docs10.select("doc_id"), col("doc_id"),
          epochs = 3, shards = 8))),
      // KS drift with the whole flood inside ONE stratum: the corpus
      // folds to per-stratum 63-bin counts in a single combinable pass
      // (same contract as the x171 EMD row)
      Res("x187_ksDrift", {
        val d1 = docs1.select(pmod(col("doc_id"), lit(4)).cast("string").as("s"),
          length(col("text")).as("len"))
        timeMin(graft.ext.Profile.log2Ks(d1, col("s"), col("len")))
      }, {
        val d10 = docs10.select(
          when(col("doc_id") >= 10000000L, lit("hot"))
            .otherwise(pmod(col("doc_id"), lit(4)).cast("string")).as("s"),
          length(col("text")).as("len"))
        timeMin(graft.ext.Profile.log2Ks(d10, col("s"), col("len")))
      }), {
        // KMV overlap under a 500k single-VALUE flood on one side: the
        // dedup-on-insert buffer collapses the repeats to one slot, the
        // union re-sketch runs over ≤ 2k exploded mins (driver-scale),
        // and the exact audit legs are combinable count-distincts
        val oa1 = Tables.orders(spark, sfDir).select("o_custkey")
        val oa10 = blow(oa1, "o_custkey", 10, 0L)
          .unionAll(spark.range(500000).select(lit(424242L).as("o_custkey")))
        val cb = Tables.customer(spark, sfDir).select("c_custkey")
        Res("x188_kmvOverlap",
          timeMin(Sketches.kmvOverlap(oa1, col("o_custkey"), cb, col("c_custkey"), k = 256)),
          timeMin(Sketches.kmvOverlap(oa10, col("o_custkey"), cb, col("c_custkey"), k = 256)))
      },
      // grouped k-fold over the byte-identical flood: minhashPairs
      // collapses the 100k copies to ONE content representative before
      // any banding, so the flood adds one md5 group (one fold member),
      // not 100k LSH candidates — the same guard that bounds x7
      Res("x189_groupedKFold",
        timeMin(Sampling.groupedKFold(docs1, col("doc_id"), col("text"), kf = 5)),
        timeMin(Sampling.groupedKFold(docs10, col("doc_id"), col("text"), kf = 5))),
      {
        // rolling z-score with 9/10 of the blown corpus on ONE hot key:
        // the trailing frame is per-key ordered-by-day, so the hot key
        // is one task's local sort over its own DAILY rollup (≤ days
        // rows after the first combinable groupBy), never a global sort
        val events = Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "value")
        val events10 = blow(events, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        val cents = expr("CAST(round(value * 100) AS BIGINT)")
        Res("x190_rollingZscore",
          timeMin(graft.ext.TimeSeries.rollingZscore(events,
            col("user_id"), to_date(col("ts")), cents, win = 28, c = 3)),
          timeMin(graft.ext.TimeSeries.rollingZscore(events10,
            col("user_id"), to_date(col("ts")), cents, win = 28, c = 3)))
      }, {
        // decayed top-k under a 500k flood of one hot ITEM: weights are
        // scan-side shifts, the Σ is combinable (map-side partial eats
        // the flood), and the final ranking is TakeOrdered over the
        // item-cardinality rollup — flood volume never crosses the wire
        val base = Tables.events(spark, sfDir)
          .select("event_id", "event_type", "ts")
        val events = base.select("event_type", "ts")
        val hotTs = base.agg(max(col("ts")).as("ts"))
        val events10 = blow(base, "event_id", 10, 100000000L)
          .select("event_type", "ts")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit("hot_item").as("event_type"), col("ts")))
        Res("x191_decayedTopK",
          timeMin(graft.ops.EventAnalytics.decayedTopK(events,
            col("event_type"), col("ts"), halfLifeDays = 7, k = 10)),
          timeMin(graft.ops.EventAnalytics.decayedTopK(events10,
            col("event_type"), col("ts"), halfLifeDays = 7, k = 10)))
      }, {
        // l-diversity with the whole flood inside ONE quasi-identifier
        // class: two stacked combinable groupBys — the hot class is a
        // map-side partial, and the exchange carries occupied cells,
        // never rows
        val d1 = Tables.documents(spark, sfDir)
          .select("doc_id", "lang", "source", "text")
        val d10 = blow(d1, "doc_id", 10, 1000000L)
          .withColumn("lang",
            when(col("doc_id") >= 1000000L, lit("hot")).otherwise(col("lang")))
        def ld(d: DataFrame) = Profile.lDiversity(d,
          Seq(("lang", col("lang")),
            ("len_bucket", expr("CAST(length(text) DIV 200 AS BIGINT)"))),
          col("source"), l = 3)
        Res("x192_lDiversity", timeMin(ld(d1)), timeMin(ld(d10)))
      }, {
        // resize geometry at 10×: pure scan-side arithmetic — the only
        // cost is reading the envelope columns
        val m1 = Multimodal.metaColumns(
          Multimodal.mediaFromDocuments(spark,
            Tables.documents(spark, sfDir)).toDF())
        val m10 = Multimodal.metaColumns(
          Multimodal.mediaFromDocuments(spark,
            blow(Tables.documents(spark, sfDir), "doc_id", 10, 1000000L)).toDF())
        Res("x193_resizePlan",
          timeMin(Multimodal.resizePlan(m1, 224, 224)),
          timeMin(Multimodal.resizePlan(m10, 224, 224)))
      },
      // calibration under the byte-identical flood: candidate generation
      // is x7's (distinct-contents collapse + maxBucket guard), so the
      // 100k copies fold to one representative before any banding; the
      // audit joins are per-candidate, not per-row
      Res("x194_lshCalibration",
        timeMin(Dedup.lshCalibration(docs1, col("doc_id"), col("text"))),
        timeMin(Dedup.lshCalibration(docs10, col("doc_id"), col("text")))),
      // ppr on the df-capped co-shingle graph: the flood's shared
      // shingles blow past the df cap and mint zero edges (the x175
      // structural bound); iterations are equi-join + combinable agg
      Res("x195_ppr",
        timeMin(Graph.personalizedPageRank(
          Graph.coShingleEdges(docs1, col("doc_id"), col("text"),
            n = 3, maxShingleDf = 16L), c => c % 50 === 0, iters = 3)),
        timeMin(Graph.personalizedPageRank(
          Graph.coShingleEdges(docs10, col("doc_id"), col("text"),
            n = 3, maxShingleDf = 16L), c => c % 50 === 0, iters = 3))),
      {
        // winsorize with 9/10 of the blown corpus on ONE key: the range
        // sort spreads (k, v, id) across ALL partitions — the hot key
        // spans many tasks and the (pid, k)-local rank never builds a
        // per-key global window; offsets stay O(partitions × keys)
        val o1 = Tables.orders(spark, sfDir)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        val o10 = blow(o1, "o_orderkey", 10, 100000000L)
          .withColumn("o_orderpriority",
            when(col("o_orderkey") >= 100000000L, lit("9-HOT"))
              .otherwise(col("o_orderpriority")))
        def wz(d: DataFrame) = Profile.winsorizedStats(d,
          col("o_orderpriority"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"), tailPct = 10)
        Res("x196_winsorize", timeMin(wz(o1)), timeMin(wz(o10)))
      }, {
        // burstiness with a 500k single-DAY flood on one type: the
        // daily rollup eats the flood map-side (one hot cell), the
        // span math never explodes a calendar
        val ev1 = Tables.events(spark, sfDir).select("event_type", "ts")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "event_type", "ts"), "event_id", 10, 100000000L)
          .select("event_type", "ts")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit("hot_type").as("event_type"), col("ts")))
        def bz(d: DataFrame) = graft.ext.TimeSeries.burstiness(d,
          col("event_type"), col("ts"))
        Res("x197_burstiness", timeMin(bz(ev1)), timeMin(bz(ev10)))
      }, {
        // fertility over the byte-identical flood: pure scan-side
        // counters + one 5-key combinable rollup — the flood pays its
        // own regex scans and nothing else
        val d1 = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
        val d10 = blow(d1, "doc_id", 10, 1000000L)
        def fz(d: DataFrame) = TextAnalysis.tokenizerFertility(d,
          col("lang"), col("text"))
        Res("x198_fertility", timeMin(fz(d1)), timeMin(fz(d10)))
      }, {
        // lateness with 9/10 of the blown corpus on ONE user: the
        // running-max window is that user's own arrival-ordered rows in
        // one task (O(n log n) local sort, the x176 caveat); the rollup
        // is ≤ types×65 cells
        val ev1 = Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "event_type")
        val ev10 = blow(ev1, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        def lz(d: DataFrame) = graft.ops.EventAnalytics.latenessAudit(d,
          col("user_id"), col("event_id"), col("ts"), col("event_type"))
        Res("x199_lateness", timeMin(lz(ev1)), timeMin(lz(ev10)))
      }, {
        // chi2 with a 500k-row flood on ONE (segment, nation) cell: the
        // contingency groupBy eats the flood map-side (one hot cell);
        // margins and terms stay cell-scale regardless
        val c1 = Tables.customer(spark, sfDir)
          .select("c_custkey", "c_mktsegment", "c_nationkey")
        val c10 = blow(c1, "c_custkey", 10, 10000000L)
          .unionAll(spark.range(500000)
            .select((col("id") + 900000000L).as("c_custkey"),
              lit("FLOOD").as("c_mktsegment"), lit(99).as("c_nationkey")))
        def cz(d: DataFrame) = Profile.chi2Assoc(d,
          col("c_mktsegment"), col("c_nationkey"))
        Res("x200_chi2", timeMin(cz(c1)), timeMin(cz(c10)))
      }, {
        // t-closeness under a 500k byte-identical flood into ONE
        // (lang, len-bucket, source) cell: the cell groupBy combines
        // map-side; everything after runs on cells, not rows
        val d1 = Tables.documents(spark, sfDir)
          .select("lang", "text", "source")
        val hot = Tables.documents(spark, sfDir).where(col("doc_id") === 42)
          .select("lang", "text", "source")
          .crossJoin(spark.range(500000)).select("lang", "text", "source")
        val d10 = blow(Tables.documents(spark, sfDir)
            .select("doc_id", "lang", "text", "source"), "doc_id", 10, 1000000L)
          .select("lang", "text", "source").unionAll(hot)
        def tz(d: DataFrame) = Profile.tCloseness(d,
          Seq(("lang", col("lang")),
            ("len_bucket", expr("CAST(length(text) DIV 200 AS BIGINT)"))),
          col("source"), tPpm = 250000L)
        Res("x201_tCloseness", timeMin(tz(d1)), timeMin(tz(d10)))
      }, {
        // sweep-line with 9/10 of the blown interval set on ONE
        // supplier: that key's history sorts in one task (the per-entity
        // window contract — O(n log n) local), the rollup is combinable
        val iv1 = Tables.lineitem(spark, sfDir)
          .join(Tables.orders(spark, sfDir),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("l_suppkey").as("k"), col("o_orderdate").as("st"),
            col("l_shipdate").as("en"))
        val iv10 = (0 until 10).map(i =>
            if (i == 0) iv1 else iv1.withColumn("k", lit(9999999L)))
          .reduce(_.unionAll(_))
        def mz(d: DataFrame) = graft.ext.TimeSeries.maxConcurrency(d,
          col("k"), col("st"), col("en"))
        Res("x202_maxConcurrency", timeMin(mz(iv1)), timeMin(mz(iv10)))
      }, {
        // target encoding with a 500k-row flood on ONE key: key sums
        // stay a 6-row broadcast, the encoding is scan-side — the flood
        // pays its own scan and nothing else
        val o1 = Tables.orders(spark, sfDir)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        val o10 = blow(o1, "o_orderkey", 10, 10000000L)
          .unionAll(spark.range(500000)
            .select((col("id") + 900000000L).as("o_orderkey"),
              lit("FLOOD").as("o_orderpriority"),
              lit(100.0).as("o_totalprice")))
        def ez(d: DataFrame) = Sampling.targetEncodeDigest(
          Sampling.targetEncodeLoo(d, col("o_orderpriority"),
            col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)"), alpha = 20))
        Res("x203_targetEncode", timeMin(ez(o1)), timeMin(ez(o10)))
      }, {
        // HHI with a 500k-row flood onto ONE (market, firm): the rollup
        // combines map-side into one firm row; the ranking window sees
        // |firms| aggregate rows either way
        val l1 = Tables.lineitem(spark, sfDir)
          .join(Tables.supplier(spark, sfDir),
            col("s_suppkey") === col("l_suppkey"))
          .select(col("s_nationkey").cast("long").as("m"),
            col("l_suppkey").as("f"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("r"))
        val l10 = blow(l1.withColumn("rid", col("f")), "rid", 10, 10000000L)
          .drop("rid")
          .unionAll(spark.range(500000).select(lit(7L).as("m"),
            lit(424242L).as("f"), lit(100L).as("r")))
        def hz(d: DataFrame) = Profile.marketConcentration(d,
          col("m"), col("f"), col("r"))
        Res("x204_marketHhi", timeMin(hz(l1)), timeMin(hz(l10)))
      }, {
        // systematic stride at 10×: the two-phase rank is one range
        // sort + O(partitions) driver offsets — linear by construction
        val o1 = Tables.orders(spark, sfDir).select("o_orderkey")
        val o10 = blow(o1, "o_orderkey", 10, 10000000L)
        def sz(d: DataFrame) = Sampling.systematicSample(d,
          col("o_orderkey"), k = 16, offset = 7)
        Res("x205_systematic", timeMin(sz(o1)), timeMin(sz(o10)))
      }, {
        // MRR eval on the 10× corpus (duplicated-embedding skew): both
        // sides are the already-tripwired plans — LSH bucket join plus
        // the |queries|·N brute truth, linear in the corpus
        def mrz(d: DataFrame) = Similarity.annMrr(d, (0L until 10L).toSeq,
          k = 5)
        Res("x206_annMrr", timeMin(mrz(embs1)), timeMin(mrz(embs10)))
      }, {
        // gini split with a 500k flood into ONE (feature, target) cell:
        // map-side partial, cells after
        val g1 = Tables.orders(spark, sfDir)
          .select("o_orderpriority", "o_orderstatus")
        val g10 = blow(Tables.orders(spark, sfDir)
            .select("o_orderkey", "o_orderpriority", "o_orderstatus"),
            "o_orderkey", 10, 10000000L)
          .select("o_orderpriority", "o_orderstatus")
          .unionAll(spark.range(500000).select(
            lit("FLOOD").as("o_orderpriority"), lit("F").as("o_orderstatus")))
        def gz(d: DataFrame) = Profile.giniSplit(d,
          col("o_orderpriority"), col("o_orderstatus"))
        Res("x207_giniSplit", timeMin(gz(g1)), timeMin(gz(g10)))
      }, {
        // AUC with a 500k-row flood on ONE score value (a giant tie
        // group): the per-value rollup combines map-side; the two-phase
        // rank spreads the tie across partitions like any other rows
        val a1 = Tables.lineitem(spark, sfDir)
          .select((col("l_returnflag") === "R").cast("int").as("y"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"),
            expr("l_orderkey * 10 + l_linenumber").as("id"))
        val a10 = blow(a1, "id", 10, 1000000000L)
          .unionAll(spark.range(500000).select(lit(1).as("y"),
            lit(123456L).as("v"), (col("id") + 8000000000L).as("id")))
        def az(d: DataFrame) = Profile.rankAuc(d, col("y"), col("v"),
          col("id"))
        Res("x208_rankAuc", timeMin(az(a1)), timeMin(az(a10)))
      }, {
        // A/B z² with a 500k flood on ONE segment: the conversion
        // rollup eats it map-side; the pair matrix stays |segments|²
        val b1 = Tables.orders(spark, sfDir)
          .select(col("o_orderpriority").as("s"),
            (col("o_orderstatus") === "F").cast("int").as("c"))
        val b10 = (0 until 10).map(_ => b1).reduce(_.unionAll(_))
          .unionAll(spark.range(500000).select(lit("FLOOD").as("s"),
            (col("id") % 2).cast("int").as("c")))
        def bz2(d: DataFrame) = Profile.twoProportionZ2(d, col("s"),
          col("c"))
        Res("x209_abLift", timeMin(bz2(b1)), timeMin(bz2(b10)))
      }, {
        // calibration at 10×: the label rides the rank id, so the blown
        // corpus pays one two-phase rank and one combinable rollup —
        // never a join back
        val c1 = Tables.orders(spark, sfDir)
          .select(col("o_orderkey").as("id"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("sc"),
            (col("o_orderstatus") === "F").cast("int").as("y"))
        val c10 = blow(c1, "id", 10, 10000000L)
        def clz(d: DataFrame) = Profile.calibrationTable(d, col("id"),
          col("sc"), col("y"))
        Res("x210_calibration", timeMin(clz(c1)), timeMin(clz(c10)))
      }, {
        // shard χ² with a 500k-row flood on ONE key value: every flood
        // row hashes to the same shard (one hot cell map-side); the χ²
        // itself runs on ≤32 rows either way
        val u1 = Tables.orders(spark, sfDir).select("o_orderkey")
        val u10 = blow(u1, "o_orderkey", 10, 10000000L)
          .unionAll(spark.range(500000).select(lit(424242L).as("o_orderkey")))
        def uz(d: DataFrame) = Sampling.shardUniformity(d,
          col("o_orderkey"), shards = 32)
        Res("x211_shardUniformity", timeMin(uz(u1)), timeMin(uz(u10)))
      }, {
        // changepoint + runs test with a 500k single-DAY flood on one
        // type: both absorb it in the map-side daily rollup (one hot
        // cell); everything after is day-cardinality
        val ev1 = Tables.events(spark, sfDir).select("event_type", "ts")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "event_type", "ts"), "event_id", 10, 100000000L)
          .select("event_type", "ts")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit("hot_type").as("event_type"), col("ts")))
        def cpz(d: DataFrame) = graft.ext.TimeSeries.changepoint(d,
          col("event_type"), col("ts"))
        Res("x212_changepoint", timeMin(cpz(ev1)), timeMin(cpz(ev10)))
      }, {
        val ev1 = Tables.events(spark, sfDir).select("event_type", "ts")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "event_type", "ts"), "event_id", 10, 100000000L)
          .select("event_type", "ts")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit("hot_type").as("event_type"), col("ts")))
        def rz(d: DataFrame) = graft.ext.TimeSeries.runsTest(d,
          col("event_type"), col("ts"))
        Res("x213_runsTest", timeMin(rz(ev1)), timeMin(rz(ev10)))
      }, {
        // ANOVA with a 500k-row flood on ONE group: the moment rollup
        // eats it map-side; the F arithmetic is |groups| rows
        val o1 = Tables.orders(spark, sfDir)
          .select("o_orderpriority", "o_totalprice")
        val o10 = (0 until 10).map(_ => o1).reduce(_.unionAll(_))
          .unionAll(spark.range(500000).select(
            lit("FLOOD").as("o_orderpriority"),
            (col("id") % 1000).cast("double").as("o_totalprice")))
        def az2(d: DataFrame) = Profile.oneWayAnova(d,
          col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"), 2371945L)
        Res("x214_anova", timeMin(az2(o1)), timeMin(az2(o10)))
      }, {
        // assortativity on the 10× corpus (the flood's identical docs
        // collapse via the df cap upstream): the statistic is two
        // rollups + broadcast degree lookups over the capped edges
        def asz(d: DataFrame) = Graph.assortativity(
          Graph.coShingleEdges(d, col("doc_id"), col("text"), n = 3,
            maxShingleDf = 64L))
        Res("x215_assortativity",
          timeMin(asz(docs1.where(col("doc_id") < 1500))),
          timeMin(asz(docs10.where(pmod(col("doc_id"), lit(1000000L)) < 1500))))
      }, {
        // nearest as-of with 9/10 of events on ONE user: that user's
        // spine is one task's local sort (per-entity window contract);
        // both frames ride the same sort
        val ev1 = Tables.events(spark, sfDir)
          .select("event_id", "user_id", "ts", "event_type")
        val ev10 = blow(ev1, "event_id", 10, 100000000L)
          .withColumn("user_id",
            when(col("event_id") >= 100000000L, lit(7L)).otherwise(col("user_id")))
        def nz(d: DataFrame) = graft.ops.AsofJoin.asofNearest(
          d.where(col("event_type") === "error")
            .select("event_id", "user_id", "ts"),
          d.where(col("event_type") === "click")
            .select("event_id", "user_id", "ts"),
          "user_id", "ts", "ts", "event_id", "event_id")
        Res("x216_asofNearest", timeMin(nz(ev1)), timeMin(nz(ev10)))
      }, {
        // WAPE backtest under the 500k single-day flood: the daily
        // rollup eats it map-side; lags ride day-cardinality rows
        val ev1 = Tables.events(spark, sfDir).select("event_type", "ts")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "event_type", "ts"), "event_id", 10, 100000000L)
          .select("event_type", "ts")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit("hot_type").as("event_type"), col("ts")))
        def wz2(d: DataFrame) = graft.ext.TimeSeries.wapeBacktest(d,
          col("event_type"), col("ts"))
        Res("x217_wapeBacktest", timeMin(wz2(ev1)), timeMin(wz2(ev10)))
      }, {
        // Mann–Kendall under the 500k single-day flood: the daily
        // rollup absorbs it map-side; the pair join is calendar² per
        // key regardless of corpus size
        val ev1 = Tables.events(spark, sfDir).select("event_type", "ts")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "event_type", "ts"), "event_id", 10, 100000000L)
          .select("event_type", "ts")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit("hot_type").as("event_type"), col("ts")))
        def mkz(d: DataFrame) = graft.ext.TimeSeries.mannKendall(d,
          col("event_type"), col("ts"))
        Res("x218_mannKendall", timeMin(mkz(ev1)), timeMin(mkz(ev10)))
      }, {
        // lead–lag with a 500k one-day click flood: one hot daily cell
        // map-side; the lag spine is calendar × 15 regardless
        val ev1 = Tables.events(spark, sfDir).select("event_type", "ts")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "event_type", "ts"), "event_id", 10, 100000000L)
          .select("event_type", "ts")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit("click").as("event_type"), col("ts")))
        def llz(d: DataFrame) = graft.ext.TimeSeries.leadLag(
          d.where(col("event_type") === "click"), col("ts"),
          d.where(col("event_type") === "error"), col("ts"), maxLag = 7)
        Res("x219_leadLag", timeMin(llz(ev1)), timeMin(llz(ev10)))
      }, {
        // χ² drift with 500k byte-identical docs on ONE source: one hot
        // (source, bin) cell map-side; spine stays |sources|×63
        val d1 = Tables.documents(spark, sfDir).select("source", "text")
        val hot = Tables.documents(spark, sfDir).where(col("doc_id") === 42)
          .select("source", "text")
          .crossJoin(spark.range(500000)).select("source", "text")
        val d10 = blow(Tables.documents(spark, sfDir)
            .select("doc_id", "source", "text"), "doc_id", 10, 1000000L)
          .select("source", "text").unionAll(hot)
        def xz(d: DataFrame) = Profile.log2Chi2Drift(d, col("source"),
          length(col("text")))
        Res("x220_chi2Drift", timeMin(xz(d1)), timeMin(xz(d10)))
      }, {
        // MAP eval against a 10× corpus (duplicated vectors included):
        // the brute ranking is |queries|·N — linear in the corpus, and
        // everything downstream lives on |queries|·k rows
        val l1 = Tables.embeddings(spark, sfDir).select("vec_id", "label")
        val l10 = blow(l1, "vec_id", 10, 1000000L)
        def mz(e: DataFrame, l: DataFrame) =
          Similarity.annMap(e, l, (0L until 10L).toSeq, k = 5)
        Res("x221_annMap", timeMin(mz(embs1, l1)), timeMin(mz(embs10, l10)))
      }, {
        // κ with 500k byte-identical docs: one (a, b) cell absorbs the
        // flood map-side; the marginal algebra stays cell-scale
        val d1 = Tables.documents(spark, sfDir).select("n_chars", "text")
        val hot = Tables.documents(spark, sfDir).where(col("doc_id") === 42)
          .select("n_chars", "text")
          .crossJoin(spark.range(500000)).select("n_chars", "text")
        val d10 = blow(Tables.documents(spark, sfDir)
            .select("doc_id", "n_chars", "text"), "doc_id", 10, 1000000L)
          .select("n_chars", "text").unionAll(hot)
        def kz(d: DataFrame) = TextAnalysis.kappaAgreement(d,
          when(col("n_chars") < 220, "S").when(col("n_chars") < 380, "M")
            .otherwise("L"),
          when(TextAnalysis.wsTokenCount(col("text")) < 40, "S")
            .when(TextAnalysis.wsTokenCount(col("text")) < 68, "M")
            .otherwise("L"))
        Res("x222_kappa", timeMin(kz(d1)), timeMin(kz(d10)))
      }, {
        // drawdown with a 500k single-day flood on one priority: one
        // daily cell map-side; the windows stay calendar-bound
        val o1 = Tables.orders(spark, sfDir)
          .select("o_orderpriority", "o_orderdate", "o_totalprice")
        val hotDay = Tables.orders(spark, sfDir)
          .agg(max(col("o_orderdate")).as("o_orderdate"))
        val o10 = blow(Tables.orders(spark, sfDir)
            .select("o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice"),
            "o_orderkey", 10, 10000000L)
          .select("o_orderpriority", "o_orderdate", "o_totalprice")
          .unionAll(spark.range(500000).crossJoin(hotDay)
            .select(lit("1-URGENT").as("o_orderpriority"),
              col("o_orderdate"), lit(100.0).as("o_totalprice")))
        def dz(d: DataFrame) = graft.ext.TimeSeries.maxDrawdown(d,
          col("o_orderpriority"), col("o_orderdate"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        Res("x224_drawdown", timeMin(dz(o1)), timeMin(dz(o10)))
      }, {
        // Kruskal–Wallis with a 500k identical-price flood: one value
        // group in the midrank table; the two-phase rank sort is the
        // only data-scale cost and it is O(N log N) range-sort work
        val o1 = Tables.orders(spark, sfDir)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        val o10 = blow(o1, "o_orderkey", 10, 10000000L)
          .unionAll(spark.range(500000)
            .select((col("id") + 900000000L).as("o_orderkey"),
              lit("5-LOW").as("o_orderpriority"),
              lit(42.0).as("o_totalprice")))
        def qz(d: DataFrame) = Profile.kruskalWallis(d,
          col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
          col("o_orderkey"), chi2CritPpm = 9487729L)
        Res("x225_kruskal", timeMin(qz(o1)), timeMin(qz(o10)))
      }, {
        // LPA under the byte-identical flood: the flood's shingles blow
        // past the df cap and contribute ZERO edges — the same guard
        // that protects x64/x73; rounds stay |E|-linear
        def lz(d: DataFrame) = Graph.labelPropagation(
          Graph.coShingleEdges(d.where(col("doc_id") < 1500),
            col("doc_id"), col("text"), n = 3), rounds = 2)
        Res("x226_labelProp", timeMin(lz(docs1)), timeMin(lz(docs10)))
      }, {
        // streaks with 500k events on ONE (user, day): the distinct
        // collapses the flood before any window sees it
        val ev1 = Tables.events(spark, sfDir).select("user_id", "ts")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "user_id", "ts"), "event_id", 10, 100000000L)
          .select("user_id", "ts")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit(7L).as("user_id"), col("ts")))
        def sz(d: DataFrame) =
          graft.ext.TimeSeries.streakHistogram(d, col("user_id"), col("ts"))
        Res("x227_streaks", timeMin(sz(ev1)), timeMin(sz(ev10)))
      }, {
        // Brier with the 500k flood landing in one train segment: one
        // (seg) rollup cell; the join side stays |segments| rows
        val o1 = Tables.orders(spark, sfDir)
          .join(Tables.customer(spark, sfDir),
            col("c_custkey") === col("o_custkey"))
          .select("c_mktsegment", "o_orderpriority", "o_orderdate")
        val o10 = blow(Tables.orders(spark, sfDir)
            .join(Tables.customer(spark, sfDir),
              col("c_custkey") === col("o_custkey"))
            .select("o_orderkey", "c_mktsegment", "o_orderpriority",
              "o_orderdate"),
            "o_orderkey", 10, 10000000L)
          .select("c_mktsegment", "o_orderpriority", "o_orderdate")
          .unionAll(spark.range(500000)
            .select(lit("MACHINERY").as("c_mktsegment"),
              lit("1-URGENT").as("o_orderpriority"),
              expr("TIMESTAMP '1995-06-01'").as("o_orderdate")))
        def bz(d: DataFrame) = Profile.brierDecomposition(d,
          col("c_mktsegment"),
          (col("o_orderpriority") === "1-URGENT").cast("long"),
          col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        Res("x228_brier", timeMin(bz(o1)), timeMin(bz(o10)))
      }, {
        // CA trend with 500k rows flooding one score cell: the whole
        // flood is one per-score counter map-side
        val o1 = Tables.orders(spark, sfDir)
          .select("o_orderpriority", "o_orderstatus")
        val o10 = blow(Tables.orders(spark, sfDir)
            .select("o_orderkey", "o_orderpriority", "o_orderstatus"),
            "o_orderkey", 10, 10000000L)
          .select("o_orderpriority", "o_orderstatus")
          .unionAll(spark.range(500000)
            .select(lit("3-MEDIUM").as("o_orderpriority"),
              lit("F").as("o_orderstatus")))
        def cz(d: DataFrame) = Profile.cochranArmitage(d,
          expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT) - 1"),
          (col("o_orderstatus") === "F").cast("long"))
        Res("x229_caTrend", timeMin(cz(o1)), timeMin(cz(o10)))
      }, {
        // Markov steady state with a 500k-event single-user flood: the
        // hot user's lag window is one linear task; the chain itself is
        // |S|² cells regardless of the corpus
        val ev1 = Tables.events(spark, sfDir)
          .select("user_id", "ts", "event_id", "event_type")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "user_id", "ts", "event_type"),
            "event_id", 10, 100000000L)
          .select("user_id", "ts", "event_id", "event_type")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit(7L).as("user_id"), col("ts"),
              (col("id") + 900000000L).as("event_id"),
              lit("click").as("event_type")))
        def mz(d: DataFrame) = graft.ops.EventAnalytics.markovSteadyState(
          d, col("user_id"), col("ts"), col("event_id"), col("event_type"),
          iters = 8)
        Res("x230_markov", timeMin(mz(ev1)), timeMin(mz(ev10)))
      }, {
        // CUPED with the same single-user flood: one (user, variant)
        // rollup cell; moments and variants are broadcast-sized
        val ev1 = Tables.events(spark, sfDir).select("user_id", "ts")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "user_id", "ts"), "event_id", 10, 100000000L)
          .select("user_id", "ts")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit(7L).as("user_id"), col("ts")))
        def uz(d: DataFrame) = graft.ops.EventAnalytics.cupedLift(d,
          col("user_id"), col("ts"), expr("user_id % 2"),
          to_timestamp(lit("2024-01-16")))
        Res("x231_cuped", timeMin(uz(ev1)), timeMin(uz(ev10)))
      }, {
        // HITS on a 10× edge list (shifted copies → genuinely more
        // edges): every half-step is one equi-join + rollup, |E|-linear
        val ed1 = Tables.lineitem(spark, sfDir)
          .join(Tables.orders(spark, sfDir),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
        val ed10 = blow(ed1.withColumn("src", col("src")), "src", 10,
          10000000L)
        def hz(d: DataFrame) = Graph.hits(d, iters = 2, k = 10)
        Res("x232_hits", timeMin(hz(ed1)), timeMin(hz(ed10)))
      }, {
        // MRL agreement against a 10× corpus (duplicated vectors):
        // both brute scans are |queries|·N — corpus-linear
        val e1 = Tables.embeddings(spark, sfDir)
        val e10 = blow(e1, "vec_id", 10, 1000000L)
        def tz(d: DataFrame) = Similarity.truncationAgreement(d,
          col("vec_id"), col("embedding"), (0L until 10L).toSeq, k = 5,
          dims = 16)
        Res("x233_mrlAgree", timeMin(tz(e1)), timeMin(tz(e10)))
      }, {
        // U-shaped attribution with a 500k-touch single-user flood: one
        // hot (but linear) user partition in the journey windows — the
        // same exposure as x155/x119, no quadratic term anywhere
        val ev1 = Tables.events(spark, sfDir)
          .select("user_id", "ts", "event_id", "event_type")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "user_id", "ts", "event_type"),
            "event_id", 10, 100000000L)
          .select("user_id", "ts", "event_id", "event_type")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit(7L).as("user_id"), col("ts"),
              (col("id") + 900000000L).as("event_id"),
              lit("view").as("event_type")))
        def az(d: DataFrame) = graft.ops.EventAnalytics.positionAttribution(
          d, col("user_id"), col("ts"), col("event_id"), col("event_type"),
          convType = "purchase")
        Res("x234_positionAttr", timeMin(az(ev1)), timeMin(az(ev10)))
      }, {
        // pinball with the 500k single-day flood: one daily cell; the
        // seven lag windows stay calendar-bound per key
        val ev1 = Tables.events(spark, sfDir).select("event_type", "ts")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "event_type", "ts"), "event_id", 10, 100000000L)
          .select("event_type", "ts")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit("click").as("event_type"), col("ts")))
        def pz(d: DataFrame) = graft.ext.TimeSeries.pinballBacktest(d,
          col("event_type"), col("ts"), qPct = 75)
        Res("x235_pinball", timeMin(pz(ev1)), timeMin(pz(ev10)))
      }, {
        // DiD with the single-user flood: one (user, arm) rollup cell
        val ev1 = Tables.events(spark, sfDir).select("user_id", "ts")
        val hotTs = Tables.events(spark, sfDir).agg(max(col("ts")).as("ts"))
        val ev10 = blow(Tables.events(spark, sfDir)
            .select("event_id", "user_id", "ts"), "event_id", 10, 100000000L)
          .select("user_id", "ts")
          .unionAll(spark.range(500000).crossJoin(hotTs)
            .select(lit(7L).as("user_id"), col("ts")))
        def dz2(d: DataFrame) = graft.ops.EventAnalytics.diffInDiff(d,
          col("user_id"), col("ts"), expr("user_id % 2"),
          to_timestamp(lit("2024-01-16")))
        Res("x236_did", timeMin(dz2(ev1)), timeMin(dz2(ev10)))
      }, {
        // capture–recapture on a 10× doc corpus: ONE scan-side 3-counter
        // aggregate — corpus-linear by construction, no keys to skew
        val d1 = Tables.documents(spark, sfDir).select("n_chars", "text")
        val d10 = blow(Tables.documents(spark, sfDir)
          .select("doc_id", "n_chars", "text"), "doc_id", 10, 1000000L)
        def cr(d: DataFrame) = TextAnalysis.captureRecapture(d,
          pmod(col("n_chars"), lit(7L)) === 0L,
          pmod(length(trim(col("text"))).cast("long"), lit(5L)) === 0L)
        Res("x237_captureRecap", timeMin(cr(d1)), timeMin(cr(d10)))
      }, {
        // Good–Turing on a 10× corpus: the (stratum, token) rollup rides
        // natural token skew ("the"-class hot keys) — map-side combine
        // must keep the hot cell linear
        val d1 = Tables.documents(spark, sfDir).select("source", "text")
        val d10 = blow(Tables.documents(spark, sfDir)
          .select("doc_id", "source", "text"), "doc_id", 10, 1000000L)
          .select("source", "text")
        def gt(d: DataFrame) = TextAnalysis.goodTuring(d,
          col("source"), col("text"))
        Res("x238_goodTuring", timeMin(gt(d1)), timeMin(gt(d10)))
      }, {
        // Heaps curve on a 10× corpus: two-phase rank + first-bucket
        // election — both corpus-linear; the cumsum window is 10 rows
        val d1 = Tables.documents(spark, sfDir).select("doc_id", "text")
        val d10 = blow(Tables.documents(spark, sfDir)
          .select("doc_id", "text"), "doc_id", 10, 1000000L)
        def vg(d: DataFrame) = graft.ext.Vocab.vocabularyGrowth(d,
          col("doc_id"), col("text"), buckets = 10)
        Res("x239_heapsCurve", timeMin(vg(d1)), timeMin(vg(d10)))
      }, {
        // Kendall τ with a 500k-row single-(key,day) flood: the daily
        // rollup collapses the flood to ONE cell, and the Knight
        // aggregator's state is days-per-key — the r12 replan's no-pair-
        // join contract under volume
        val o1 = Tables.orders(spark, sfDir)
          .select("o_orderpriority", "o_orderdate", "o_totalprice")
        val hotDay = Tables.orders(spark, sfDir)
          .agg(max(col("o_orderdate")).as("o_orderdate"))
        val o10 = blow(Tables.orders(spark, sfDir)
            .select("o_orderkey", "o_orderpriority", "o_orderdate",
              "o_totalprice"), "o_orderkey", 10, 100000000L)
          .select("o_orderpriority", "o_orderdate", "o_totalprice")
          .unionAll(spark.range(500000).crossJoin(hotDay)
            .select(lit("3-MEDIUM").as("o_orderpriority"),
              col("o_orderdate"), lit(42.0).as("o_totalprice")))
        def kt(d: DataFrame) = graft.ext.TimeSeries.kendallTau(d,
          col("o_orderpriority"), col("o_orderdate"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        Res("x240_kendallTau", timeMin(kt(o1)), timeMin(kt(o10)))
      }, {
        // phash near-dup: 10× docs plus a 100k byte-identical flood —
        // every copy shares ONE fingerprint, so all 4 banded buckets
        // blow past maxBucket and are DROPPED (the loud-cap contract);
        // candidate work stays ~linear instead of 1e10 Hamming pairs
        val d1 = Tables.documents(spark, sfDir).select("doc_id", "text")
        val flood = d1.limit(1).crossJoin(spark.range(100000))
          .select((col("doc_id") + col("id") + 10000000L).as("doc_id"),
            col("text"))
        val d10 = blow(d1, "doc_id", 10, 1000000L).unionAll(flood)
        def ph(d: DataFrame) = Multimodal.phashPairs(Multimodal.dHash60(
          d.select(col("doc_id").as("media_id"),
            encode(col("text"), "UTF-8").as("payload")),
          col("media_id"), col("payload")))
        Res("x241_phashNeardup", timeMin(ph(d1)), timeMin(ph(d10)))
      }, {
        // phash band audit: the maxHamming=60 histogram form — candidate
        // volume is still governed by the banded buckets (the ≤65536 cap
        // drops the flood's shared fingerprint), so the full-spectrum
        // histogram must scale like the near-dup path, not like N²
        val d1 = Tables.documents(spark, sfDir).select("doc_id", "text")
        val flood = d1.limit(1).crossJoin(spark.range(100000))
          .select((col("doc_id") + col("id") + 10000000L).as("doc_id"),
            col("text"))
        val d10 = blow(d1, "doc_id", 10, 1000000L).unionAll(flood)
        def audit(d: DataFrame) = Multimodal.phashPairs(Multimodal.dHash60(
            d.select(col("doc_id").as("media_id"),
              encode(col("text"), "UTF-8").as("payload")),
            col("media_id"), col("payload")), maxHamming = 60)
          .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
        Res("x242_phashBandAudit", timeMin(audit(d1)), timeMin(audit(d10)))
      }, {
        // video frame near-dup: 10× docs plus a 100k byte-identical
        // flood — every copy's every sampled frame shares ONE
        // fingerprint per position, so all (frame, band) buckets of
        // the flood blow past maxBucket and drop loudly; candidate
        // work stays ~linear, the vote is a combinable rollup
        val d1 = Tables.documents(spark, sfDir).select("doc_id", "text")
        val flood = d1.limit(1).crossJoin(spark.range(100000))
          .select((col("doc_id") + col("id") + 10000000L).as("doc_id"),
            col("text"))
        val d10 = blow(d1, "doc_id", 10, 1000000L).unionAll(flood)
        def vote(d: DataFrame) = Multimodal.videoNeardupPairs(
          Multimodal.videoFrameDHash(
            d.select(col("doc_id").as("media_id"), lit("video").as("kind"),
              encode(col("text"), "UTF-8").as("payload"))))
        Res("x243_videoNeardup", timeMin(vote(d1)), timeMin(vote(d10)))
      }, {
        // audio trim plan: pure scan-side projection — must scale with
        // bytes read, nothing else
        val d1 = Tables.documents(spark, sfDir).select("doc_id", "text")
        val d10 = blow(d1, "doc_id", 10, 1000000L)
        def trim(d: DataFrame) = Multimodal.audioTrimPlan(
          d.select(col("doc_id").as("media_id"), lit("audio").as("kind"),
            encode(col("text"), "UTF-8").as("payload")))
        Res("x244_audioTrim", timeMin(trim(d1)), timeMin(trim(d10)))
      }, {
        // Borda: 10× lineitem plus a 500k-row single-ballot flood — the
        // hot ballot collapses to its distinct brands before ranking
        // (windows run on collapsed rows), so the flood costs its scan,
        // not a window blowup
        val li = Tables.lineitem(spark, sfDir)
          .select("l_orderkey", "l_partkey", "l_extendedprice",
            "l_discount", "l_linenumber")
        val pt = Tables.part(spark, sfDir).select("p_partkey", "p_brand")
        val hot = li.limit(1).crossJoin(spark.range(500000))
          .select(lit(999999999L).as("l_orderkey"), col("l_partkey"),
            col("l_extendedprice"), col("l_discount"),
            col("id").cast("int").as("l_linenumber"))
        val d10 = blow(li, "l_orderkey", 10, 100000000L).unionByName(hot)
        def borda(d: DataFrame) = graft.ext.Relevance.bordaAggregate(
          d.join(pt, col("l_partkey") === col("p_partkey")),
          col("l_orderkey"), col("p_brand"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long"),
          col("l_linenumber"))
        Res("x245_borda", timeMin(borda(li)), timeMin(borda(d10)))
      }, {
        // phash clusters: the x241 candidate machinery + CC — the 100k
        // byte-identical flood's buckets drop under maxBucket, so the
        // cluster pass sees ~linear pairs; CC rounds are log-diameter
        val d1 = Tables.documents(spark, sfDir).select("doc_id", "text")
        val flood = d1.limit(1).crossJoin(spark.range(100000))
          .select((col("doc_id") + col("id") + 10000000L).as("doc_id"),
            col("text"))
        val d10 = blow(d1, "doc_id", 10, 1000000L).unionAll(flood)
        def cc(d: DataFrame) = graft.ext.Dedup.connectedComponents(
          Multimodal.phashPairs(Multimodal.dHash60(
            d.select(col("doc_id").as("media_id"),
              encode(col("text"), "UTF-8").as("payload")),
            col("media_id"), col("payload"))))
        Res("x246_phashClusters", timeMin(cc(d1)), timeMin(cc(d10)))
      }, {
        // audio segmentation: bounded 16-row explode per media + one
        // media_id exchange — linear in media rows
        val d1 = Tables.documents(spark, sfDir).select("doc_id", "text")
        val d10 = blow(d1, "doc_id", 10, 1000000L)
        def seg(d: DataFrame) = Multimodal.audioSegments(
          d.select(col("doc_id").as("media_id"), lit("audio").as("kind"),
            encode(col("text"), "UTF-8").as("payload")))
        Res("x247_audioSegments", timeMin(seg(d1)), timeMin(seg(d10)))
      }, {
        // Copeland: 10× lineitem + the 500k single-ballot flood — the
        // hot ballot collapses to its <=25 distinct brands BEFORE the
        // k² duel join, so the flood can never make k² explode
        val li = Tables.lineitem(spark, sfDir)
          .select("l_orderkey", "l_partkey", "l_extendedprice",
            "l_discount", "l_linenumber")
        val pt = Tables.part(spark, sfDir).select("p_partkey", "p_brand")
        val hot = li.limit(1).crossJoin(spark.range(500000))
          .select(lit(999999999L).as("l_orderkey"), col("l_partkey"),
            col("l_extendedprice"), col("l_discount"),
            col("id").cast("int").as("l_linenumber"))
        val d10 = blow(li, "l_orderkey", 10, 100000000L).unionByName(hot)
        def cope(d: DataFrame) = graft.ext.Relevance.copelandAggregate(
          d.join(pt, col("l_partkey") === col("p_partkey")),
          col("l_orderkey"), col("p_brand"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
            .cast("long"),
          col("l_linenumber"))
        Res("x248_copeland", timeMin(cope(li)), timeMin(cope(d10)))
      }, {
        // distribution match: broadcast quota + one stratum exchange —
        // linear in pool rows; the 10x pool meets the same 63-bin quota
        val d1 = Tables.documents(spark, sfDir)
          .where(col("n_chars") >= 1)
          .select(col("doc_id"), col("source"),
            (length(bin(col("n_chars"))) - 1).cast("long").as("b"))
        val tgt = d1.where(col("source").isin("src0", "src1", "src2"))
        val pool1 = d1.where(!col("source").isin("src0", "src1", "src2"))
          .select("doc_id", "b")
        val pool10 = blow(pool1, "doc_id", 10, 1000000L)
        def dm(p: DataFrame) = graft.ext.Sampling.distributionMatch(
          tgt, p, col("b"), col("doc_id"))
        Res("x249_distMatch", timeMin(dm(pool1)), timeMin(dm(pool10)))
      }, {
        // distribution match, FAT SINGLE BIN: every pool row forced into
        // one stratum — the r13 scale defect's worst case. The two-phase
        // rank must sort the whole pool ACROSS the cluster (range
        // partitions), not inside one bin task: ratio stays ~linear
        val d1 = Tables.documents(spark, sfDir)
          .where(col("n_chars") >= 1).select("doc_id")
        val tgtFat = d1.limit(5000).withColumn("b", lit(7L))
        val pool1 = d1.withColumn("b", lit(7L))
        val pool10 = blow(pool1, "doc_id", 10, 1000000L)
        def dm(p: DataFrame) = graft.ext.Sampling.distributionMatch(
          tgtFat, p, col("b"), col("doc_id"))
        Res("x249_fatBin", timeMin(dm(pool1)), timeMin(dm(pool10)))
      }, {
        // audio near-dup: 10x audio rows + a 100k all-silence flood —
        // the flood's profiles are mutually IDENTICAL, so the round-16
        // pre-collapse folds all 100k into ONE representative before
        // any banding: the star output is 100k-1 linear family rows and
        // the banded join never sees the flood at all (the old contract
        // relied on the maxBucket drop and would have detonated on any
        // under-cap family — the skew receipt's find)
        val a1 = Tables.documents(spark, sfDir)
          .where(col("doc_id") % 3 === 1)
          .select(col("doc_id").as("media_id"), lit("audio").as("kind"),
            encode(col("text"), "UTF-8").as("payload"))
        val silence = spark.range(100000)
          .select((col("id") + 20000000L).as("media_id"),
            lit("audio").as("kind"),
            encode(lit(" " * 64), "UTF-8").as("payload"))
        val a10 = blow(a1, "media_id", 10, 1000000L).unionAll(silence)
        def nd(d: DataFrame) = Multimodal.audioNeardupStars(
          Multimodal.audioEnergyProfile(d))
        Res("x250_audioNeardup", timeMin(nd(a1)), timeMin(nd(a10)))
      }, {
        // cross-modal keep-one: the cluster table stays pair-driven
        // (broadcast) while the caption corpus grows 10x — the
        // propagation is one broadcast join + one cluster-keyed window,
        // so the ratio tracks the corpus, never clusters x corpus
        val docs = Tables.documents(spark, sfDir)
          .where(col("doc_id") % 3 === 0).select("doc_id", "text")
        val imgs = docs.select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("payload"))
        val clusters = Dedup.connectedComponents(
            Multimodal.phashPairs(Multimodal.dHash60(
              imgs.unionAll(Multimodal.reencodeVariants(imgs)),
              col("media_id"), col("payload"))))
          .select(col("doc_id").as("media_id"), col("cluster"))
          .localCheckpoint(false)
        val d10 = blow(docs, "doc_id", 10, 1000000L)
        def ko(d: DataFrame) = graft.ext.Curation.crossModalKeepOne(d, clusters)
        Res("x251_crossModal", timeMin(ko(docs)), timeMin(ko(d10)))
      }, {
        // padded-batch waste plan: the in-bucket rank is StratumRank
        // two-phase, so 10x docs through a <=16-value bucket stratum
        // must ride the cluster's partitions, never 16 single tasks —
        // the blow-up also FATTENS every bucket 10x, which is exactly
        // the mega-stratum case the two-phase replan exists for
        val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
        val d10 = blow(docs, "doc_id", 10, 1000000L)
        def pw(d: DataFrame) = graft.ext.Packing.padWaste(
          d, col("doc_id"), col("text"))
        Res("x253_padWaste", timeMin(pw(docs)), timeMin(pw(d10)))
      })

    val chosen = select(results.map(_.name),
      sys.env.get("SPARK_GRAFT_TRIPWIRE").toSeq.flatMap(_.split(",")))
    val selected = results.filter(r => chosen.contains(r.name))
    selected.foreach { r =>
      println(f"PROF ${r.name}%-18s t1x=${r.t1}%6.2fs t10x=${r.t10}%6.2fs ratio=${r.ratio}%5.1f")
    }
    spark.stop()
    val bad = selected.filter(_.ratio > 30.0)
    if (bad.nonEmpty) {
      System.err.println(s"TRIPWIRE VIOLATED: ${bad.map(_.name).mkString(", ")}")
      sys.exit(1)
    }
    println("TRIPWIRE OK")
  }
}
