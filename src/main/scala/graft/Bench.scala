package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the SURVEY §6 headline queries against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line of scalars
  * ([[stdoutLine]]); the per-query seconds, ratios and drift lists go to
  * the `BENCH_FULL.json` side file.
  *
  * - Materialises results through the `noop` sink so projections are not
  *   pruned away by a bare count() — the timing covers the full computation.
  * - One UNTIMED warm-up pass over every headline query first (pays JVM
  *   JIT, whole-stage-codegen compilation, parquet file listing, and
  *   shuffle/broadcast infra startup once, outside any timed run), then
  *   three timed iterations per query, best-of reported. r4 showed why:
  *   under end-of-round machine contention a single cold run can land 5×
  *   its steady-state time and best-of-2 still keeps it.
  *   (A pass-major round-robin order was tried for r8 and rejected: it
  *   measured a uniform ~1.5× slower across all 36 queries — revisiting
  *   a query after 35 others thrashes the codegen/JIT caches — which
  *   would inflate the very numbers the baseline comparison reads.)
  * - Budget breaches get ONE retry pass at the end of the run: the
  *   round driver's machine takes multi-second contention bursts (r7:
  *   the testdata regeneration overlapped the bench and pushed three
  *   queries 2-4× over budget while the suite median sat at 0.47× of
  *   budget), and back-to-back iterations put all three samples of one
  *   query inside the same burst. A breach re-measured minutes later is
  *   noise if it clears and a regression if it repeats.
  * - A failing query is reported as -1.0 and fails the process — a broken
  *   query must not masquerade as a fast one.
  */
object Bench {

  val headline: Seq[String] = Seq(
    "q1_pricing", "q3_topn_join", "q5_join5", "q_metrics",
    "q_dedup_exact", "q_dedup_minhash", "q_ann_brute", "q_text_quality",
    "q_topk_groups", "q_ann_ivf", "q_source_cap", "q_pack_chunks",
    "q_pack_chunks_sharded",
    // round-6 operators
    "q_stratified_sample", "q_entropy", "q_bigram_lm", "q_boilerplate",
    "q_ann_radius", "q_ann_radius_ivf", "q_interval_join", "q_dedup_semantic",
    // round-6 continuation (q_dedup_keep_best is gated but not benched:
    // its cost is duplicateClusters' iterative loop, already characterised
    // via q_dedup_cluster's absence for the same reason)
    "q_weighted_sample", "q_gopher_rules", "q_line_dedup",
    "q_classifier_score", "q_dedup_semantic_mp",
    "q_upsample", "q_window_chunks", "q_lm_score", "q_curation_pipeline2",
    // r6 final sweep (q_substr_strip shares the spans computation; the
    // spans query is the cost driver and is what gets benched)
    "q_substr_spans", "q_dsir", "q_nb_classify", "q_cluster_sample",
    "q_epoch_order",
    // r7 additions (q_fuzzy_join is gated but not benched: the synthetic
    // 8-word name vocabulary makes blocks corpus/8-sized, so its sf0.1
    // cost is the deliberate within-block quadratic — characterised in
    // PERF.md, same precedent as q_dedup_cluster/q_dedup_keep_best)
    "q_temperature_mix",
    // r8: iterative link-graph authority (5 fixed-point iterations;
    // q_trustrank is gated but not benched — it shares the iteration
    // engine and differs only in the teleport frame, same precedent as
    // q_substr_strip sharing the spans computation)
    "q_pagerank",
    // r8: BPE merge induction (q_bpe_segment and q_bpe_tokenize not
    // benched: their cost IS the training pass plus a stateless
    // projection); r9 adds the
    // production-k path — distributed vocab agg + driver-side delta
    // merge loop (64 merges, no chained Spark jobs)
    "q_bpe_train", "q_bpe_train64",
    // r8 continuation: Lloyd training gated on its own output (the
    // vector family's quantizer build) and synchronous label
    // propagation (ONE dst-hash shuffle per voting round since the r8
    // repartition fix — the explicit repartition serves both the
    // (dst,label) count and the dst argmax; r9 additionally
    // checkpoints each round, which AQE repays by planning the winners
    // join from real sizes). q_multimodal_decode — and the r10
    // transforms q_image_resize / q_audio_frames — are NOT benched:
    // their fixture sets are bounded (doc_id < 120) by design, so
    // their cost is O(1) in sf — constant-work smokes, not throughput
    // signals.
    "q_kmeans", "q_labelprop",
    // r8 continuation 2: exact-decimal correlation profile + the event
    // analytics trio (q_skipping_scan is NOT benched: its cost is the
    // 6M-row z-ordered write, a layout build, not a query)
    "q_corr", "q_resample", "q_funnel", "q_cohort",
    // r8 continuation 3: the profiling/warehouse quartet (cube through
    // one Expand + one grid exchange; histogram/outliers/winsorize are
    // groups-sized aggregates broadcast back; scd2 is two per-key
    // windows) + the IR pair (PMI margins off the shared bigram frame;
    // BM25 with query-filtered explode + TakeOrderedAndProject)
    "q_cube", "q_histogram", "q_outliers", "q_winsorize", "q_scd2",
    "q_pmi", "q_bm25",
    // r8 continuation 4: time-series analytics (window-framed exact
    // decimal sums; transition matrix off one per-key window) +
    // pivoted cross-tab and exact-moment profiling
    "q_moving_avg", "q_transitions", "q_pivot", "q_skew_stats",
    // r8 continuation 4b: semi-structured payload path (from_json
    // projection + the JSON->aggregation pipeline) and dependency/key
    // profiling (the contract-drafting discovery pass)
    "q_json_extract", "q_json_stats", "q_fd_violations", "q_key_profile",
    // r8 continuation 4c: degree-ordered triangle counting (wedge work
    // bounded by sum outdeg^2 <= m^1.5, the compact-forward bound),
    // rank transform, and the exact-integer EWMA recurrence
    "q_triangles", "q_rank_normalize", "q_ewma",
    // r8 continuation 4d: cross-table integrity (anti-join orphans)
    // and the exact-power-sum Welch t
    "q_ref_orphans", "q_ref_integrity", "q_abtest",
    // composed winsorize -> rank pipeline, interval-weighted TWAP,
    // and per-group median imputation
    "q_feature_pipeline", "q_twap", "q_impute",
    // windowed funnel (the conversion-timeout variant), normalized
    // retention, and lag-1 series autocorrelation
    "q_funnel_window", "q_retention_rate", "q_autocorr", "q_mode",
    "q_pop", "q_zscore", "q_chi2", "q_dup_stats", "q_seasonality",
    "q_gini",
    // r10: the corpus-wide cleaning projections and the end-to-end
    // shard-writer composition — the paths that touch every byte of a
    // 100 TB corpus, so a regression here may not ride along outside
    // the gate. q_bpe_tokenize is NOT benched: its cost is the 5-merge
    // training pass + the stateless tokenize projection, both of which
    // run INSIDE q_pack_tokens (train -> tokenize -> chunk -> pack), so
    // benching both would double-count the same work (the
    // q_substr_strip/q_trustrank precedent).
    "q_unicode_nfc", "q_clean_text", "q_mojibake", "q_pack_tokens",
    "q_html_strip", "q_ingest_clean", "q_c4_rules", "q_dedup_sentences",
    // r10 continuation: the checksum-validated card scrub and the
    // crawl-graph link extraction are corpus-wide projections; the
    // quantile sketch is a corpus-wide bounded aggregation. (The
    // multimodal transforms stay excluded with q_multimodal_decode:
    // bounded fixture sets, O(1) in sf. r11's q_jpeg_decode and
    // q_video_meta join that exclusion — both doc_id < 120 fixtures —
    // as does r13's q_video_dhash (same bounded video fixture).
    // q_curation_ingest is corpus-wide but NOT benched: it re-runs
    // seven already-benched stage families end to end, so benching it
    // would double-count every one — the q_substr_strip precedent; its
    // cost profile lives in CiProfileTool + PERF.md r11.)
    "q_redact_cards", "q_extract_links", "q_quantile_sketch",
    // r14: stupid-backoff scoring — trains BOTH reference models and
    // scores the corpus trigram stream, so it is the order-3 family's
    // cost driver (q_trigram_lm is NOT benched: its counting pass runs
    // INSIDE q_lm_score3 — the q_substr_strip precedent; its corpus
    // growth is ScaleBudget's trigram_counts band instead)
    "q_lm_score3",
    // r15: the order-5 family's cost driver — trains all FOUR backoff
    // models from one tokenisation and scores the 5-gram stream
    // (q_ppl_buckets5 is NOT benched: it is q_lm_score5 plus one scalar
    // quartile aggregation — the double-count precedent; the counting
    // stage's corpus growth is ScaleBudget's ngram5_counts band)
    "q_lm_score5",
    // r15: order-3 DSIR — four models from one grouped tokenisation plus
    // the doubly-joined trigram scoring stream (q_dsir3_sample is NOT
    // benched: it is q_dsir3 plus the already-benched weighted-sample
    // tail). q_wet_records/q_wat_records are NOT benched: bounded
    // fixtures (doc_id < 120), O(1) in sf — the q_multimodal_decode
    // exclusion class; the companion formats' byte-walk throughput is
    // WARC's, already carried by ScaleBudget's warc_ingest band.
    "q_dsir3",
    // r15: trained language ID — the char-trigram training pass + the
    // integer-micro argmax inference, both corpus-wide projections
    "q_lang_id_trained")

  /** Round-over-round regression budgets, calibrated against the round
    * driver's OWN machine: the BENCH_r04 per-query seconds (a contended
    * end-of-round run — every query ~1.3× slower than an idle box, i.e.
    * the realistic worst case this gate actually runs under) + 25%, plus
    * a 0.3 s absolute jitter floor. q_ann_ivf uses the idle-machine 0.79 s
    * with extra headroom instead of its r4 outlier (3.86 s — adjudicated
    * as driver-side optimizer CPU on a contended machine; the typedLit
    * centroid literal removes that sensitivity). Breaching any budget
    * fails the process — a regression must not ride along silently. */
  val budgetSecs: Map[String, Double] = Map(
    "q1_pricing" -> 1.57, "q3_topn_join" -> 1.19, "q5_join5" -> 1.31,
    "q_metrics" -> 0.66, "q_dedup_exact" -> 0.31, "q_dedup_minhash" -> 1.91,
    "q_text_quality" -> 0.53,
    "q_topk_groups" -> 1.16,
    "q_source_cap" -> 0.59,
    // pack family RE-BASED in r10 with bisect evidence (PERF.md r10):
    // every line of the q_pack_chunks dataflow (packChunks shards=1
    // branch, tokenCount, T.load, the SparkEntry query body) is
    // byte-identical between the r5 baseline pin and HEAD — the drift
    // (0.165 -> 0.42/0.51 idle warmed best-of-3) is harness context,
    // not code: the warm-up pass grew 13 -> 83 queries and the r8
    // round-robin experiment already measured that JIT/codegen-cache
    // thrash at ~1.5x uniform. New base = r10 idle TimeTool warmed
    // best-of-3 (0.425 / 0.514) x 1.3.
    "q_pack_chunks" -> 0.55, "q_pack_chunks_sharded" -> 0.67,
    // r6 operators: local warmed best-of-3 × 1.3 (the contended-driver
    // factor observed between local and driver runs since r4)
    "q_stratified_sample" -> 0.39, "q_entropy" -> 0.66,
    "q_bigram_lm" -> 0.31, "q_boilerplate" -> 0.74,
    "q_interval_join" -> 0.36,
    // vector family re-based after the norm Generate-barrier fix
    // (prepared() no longer inlines the norm per centroid reference):
    // local warmed measurements × 1.3 — deliberately TIGHTER than the old
    // bases so the 2-3× win cannot silently regress
    "q_ann_brute" -> 0.39, "q_ann_ivf" -> 0.61,
    "q_ann_radius" -> 0.22, "q_ann_radius_ivf" -> 0.49,
    // q_dedup_semantic_mp re-based TIGHTER (2.31 -> 1.80 = local warmed
    // med 1.385 × 1.3) after the r7 static canonical-block filter +
    // _mp_arr Generate barrier (interleaved A/B: pair stage 1.68 -> 1.29 s,
    // full query ~1.9 -> 1.385 s; see PERF.md r7)
    "q_dedup_semantic" -> 0.99, "q_dedup_semantic_mp" -> 1.80,
    // round-6 continuation: local warmed best-of-3 × 1.3
    "q_weighted_sample" -> 0.38, "q_gopher_rules" -> 0.86,
    "q_line_dedup" -> 0.77, "q_classifier_score" -> 0.59,
    "q_upsample" -> 0.32, "q_window_chunks" -> 0.44,
    "q_lm_score" -> 1.53, "q_curation_pipeline2" -> 1.54,
    // r6 final sweep: local warmed best-of-3 (1.07 / 1.43 / 0.87 / 0.60) × 1.3;
    // q_dsir re-based TIGHTER after the single-tokenisation dsirModels
    // rewrite (1.66 -> 1.43) so the win cannot silently regress
    "q_substr_spans" -> 1.39, "q_dsir" -> 1.86,
    "q_nb_classify" -> 1.14, "q_cluster_sample" -> 0.78,
    "q_epoch_order" -> 0.16,
    // r7: local warmed best-of-3 (0.43/0.47) × 1.3
    "q_temperature_mix" -> 0.61,
    // r8: local warmed best-of-3 (1.14) × 1.3; q_bpe_train re-based
    // TIGHTER in r9 (1.79 -> 1.08 = 0.83 warmed × 1.3) after the
    // collect-per-round literal rewrite (exponential-plan crossJoin
    // removed) so the win cannot silently regress; q_bpe_train64 is the
    // r9 driver-side delta trainer (0.38 warmed × 1.3)
    "q_pagerank" -> 1.48, "q_bpe_train" -> 1.08, "q_bpe_train64" -> 0.50,
    // r8 continuation: local warmed best-of-3 (0.96) × 1.3;
    // q_labelprop re-based TIGHTER in r11 (2.66 -> 1.55 = 1.19 warmed ×
    // 1.3) after the raw-vote repartition + eager per-round checkpoint
    // were replaced by map-side partial aggregation on the pipelined
    // lazy-cache window (the pageRank shape; LabelpropProfile evidence)
    "q_kmeans" -> 1.25, "q_labelprop" -> 1.55,
    // r8 continuation 2: local warmed best-of-3
    // (1.12 / 0.66 / 0.54 / 0.30) × 1.3
    "q_corr" -> 1.45, "q_resample" -> 0.85, "q_funnel" -> 0.70,
    "q_cohort" -> 0.39,
    // r8 continuation 3: local warmed best-of-3
    // (0.45 / 0.45 / 0.80 / 0.57 / 0.65 / 0.65 / 0.65) × 1.3; q_cube
    // re-based TIGHTER (2.78 -> 0.59) after the finest-level-grid
    // rewrite (2.14 -> 0.45 local) so the 4.8x win cannot silently
    // regress
    "q_cube" -> 0.59, "q_histogram" -> 0.59, "q_outliers" -> 1.04,
    "q_winsorize" -> 0.74, "q_scd2" -> 0.84, "q_pmi" -> 0.84,
    "q_bm25" -> 0.85,
    // r8 continuation 4: local warmed best-of-3
    // (0.66 / 0.79 / 0.40 / 0.39) × 1.3
    "q_moving_avg" -> 0.86, "q_transitions" -> 1.03, "q_pivot" -> 0.52,
    "q_skew_stats" -> 0.51,
    // r8 continuation 4b: local warmed best-of-3 (0.71 / 0.77 / 0.51 /
    // 0.46) × 1.3
    "q_json_extract" -> 0.93, "q_json_stats" -> 1.01,
    "q_fd_violations" -> 0.66, "q_key_profile" -> 0.60,
    // r8 continuation 4c: local warmed best-of-3 (1.34 / 0.52 / 0.53) × 1.3
    "q_triangles" -> 1.74, "q_rank_normalize" -> 0.68, "q_ewma" -> 0.69,
    // r8 continuation 4d: local warmed best-of-3 (0.61 / 0.55 / 0.50) × 1.3
    "q_ref_orphans" -> 0.79, "q_ref_integrity" -> 0.72, "q_abtest" -> 0.65,
    // local warmed best-of-3 (0.96 / 0.65 / 0.53) × 1.3
    "q_feature_pipeline" -> 1.25, "q_twap" -> 0.85, "q_impute" -> 0.69,
    // local warmed best-of-3 (1.08 / 0.77 / 0.50) × 1.3
    "q_funnel_window" -> 1.40, "q_retention_rate" -> 1.00,
    "q_autocorr" -> 0.65, "q_mode" -> 0.66,
    // local warmed best-of-3 (0.52 / 0.57 / 0.84 / 0.50) × 1.3
    "q_pop" -> 0.68, "q_zscore" -> 0.74, "q_chi2" -> 1.09,
    "q_dup_stats" -> 0.65,
    // local warmed best-of-3 (0.56 / 0.29) × 1.3
    "q_seasonality" -> 0.73, "q_gini" -> 0.38,
    // r10: local warmed best-of-3 (0.289 / 0.326 / 0.304 / 0.390) × 1.3;
    // q_pack_tokens re-based TIGHTER (2.65 -> 1.70 = 1.311 warmed × 1.3)
    // after collectedMerges switched to the production delta trainer
    // (2.04 -> 1.31 s) so the win cannot silently regress
    "q_unicode_nfc" -> 0.38, "q_clean_text" -> 0.43,
    "q_mojibake" -> 0.40, "q_pack_tokens" -> 1.70,
    "q_html_strip" -> 0.51,
    // r10: the composed 4-stage ingest pipeline (0.570 warmed × 1.3)
    "q_ingest_clean" -> 0.74,
    // r10: C4 battery — synthetic 6-line pages, 3 regex predicates per
    // line (0.720 warmed × 1.3)
    "q_c4_rules" -> 0.94,
    // r10: sentence-span dedup — shingle rank exchange + span join
    // (0.767 warmed × 1.3)
    "q_dedup_sentences" -> 1.0,
    // r10 continuation: Luhn card scrub (0.395 warmed × 1.3), link
    // extraction (0.360 × 1.3), min-k quantile sketch (0.494 × 1.3)
    "q_redact_cards" -> 0.51, "q_extract_links" -> 0.47,
    "q_quantile_sketch" -> 0.64,
    // r14: stupid-backoff scoring — trains both reference models and
    // scores the trigram stream (1.976 warmed × 1.3)
    "q_lm_score3" -> 2.57,
    // r15: local warmed best-of-3 (2.779 / 2.978 / 3.530) × 1.3.
    // q_lang_id_trained's base already carries the r15 char-array
    // rewrite (substr's per-window UTF-8 boundary scan was O(len²) per
    // document — 32.6 s → 3.53 s at sf0.1): the budget pins the fixed
    // shape so the quadratic cannot quietly return
    "q_lm_score5" -> 3.61, "q_dsir3" -> 3.87, "q_lang_id_trained" -> 4.59
    // slack shrunk r11 (0.3 -> 0.1 flat): the r10 driver run showed an
    // event-analytics cluster riding 2-3x over its r9 numbers with
    // rc=0 — for a 0.3-0.5 s query the flat 0.3 s was ~2-3x of
    // headroom all by itself. 0.1 s covers measured same-harness
    // jitter; verified breach-free against the r11 settled idle run.
  ).map { case (k, v) => k -> (v * 1.25 + 0.1) }

  /** Pinned baseline: the round-5 clean-run seconds per query (sf0.1,
    * local[32], warmed best-of-3, idle machine) — also recorded in
    * BASELINE.json. The emitted `vs_baseline` ratio (this run's total /
    * baseline total over the shared query set) is what makes the
    * "within 2× of baseline" gate measurable round over round. */
  val baselineSecs: Map[String, Double] = Map(
    "q1_pricing" -> 0.961, "q3_topn_join" -> 0.630, "q5_join5" -> 0.914,
    "q_metrics" -> 0.377, "q_dedup_exact" -> 0.240, "q_dedup_minhash" -> 1.183,
    "q_ann_brute" -> 0.302, "q_text_quality" -> 0.289, "q_topk_groups" -> 0.491,
    "q_ann_ivf" -> 0.650, "q_source_cap" -> 0.345,
    // pack family re-based r10 (idle TimeTool warmed best-of-3) after a
    // git bisect proved the dataflow byte-identical to the r5 pin — the
    // 0.165/0.260 originals are unreproducible under the 6x-larger
    // warm-up pass; evidence in PERF.md r10 and the budget comment above
    "q_pack_chunks" -> 0.425, "q_pack_chunks_sharded" -> 0.514)

  /** FULL-coverage per-query pins (r11): every headline query, not just
    * the 13 r5-baseline ones — the r10 verdict's blind spot was exactly
    * the unpinned 75 (an event-analytics cluster rode 2-3x over its r9
    * numbers with rc=0 because only budget slack covered it). Values
    * are the r11 settled idle run (sf0.1, local[32], full-Bench
    * harness — warm-up pass + best-of-3, the ONLY context these
    * numbers are comparable in; the r10 bisect proved standalone-JVM
    * numbers differ ~2x on short queries). The 13 r5-pinned queries
    * keep their [[baselineSecs]] values so the long-lived provenance
    * is single-source.
    *
    * RE-BASE POLICY (the q_pack_chunks precedent, PERF.md r10): a pin
    * may be moved ONLY with evidence that the code is not slower —
    * either a git bisect proving the dataflow byte-identical to the
    * pinned revision (the number was never reproducible), or an idle
    * `Test/runMain graft.TimeTool <query>` warmed best-of-3 in the SAME
    * harness context after a deliberate, documented plan change (the
    * q_labelprop r11 re-pin). "The suite got slower this round" is not
    * evidence — that is what the gate exists to catch. Drift that is
    * real but under the 2x gate surfaces in the `pin_drift` report
    * below ([[pinDriftReport]]): persistent >1.3x two rounds running is
    * the signal to either fix the regression or re-base WITH evidence,
    * before rot compounds under the gate. */
  val pinnedSecs: Map[String, Double] = baselineSecs ++ Map(
    "q_abtest" -> 0.228, "q_ann_radius" -> 0.184,
    "q_ann_radius_ivf" -> 0.346, "q_autocorr" -> 0.378,
    "q_bigram_lm" -> 0.283, "q_bm25" -> 0.511, "q_boilerplate" -> 0.572,
    "q_bpe_train" -> 0.768, "q_bpe_train64" -> 0.107,
    "q_c4_rules" -> 0.266, "q_chi2" -> 0.280,
    "q_classifier_score" -> 0.333, "q_clean_text" -> 0.172,
    "q_cluster_sample" -> 0.537, "q_cohort" -> 0.341, "q_corr" -> 1.127,
    "q_cube" -> 0.294, "q_curation_pipeline2" -> 0.941,
    "q_dedup_semantic" -> 0.631, "q_dedup_semantic_mp" -> 1.543,
    "q_dedup_sentences" -> 0.361, "q_dsir" -> 1.521,
    "q_dup_stats" -> 0.215, "q_entropy" -> 0.523,
    "q_epoch_order" -> 0.134, "q_ewma" -> 0.389,
    "q_extract_links" -> 0.141, "q_fd_violations" -> 0.317,
    "q_feature_pipeline" -> 0.555, "q_funnel" -> 0.436,
    "q_funnel_window" -> 0.359, "q_gini" -> 0.152,
    "q_gopher_rules" -> 0.576, "q_histogram" -> 0.241,
    "q_html_strip" -> 0.184, "q_impute" -> 0.299,
    "q_ingest_clean" -> 0.365, "q_interval_join" -> 0.279,
    "q_json_extract" -> 0.548, "q_json_stats" -> 0.705,
    "q_key_profile" -> 0.315, "q_kmeans" -> 0.737,
    // q_labelprop re-pinned after the r11 repartition/checkpoint rework
    // (3.156 -> idle TimeTool 1.194; full-bench and TimeTool contexts
    // agreed within 1% for this query pre-change)
    "q_labelprop" -> 1.20, "q_line_dedup" -> 0.463,
    "q_lm_score" -> 0.915,
    // r14: pinned from the round's first settled full-harness run
    // (sf0.1, idle box, the only context pins are comparable in)
    "q_lm_score3" -> 1.849,
    // r15: pinned from this round's first settled full-harness run
    // (rc=0, vs_baseline 0.950, run_factor/pin_factor both 1.000)
    "q_lm_score5" -> 2.496, "q_dsir3" -> 2.794,
    "q_lang_id_trained" -> 3.714,
    "q_mode" -> 0.183, "q_mojibake" -> 0.185,
    "q_moving_avg" -> 0.380, "q_nb_classify" -> 0.667,
    "q_outliers" -> 0.542, "q_pack_tokens" -> 0.939,
    "q_pagerank" -> 0.579, "q_pivot" -> 0.276, "q_pmi" -> 0.412,
    "q_pop" -> 0.165, "q_quantile_sketch" -> 0.190,
    "q_rank_normalize" -> 0.321, "q_redact_cards" -> 0.143,
    "q_ref_integrity" -> 0.261, "q_ref_orphans" -> 0.285,
    "q_resample" -> 0.726, "q_retention_rate" -> 0.345,
    "q_scd2" -> 0.387, "q_seasonality" -> 0.202,
    "q_skew_stats" -> 0.320, "q_stratified_sample" -> 0.357,
    "q_substr_spans" -> 1.066, "q_temperature_mix" -> 0.257,
    "q_transitions" -> 0.385, "q_triangles" -> 1.109,
    "q_twap" -> 0.316, "q_unicode_nfc" -> 0.096, "q_upsample" -> 0.107,
    "q_weighted_sample" -> 0.209, "q_window_chunks" -> 0.209,
    "q_winsorize" -> 0.469, "q_zscore" -> 0.291)

  /** Per-query ratio of this run's seconds to its pin, for every
    * successfully-timed query [[pinnedSecs]] covers (since r11: the
    * whole headline). */
  def perQueryRatios(results: Seq[(String, Double)]): Seq[(String, Double)] =
    results.collect { case (k, v) if v >= 0 && pinnedSecs.contains(k) =>
      k -> v / pinnedSecs(k) }

  /** The round contract's per-query ceiling: a pinned query slower than
    * 2× its pin is a regression even when the AGGREGATE vs_baseline
    * stays green — r9 proved an outlier can hide there (q_pack_chunks
    * rode at 2.27× inside an aggregate of 1.154). */
  val MaxVsBaseline = 2.0

  /** Soft pin-rot threshold: contention-normalized ratios above this
    * are REPORTED (never gated — the 2x gate stays the contract) so a
    * pin quietly riding 1.3-2x does not rot unexamined as the suite
    * grows. */
  val PinDriftThreshold = 1.3

  /** The soft drift report: queries whose contention-normalized ratio
    * (secs / pin / factor, after the jitter floor) exceeds
    * [[PinDriftThreshold]] — plus, when the PREVIOUS round's per-query
    * ratios are supplied ([[priorRatios]] reads the newest committed
    * BENCH_r*.json), the PERSISTENT subset that also drifted last round:
    * one round of drift is usually contention the settled close
    * disproves; two rounds running is a real trend — fix it or re-base
    * with evidence (see the policy note on [[pinnedSecs]]). */
  def pinDriftReport(results: Seq[(String, Double)], factor: Double,
                     prior: Map[String, Double] = Map.empty)
      : (Seq[(String, Double)], Seq[String]) = {
    val drifting = results.collect {
      case (k, v) if v >= 0 && pinnedSecs.get(k).exists(b =>
          v > b * PinDriftThreshold * factor + PinJitterFloor) =>
        k -> v / pinnedSecs(k)
    }
    // prior holds the PREVIOUS run's drift set: membership IS the
    // "drifted last round" fact (its qualification was already
    // contention-normalized there) — re-testing the stored raw ratio
    // against the threshold would silently drop drifters that qualified
    // under a fast-machine factor < 1
    val persistent = drifting.collect {
      case (k, _) if prior.contains(k) => k
    }
    (drifting, persistent)
  }

  /** The drift report's cross-run memory file: the previous run's DRIFT
    * SET — the [[pinDriftReport]] output, whose QUALIFICATION was
    * contention-normalized and jitter-floored (so a round run under
    * uniform contention or short-pin noise never poisons the next
    * round's persistence check); stored VALUES are the raw secs/pin
    * ratios for human reading, and membership alone carries the
    * drifted-last-round fact. Written at the end of every bench run and
    * committed with the round — the committed state IS the previous
    * round's settled close. (The driver's own BENCH_r*.json files
    * truncate the metric line and cannot serve.) Intra-round re-runs
    * shift the comparison to "the previous run", which only makes
    * persistence MORE sensitive — a drift that holds across two settled
    * runs is the same signal. */
  val PriorRatiosFile = "BENCH_PRIOR.json"

  /** Previous run's per-query ratios — empty when absent/unparseable:
    * the report degrades to current-round-only, never throws. */
  def priorRatios(dir: String = "."): Map[String, Double] =
    scala.util.Try {
      val f = new java.io.File(dir, PriorRatiosFile)
      if (!f.isFile) Map.empty[String, Double]
      else org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")) match {
        case org.json4s.JObject(fs) => fs.collect {
          case (k, org.json4s.JDouble(v)) => k -> v
          case (k, org.json4s.JDecimal(v)) => k -> v.toDouble
          case (k, org.json4s.JInt(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty[String, Double]
      }
    }.getOrElse(Map.empty)

  /** Locale-pinned 3dp formatting: the `f` interpolator renders through
    * the DEFAULT locale, and a comma-decimal locale would emit invalid
    * JSON that [[priorRatios]]' Try then silently swallows forever —
    * the persistence feature dead with no error. */
  private[graft] def num3(r: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(r))

  /** The stdout metric line: scalars only (3-decimal), a fixed set of
    * fields whatever the headline set, so a reader that keeps only the
    * last ~2 KB of output can parse it (with the per-query map it had
    * outgrown that window). The maps and drift lists live in
    * BENCH_FULL.json. */
  private[graft] def stdoutLine(total: Double, vsBaseline: Double, runFactor: Double,
                                pinFactor: Double, nPinDrift: Int,
                                nPinDriftPersistent: Int, sfDir: String): String =
    s"""{"metric":"total","value":${num3(total)},"unit":"sec",""" +
      s""""vs_baseline":${num3(vsBaseline)},"run_factor":${num3(runFactor)},""" +
      s""""pin_factor":${num3(pinFactor)},"n_pin_drift":$nPinDrift,""" +
      s""""n_pin_drift_persistent":$nPinDriftPersistent,"sf":"$sfDir"}"""

  /** Persist this run's DRIFT SET for the next run's persistence
    * comparison — best-effort (a read-only checkout must not fail the
    * bench). */
  def writePriorRatios(ratios: Seq[(String, Double)], dir: String = "."): Unit =
    scala.util.Try {
      val json = ratios.sortBy(_._1)
        .map { case (k, r) => "\"" + k + "\":" + num3(r) }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(
        new java.io.File(dir, PriorRatiosFile).toPath, json.getBytes("UTF-8"))
    }

  /** Absolute jitter floor on the pinned gate: pins are settled idle
    * numbers, and the shortest queries (~0.1 s) see ±0.1 s of
    * same-harness JIT/page-cache noise that a pure ratio would read as
    * 2x. Kept SMALL — the flat 0.3 s budget slack was how the r10
    * event-analytics cluster rode unflagged. */
  val PinJitterFloor = 0.1

  /** Pinned queries breaching [[MaxVsBaseline]] after contention
    * normalization (`factor` — the run-wide median of secs/pin, see
    * [[pinFactor]]: pins are settled values, so the median ratio reads
    * machine-wide contention directly; a real regression moves one
    * ratio, not the median). */
  def baselineBreaches(results: Seq[(String, Double)],
                       factor: Double): Seq[String] =
    results.collect {
      case (k, v) if v >= 0 && pinnedSecs.get(k).exists(b =>
          v > b * MaxVsBaseline * factor + PinJitterFloor) =>
        f"$k ${v / pinnedSecs(k)}%.2fx > ${MaxVsBaseline * factor}%.2fx pinned (+${PinJitterFloor}%.1fs floor)"
    }

  /** Contention estimate for the pinned gate: run-wide median of
    * secs/pin, clamped to [1, 3] (idle ≈ 1.0 by construction; the r10
    * driver's contention bursts read ~1.3-2x here; a uniform ≥3x is an
    * engine-wide regression and must still breach). The budget gate's
    * median can't serve: budgets carry ~2x slack, so their median sits
    * near 0.5 and clamps to 1 even under real contention. */
  def pinFactor(results: Seq[(String, Double)]): Double = {
    val ratios = results.collect {
      case (k, v) if v >= 0 && pinnedSecs.contains(k) => v / pinnedSecs(k)
    }.sorted
    if (ratios.isEmpty) 1.0
    else math.min(3.0, math.max(1.0, ratios(ratios.size / 2)))
  }

  /** Contention estimate for the BUDGET gate: run-wide median of
    * secs/budget clamped the same way (budgets carry ~2x slack, so this
    * median reads ~0.5 idle and only scales the gate when the whole run
    * is genuinely hot). */
  def budgetFactor(results: Seq[(String, Double)]): Double = {
    val ratios = results.collect {
      case (k, v) if v >= 0 && budgetSecs.contains(k) => v / budgetSecs(k)
    }.sorted
    if (ratios.isEmpty) 1.0
    else math.min(3.0, math.max(1.0, ratios(ratios.size / 2)))
  }

  /** One query's budget verdict under a contention factor. */
  def budgetOver(name: String, secs: Double, factor: Double): Boolean =
    secs >= 0 && budgetSecs.get(name).exists(b => secs > b * factor)

  /** One query's pinned-2x verdict under a contention factor. */
  def pinOver(name: String, secs: Double, factor: Double): Boolean =
    secs >= 0 && pinnedSecs.get(name).exists(b =>
      secs > b * MaxVsBaseline * factor + PinJitterFloor)

  /** How many breach-retry rounds a run gets: round 0 is the existing
    * immediate end-of-suite retry; round 1 is the r14 hardening — an
    * IDLE-SPACED second retry reserved for queries still breaching after
    * round 0. BENCH_r14 proved one immediate retry is not enough: a
    * ~1.2x-hot driver run caught q_chi2 (0.28 s pin) inside a 2.4x
    * relative burst and the immediate retry re-measured it still inside
    * the SAME burst — rc=1 on an engine whose five flagged queries all
    * read 0.86-1.11x vs pin minutes later on an idle box. A burst that
    * survives [[RetrySpacingMs]] of imposed idle is a regression, not
    * contention. */
  val MaxRetryRounds = 2

  /** Idle spacing before the second retry round (milliseconds): long
    * enough for a scheduler-level contention burst (GC storm, driver-box
    * cron, page-cache eviction) to move on, short enough to keep the
    * bench inside its harness window. */
  val RetrySpacingMs = 15000L

  /** Re-measure breaching queries until none remain or the retry rounds
    * are exhausted, keeping per-query minima (a retry can only improve a
    * reported time — the r7 contract). Contention factors are computed
    * ONCE from the first pass and used for every round AND the caller's
    * final verdict (returned alongside the results): retries only lower
    * times, so per-round or post-retry factor recomputation could only
    * SHRINK the thresholds — flagging a query that was never offered a
    * retry, the exact false-positive class this ladder exists to
    * eliminate. Fixed factors guarantee every reported breach was
    * re-measured in every round it stayed breaching. Breach sets are
    * recomputed per round from the UPDATED results so a query cleared
    * in round 0 is never re-run in round 1; `spacer` runs before every
    * round after the first (the idle gap). Pure given injected
    * `remeasure`/`spacer` so BenchGateSpec can prove the
    * false-positive/true-regression split without a bench run. */
  def resolveBreaches(firstPass: Seq[(String, Double)],
                      remeasure: String => Double,
                      spacer: Int => Unit,
                      maxRounds: Int = MaxRetryRounds)
      : (Seq[(String, Double)], Double, Double) = {
    val bf = budgetFactor(firstPass)
    val pf = pinFactor(firstPass)
    var results = firstPass
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val breaching = results.collect {
        case (n, s) if budgetOver(n, s, bf) || pinOver(n, s, pf) => n
      }.toSet
      if (breaching.isEmpty) done = true
      else {
        if (round > 0) spacer(round)
        results = results.map {
          case (n, s) if breaching(n) =>
            val retry = try math.min(s, remeasure(n))
                        catch { case _: Throwable => s }
            if (retry < s)
              System.err.println(f"[bench] $n retry round $round: ${s}%.2f -> " +
                f"${retry}%.2f (earlier sample discarded as a contention burst)")
            n -> retry
          case kv => kv
        }
      }
      round += 1
    }
    (results, bf, pf)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    var failed = false
    // untimed warm-up pass: JIT, codegen compile, file listing, shuffle
    // infra — failures surface in the timed loop below, not here
    headline.foreach(name => try runOnce(name) catch { case _: Throwable => () })
    val firstPass = headline.map { name =>
      val secs =
        try Seq(runOnce(name), runOnce(name), runOnce(name)).min
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            failed = true
            -1.0
        }
      name -> secs
    }
    // budgets are wall-clock numbers from the round driver's machine;
    // SPARK_GRAFT_BENCH_BUDGETS=off keeps the timings but drops the gate
    // when running on different hardware
    val budgetsOn = !sys.env.get("SPARK_GRAFT_BENCH_BUDGETS").exists(_.equalsIgnoreCase("off"))
    // Contention normalization: the run-wide MEDIAN of secs/budget
    // ([[budgetFactor]]) is a contention estimate no single query can
    // drag (a real regression moves one ratio, not the median); budgets
    // scale by it when it exceeds 1, clamped at 3× so a uniform genuine
    // slowdown (an engine-wide regression) still breaches. Emitted in
    // the JSON so a scaled gate is visible, not silent.
    // Breach retries ([[resolveBreaches]]): round 0 re-measures any
    // budget OR pinned-2x breach once the rest of the suite has run
    // (a contention burst has usually moved on by then; a regression
    // repeats); round 1 — the r14 hardening — imposes RetrySpacingMs of
    // idle and re-measures whatever STILL breaches (BENCH_r14's q_chi2
    // burst outlived the immediate retry; it would not outlive an
    // imposed idle gap). Minima are kept throughout, so retries can only
    // improve a query's reported time. The FIRST-PASS factors govern
    // retry decisions AND the final verdict: recomputing them from
    // post-retry results could only shrink the thresholds (retries only
    // lower times), flagging a query that never got a retry.
    val (results, runFactor, runPinFactor) =
      if (!budgetsOn) (firstPass, budgetFactor(firstPass), pinFactor(firstPass))
      else resolveBreaches(firstPass,
        name => math.min(runOnce(name), runOnce(name)),
        round => {
          System.err.println(s"[bench] breach retry round $round: idling " +
            s"${RetrySpacingMs / 1000}s so a machine-wide burst can move on")
          Thread.sleep(RetrySpacingMs)
        })
    val breaches = if (!budgetsOn) Nil else results.collect {
      case (name, secs) if budgetOver(name, secs, runFactor) =>
        f"$name ${secs}%.2f>${budgetSecs(name) * runFactor}%.2f"
    }
    val blBreaches = if (!budgetsOn) Nil else baselineBreaches(results, runPinFactor)
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // ratio vs the pinned baseline over the queries both runs cover
    val shared = results.filter { case (k, v) => v >= 0 && baselineSecs.contains(k) }
    val vsBaseline =
      if (shared.isEmpty) -1.0
      else shared.map(_._2).sum / shared.map(r => baselineSecs(r._1)).sum
    // per-query ratios (side file): the r9 lesson is that an
    // aggregate can absorb a 2x outlier — the per-query view cannot
    val ratioJson = perQueryRatios(results)
      .map { case (k, r) => "\"" + k + "\":" + num3(r) }.mkString("{", ",", "}")
    // soft pin-rot report (never gates — see the pinnedSecs policy
    // note): current drifters + the subset also over threshold in the
    // previous committed round's BENCH json
    val (drifting, persistent) = pinDriftReport(results, runPinFactor, priorRatios())
    val driftJson = drifting
      .map { case (k, r) => "\"" + k + "\":" + num3(r) }.mkString("{", ",", "}")
    val persistentJson = persistent.map("\"" + _ + "\"").mkString("[", ",", "]")
    val scalars =
      s""""vs_baseline":${num3(vsBaseline)},"run_factor":${num3(runFactor)},""" +
      s""""pin_factor":${num3(runPinFactor)},"n_pin_drift":${drifting.size},""" +
      s""""pin_drift_persistent":$persistentJson,"sf":"$sfDir""""
    // best-effort like writePriorRatios: a read-only checkout still gets
    // the metric line and the exit code
    scala.util.Try(java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,""" +
        s""""vs_baseline_queries":$ratioJson,"pin_drift":$driftJson,""" +
        s"$scalars}\n").getBytes("UTF-8")))
    println(stdoutLine(total, vsBaseline, runFactor, runPinFactor, drifting.size,
      persistent.size, sfDir))
    persistent.foreach(q => System.err.println(s"[bench] PIN DRIFT (2 rounds): $q — " +
      "fix the regression or re-base the pin with evidence (Bench.pinnedSecs policy)"))
    // persist the normalized DRIFT SET, not raw ratios: a round run
    // under uniform contention (or short-pin jitter the floor absorbs)
    // must not read as drift in the next round's persistence check
    writePriorRatios(drifting)
    breaches.foreach(b => System.err.println(s"[bench] BUDGET BREACH: $b " +
      "(budgets are wall-clock numbers from the round driver's machine; " +
      "set SPARK_GRAFT_BENCH_BUDGETS=off on other hardware)"))
    blBreaches.foreach(b => System.err.println(s"[bench] BASELINE BREACH: $b " +
      "(per-query 2x gate over the pinned shared set; " +
      "set SPARK_GRAFT_BENCH_BUDGETS=off on other hardware)"))
    spark.stop()
    if (failed || breaches.nonEmpty || blBreaches.nonEmpty) sys.exit(1)
  }
}
