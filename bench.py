#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized through the no-op sink (forces the whole
plan — scan, shuffle, aggregation — without driver collection overhead).

Per query the harness reports the BEST of two back-to-back runs: this box
is a shared VM and single-shot timings showed up to 10× transient skew
from outside interference (measured: the same plan 7 s and 162 s minutes
apart with identical session state and near-zero GC). Min-of-2 reports
steady-state plan cost, which is the quantity that scales. The plan
cache is cleared between queries so one query's internal persists can't
subsidize or crowd the next.

Outlier self-identification (round-11 verdict item #3): min-of-2 is NOT
enough when interference outlasts both samples — BENCH_r11 recorded a
14× artifact on a code-identical query. So (a) every raw sample is
persisted per query in the detail sidecars ("samples"), and (b) any
query whose two samples disagree by more than OUTLIER_RATIO gets a
THIRD run, with min-of-3 reported — a >3× spread between back-to-back
runs of the same warmed plan is interference by construction, never
plan cost.

The driver captures only the LAST ~2000 characters of stdout and
json-parses the final line, so the full per-query timing map (which grew
past 4 KB at 84 queries — BENCH_r05/r06 recorded ``parsed: null``) goes
to the BENCH_DETAIL.json sidecar, and stdout ends with ONE compact
summary line bounded well under the capture window no matter how many
queries HEADLINE grows to (the embedded "queries" dict is capped to the
slowest few; see summary_line())."""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: TIER POLICY (round-9 verdict item #7). Every HEADLINE query runs and
#: is recorded in BENCH_DETAIL.json, but the driver's ~2000-char tail
#: capture shows per-query rows for only the slowest ~40 that fit the
#: summary line. Which rows those are should be a deliberate, STABLE
#: choice — not whatever happens to be slowest this round — so the
#: driver-visible tail is comparable round over round:
#:
#: - CORE (below): one representative per major operator family. Its
#:   timings populate the summary line's "queries" dict. Changes to
#:   CORE are deliberate swaps, keeping it ≈40 entries; it only grows
#:   when a genuinely new FAMILY lands.
#: - EXTENDED (everything else in HEADLINE): still benched every run,
#:   still in BENCH_DETAIL.json and in the "value" total; new queries
#:   join here by default.
CORE = [
    # flagship + TPC-H shapes
    "flagship_fizzbuzz_agg",
    "tpch_q3_shipping_priority",
    "tpch_q8_national_market_share",
    "tpch_q18_large_volume_customer",
    "tpch_q21_suppliers_who_kept_waiting",
    # core relational
    "agg_pricing_summary",
    "agg_distinct_counts",
    "join_inner",
    "join_salted_skew",
    "window_ranking",
    "topk_per_group",
    "sort_equidepth_global_rank",
    "window_time_range_frame",
    # sketches
    "agg_hll_sketch_union",
    "agg_bitmap_exact_distinct",
    # streaming — the second-generation shelf runs through the REAL
    # availableNow runtime every round, not just the round-2 tumbling
    # row (round-12 verdict item #6)
    "streaming_tumbling_availablenow",
    "streaming_stream_stream_join",
    "streaming_cdc_merge_foreachbatch",
    # round-13 verdict item #7: the typed-state operator
    # (transformWithStateInPandas) was the one second-generation
    # streaming row still outside the every-round runtime exercise
    "streaming_typed_state_totals",
    "window_session",
    # sources / sinks / storage layout
    "source_python_datasource",
    "sink_jdbc_roundtrip",
    "sink_sorted_clustered_scan",
    "source_xml_roundtrip",
    # dedup family
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_jaccard_prefix_filter",
    "dedup_incremental_minhash",
    "dedup_semantic_semdedup",
    # similarity / vectors
    "similarity_topk_bruteforce",
    "similarity_lsh_topk_plan",
    "similarity_maxsim_multivector",
    "vector_pq_quantize",
    # text / tokenizers
    "text_bm25_search",
    "text_quality_classifier",
    "tokenizer_bpe_merges",
    "tokenizer_unigram_viterbi_segment",
    # pipeline / mixture / packing / splits
    "pipeline_corpus_end_to_end",
    "split_leakage_safe",
    "pack_bins_best_fit",
    "mix_dsir_importance",
    "contamination_bloom_prefilter",
    # graph / iterative
    "graph_pagerank_bipartite",
    "graph_hits_hubs_authorities",
    # stats / experimentation
    "stats_ks_two_sample",
    "experiment_cuped_readout",
    # per-series sequential state (round-14 continuation family:
    # Kalman/LTTB-class applyInPandas recursions over spilled series)
    "timeseries_kalman_filter_1d",
    # spatial, ER, multimodal, profiling, retrieval
    "join_spatial_grid_epsilon",
    "join_fuzzy_levenshtein_block",
    "multimodal_wav_decode_energy",
    "profile_column_summary",
    "search_rrf_hybrid_fusion",
]

HEADLINE = [
    "flagship_fizzbuzz_agg",
    "agg_pricing_summary",
    "agg_distinct_counts",
    "join_inner",
    "join_left_outer",
    "join_asof",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume_customer",
    "window_ranking",
    "topk_per_group",
    "sort_limit_topk",
    "window_tumbling",
    "window_session",
    "explode_tokens",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "tpch_q8_national_market_share",
    "tpch_q21_suppliers_who_kept_waiting",
    "split_train_val_test",
    "pack_token_stream_chunks",
    "cdc_latest_state_by_key",
    "sql_nation_monthly_rank",
    "pipeline_corpus_end_to_end",
    "text_bm25_search",
    "agg_hll_sketch_union",
    "window_time_range_frame",
    # round 2 additions
    "text_html_strip",
    "join_salted_skew",
    "source_python_datasource",
    "window_distinct_count_trick",
    "multimodal_frame_sample",
    # round 3 additions: regression-guard the families the headline never
    # covered — iterative/graph, exact-embedding clustering, write-side
    # MERGE, a real streaming availableNow run, and the SRP-LSH ANN path
    "graph_pagerank_bipartite",
    "dedup_embedding_clusters",
    "sink_merge_upsert_roundtrip",
    "streaming_tumbling_availablenow",
    "similarity_lsh_topk",
    # real-codec and live-connector families
    "multimodal_wav_decode_energy",
    "sink_jdbc_roundtrip",
    # late round-3 additions: resampling, DQ gate, composed k-NN stack
    "timeseries_interpolate_linear",
    "dq_quarantine_split",
    "similarity_knn_classify",
    # exact-complete similarity join, bloom decontamination, one-pass
    # profiling, iterative BPE training
    "dedup_jaccard_prefix_filter",
    "contamination_bloom_prefilter",
    "profile_column_summary",
    "tokenizer_bpe_merges",
    # scalable global rank, capped sessions, Gram matvec
    "sort_equidepth_global_rank",
    "window_session_max_duration",
    "vector_power_iteration_step",
    # round 4 additions: the two de-serialized global-window rewrites
    # (regression-guard their two-phase rank plans), the persistent-
    # index incremental dedup path, and duplicate-span excision
    "curriculum_length_buckets",
    "tokenizer_vocab_build",
    "dedup_incremental_minhash",
    "dedup_span_excise",
    # round 5 additions: the quality-classifier gate, DSIR importance
    # weighting, and whole-document bin packing (the new LLM-recipe
    # operators)
    "text_quality_classifier",
    "mix_dsir_importance",
    "pack_bins_best_fit",
    "dedup_semantic_semdedup",
    "sample_poisson_bootstrap",
    "corpus_bpe_encode",
    # round 6 additions: the retrieval serving stack (hybrid RRF fusion,
    # MMR diversity rerank, token-budget context assembly), the Spark 4
    # recursive-CTE front door, the XML format roundtrip, and the
    # filter-cascade attrition report
    "search_rrf_hybrid_fusion",
    "search_mmr_rerank",
    "rag_context_pack",
    "sql_recursive_cte_front_door",
    "source_xml_roundtrip",
    "pipeline_filter_attrition",
    # round 6: experimentation analytics (multi-touch attribution, CUPED)
    "events_attribution_multitouch",
    "experiment_cuped_readout",
    # round 6: sorted-clustered storage layout
    "sink_sorted_clustered_scan",
    # round 6: Poisson-bootstrap uplift CI
    "experiment_bootstrap_uplift_ci",
    # round 6: entity-resolution fuzzy join
    "join_fuzzy_levenshtein_block",
    # round 6: leakage-safe split (dedup-cluster-consistent assignment)
    "split_leakage_safe",
    # round 6: grid-blocked spatial ε-join; rolling robust anomaly window
    "join_spatial_grid_epsilon",
    "timeseries_rolling_mad_anomaly",
    # round 6: SRM trust gate; GDPR erasure cascade audit
    "experiment_srm_check",
    "privacy_erasure_cascade",
    # round 6: exact mergeable distinct via bitmap aggregates
    "agg_bitmap_exact_distinct",
    # round 6: tile-pyramid spatial rollup (one Expand, one shuffle)
    "agg_spatial_tile_pyramid",
    # round 6: pre-join key-skew diagnostic
    "diag_key_skew_report",
    # round 6: Count-Min sketch (merge exercised in-plan), URL-canonical
    # dedup, seasonal decomposition, label-propagation communities, and
    # the exactly-balanced k-fold CV assignment
    "agg_countmin_heavy_hitters",
    "dedup_url_canonical",
    "timeseries_seasonal_decompose",
    "graph_label_propagation",
    "split_kfold_cv",
    # round 7: the BARE LSH production plan, separated from its recall
    # audit so ANN-path regressions are visible (the gated query keeps
    # the audit; this row times only the 100 TB path)
    "similarity_lsh_topk_plan",
    # round 7: journey/survival analytics (KM retention, bitmap-rolling
    # DAU/MAU), the single-shuffle nearest-asof join, the Bloom
    # semi-join reduction, degree-blocked common-neighbors link
    # prediction, and Kneser-Ney bigram smoothing
    "events_kaplan_meier_retention",
    "events_mau_bitmap_rolling",
    "join_asof_nearest",
    "join_bloom_semi_reduction",
    "graph_common_neighbors_linkpred",
    "text_bigram_kneser_ney",
    # round 7 (late): product quantization, exact Pareto prefix sum,
    # corpus-wide n-gram novelty, the MinHash accuracy gate, and M4
    # pixel-exact downsampling
    "vector_pq_quantize",
    "orders_abc_pareto",
    "text_ngram_novelty",
    "dedup_minhash_estimate_error",
    "timeseries_m4_downsample",
    # round 8: MaxSim late-interaction rescorer, KS two-sample (signed
    # global prefix sum), interval concurrency sweep, DAU/WAU stickiness,
    # RAKE keywords, spill-backed HITS, closed-form OLS, cohort LTV
    "similarity_maxsim_multivector",
    "stats_ks_two_sample",
    "events_concurrency_peak",
    "events_stickiness_dau_wau",
    "text_rake_keywords",
    "graph_hits_hubs_authorities",
    "stats_ols_two_feature",
    "orders_cohort_ltv",
    # round 8 (late): unigram Viterbi segmentation (12-spill DP plan),
    # Kleinberg burst DP, priority sampling
    "tokenizer_unigram_viterbi_segment",
    "timeseries_burst_detection_kleinberg",
    "sample_priority_weighted",
    # round 9: the re-blocked Fellegi-Sunter linkage (the round-8 weak
    # item, now data-adaptive), the full unigram-EM loop, the new
    # statistics/eval shelf, the recommender family, and the sparse
    # k-truss cascade — all EXTENDED tier (CORE stays stable)
    "er_fellegi_sunter_linkage",
    "tokenizer_unigram_em",
    "stats_kruskal_wallis",
    "stats_kendall_tau_b",
    "stats_mutual_information",
    "eval_expected_calibration_error",
    "eval_cohens_kappa",
    "recsys_item_item_cosine",
    "rank_bradley_terry_mm",
    "text_pmi_collocations",
    "corpus_heaps_law_fit",
    "graph_ktruss_prune",
    "join_jaro_winkler_topk",
    "timeseries_cusum_changepoint",
    "timeseries_exponential_smoothing",
    "sample_neyman_allocation",
    "text_flesch_reading_ease",
    # round 10: the evaluation/ranking shelf, ML primitives, geo shelf,
    # finance shelf, WordPiece tokenizer, and the zero-decode PNG
    # header parse — all EXTENDED tier (CORE stays stable)
    "eval_roc_auc_exact",
    "eval_ndcg_at_k",
    "ml_tree_split_gini",
    "ml_quantile_normalize",
    "scalar_geohash_encode",
    "join_geo_haversine_radius",
    "finance_bollinger_breakouts",
    "finance_capm_beta",
    "timeseries_holt_linear_dyadic",
    "graph_jaccard_neighbor_linkpred",
    "recsys_covisitation_next_item",
    "tokenizer_wordpiece_greedy",
    "multimodal_png_header_meta",
    "corpus_length_kl_by_source",
    # round 11: EXACT substring dedup (Lee et al. ExactSubstr semantics,
    # hash+verify — closes the round-10 verdict's top item); real
    # baseline JPEG decode under the oracle gate
    "dedup_exact_substring",
    "multimodal_jpeg_decode_stats",
    # round 11: ANN method-selection report (audit-class query like
    # similarity_lsh_topk — runs 3 methods + exact ground truth)
    "similarity_ann_method_report",
    # round 11 batch 2: codec shelf (G.711/ADPCM/MP3/GIF/BMP), the
    # AP/MCC/Gini/Wilcoxon/PCA analytics shelf, bounded-BFS closeness +
    # modularity, Sharpe/Sortino, band-limited DTW, Aho-Corasick
    # blocklist, winnowing fingerprints, QUALIFY front door
    "multimodal_g711_decode_energy",
    "multimodal_adpcm_decode_energy",
    "multimodal_mp3_frame_header",
    "multimodal_gif_header_meta",
    "multimodal_bmp_decode_stats",
    "eval_average_precision",
    "eval_matthews_corrcoef",
    "stats_gini_coefficient",
    "stats_wilcoxon_signed_rank",
    "ml_pca_two_feature",
    "timeseries_dtw_band_distance",
    "graph_closeness_centrality_bfs",
    "graph_modularity_score",
    "finance_sharpe_sortino",
    "text_aho_corasick_blocklist",
    "text_winnowing_fingerprint",
    "sql_qualify_front_door",
    # round 11 batch 3: indexed-color PNG, Krippendorff alpha, one-step
    # logistic IRLS, JL sign projection
    "multimodal_png_palette_decode",
    "eval_krippendorff_alpha_nominal",
    "ml_logistic_newton_step",
    "vector_jl_projection_distortion",
    # round 11 batch 4: compressed audio in a real WAV container;
    # winnowing fingerprints as dedup candidate generator
    "multimodal_wav_adpcm_decode",
    "dedup_winnowing_candidates",
    # round 11 batch 5: Hurst R/S ladder, Theil inequality decomposition
    "timeseries_hurst_rs_ladder",
    "stats_theil_inequality",
    "multimodal_tiff_header_meta",
    # round 11 batch 6: injected-trig-table weekly DFT bin; suffix-
    # automaton substring census vs brute-force oracle
    "timeseries_weekly_spectral_energy",
    "text_distinct_substrings_sam",
    # round 12: real 4:2:0 chroma-subsampled JPEG decode (closes the
    # largest remaining codec gate — the layout real-world JPEGs use)
    "multimodal_jpeg_420_decode_stats",
    # round 12 batch 2: full DBSCAN via grid ε-join + large-star/small-
    # star CC; lossless QOI codec; AMS F2 moment sketch; PPJoin
    # positional-filter dedup; Good-Turing smoothing
    "spatial_dbscan_clusters",
    "multimodal_qoi_decode_stats",
    "agg_ams_f2_moment_sketch",
    "dedup_ppjoin_positional",
    "corpus_good_turing_counts",
    # round 12 batch 3: ISO-BMFF container walk (video modality), the
    # exponential-mechanism DP median, Ljung-Box whiteness
    "multimodal_mp4_box_walk",
    "privacy_dp_median_exponential",
    "stats_ljung_box_whiteness",
    # round 12 batch 4: SimHash with an engine-portable hash family,
    # fully oracle-replayed (certifies the xxhash production twin)
    "dedup_simhash_hamming_paired",
    # round 12 batch 5: Walsh-Hadamard rotation (exact Parseval gate),
    # Gumbel block-maxima extreme-value fit, historical VaR/CVaR
    "vector_hadamard_rotation_parseval",
    "stats_gumbel_block_maxima",
    "finance_var_cvar_historical",
    # round 12 batch 6: isotonic calibration (PAV minimax identity) and
    # group-conditional split-conformal intervals
    "ml_isotonic_calibration_pav",
    "ml_conformal_split_interval",
    # round 12 batch 7: Adam7-interlaced PNG (the PNG decoder's last
    # 8-bit gate closed)
    "multimodal_png_adam7_decode",
    # round 12 batch 8: Gaussian-mechanism DP histogram with zCDP
    # accounting; leakage-safe leave-one-out target encoding
    "privacy_dp_histogram_gaussian",
    "ml_target_encoding_loo",
    # round 13: perceptual dHash near-dup over real re-encoded JPEGs;
    # the second-generation streaming shelf joins the bench runtime
    # (stream-stream join + CDC merge through real availableNow runs)
    "multimodal_dhash_near_dup",
    "streaming_stream_stream_join",
    "streaming_cdc_merge_foreachbatch",
    # round 13 batch 2: progressive (SOF2) JPEG decided the IMPLEMENT
    # way — real 2-scan progressive files, DC-scan-only decode
    "multimodal_jpeg_progressive_dc_stats",
    # round 13 batch 3: real GIF LZW decompression (the codec shelf's
    # last zero-decode gap)
    "multimodal_gif_lzw_decode_stats",
    # round 13 batch 4: Hilbert-vs-Morton layout audit (continuity and
    # jump stats realized as data over the full 128x128 grid)
    "layout_hilbert_locality_vs_zorder",
    # round 13 batch 5: deterministic RANSAC consensus line fit (zero
    # fact-table shuffles: TakeOrdered pool + two broadcast scan passes)
    "ml_ransac_line_fit",
    # round 13 batch 5: matrix profile via the STOMP diagonal trick —
    # the quadratic stage is partitioned window sums over diagonals
    "timeseries_matrix_profile",
    # round 13 batch 5: TextRank keywords — exact fixed-point integer
    # PageRank over the vocabulary-grain co-occurrence graph
    "text_textrank_keywords",
    # round 13 batch 6: SymSpell — fuzzy lookup as an exact equi-join
    # on the vocabulary-grain deletion index, Levenshtein-verified
    "text_symspell_correction",
    # round 13 batch 6: seeded Brandes betweenness — exact sigma counts
    # + e6 fixed-point dependency accumulation, |S|*|E|-bounded
    "graph_betweenness_seeded",
    # round 13 batch 7: 2-D skyline via value-domain suffix minima;
    # Huber IRLS step with exact e6 integer weights
    "sort_skyline_pareto_2d",
    "ml_huber_irls_step",
    # round 13 batch 7: chat context-window packing — system turn +
    # longest tail suffix within budget, all conversation-partitioned
    "llm_context_window_pack",
    # round 14: typed-state streaming joins the every-round runtime
    # exercise (round-13 verdict item #7)
    "streaming_typed_state_totals",
    # round 14: FULL successive-approximation progressive JPEG decode
    # (AC refinement scans, EOBn runs, correction bits) pixel-matched
    # in-plan against an independently coded baseline twin
    "multimodal_jpeg_progressive_ac_refine_stats",
    # round 14: pHash/DCT perceptual twin — certifies the perceptual-
    # dedup family on the brightness-shift class via an exact
    # zero-sum-adjusted integer DCT (fully oracle-replayed)
    "multimodal_phash_dct_near_dup",
    # round 14 continuation: the stats5 drift/variance/autoregression
    # shelf — value-grain Brown-Forsythe, calendar-grain Yule-Walker
    # AR(2), Page-Hinkley, and the Haar energy cascade
    "stats_levene_brown_forsythe",
    "timeseries_yule_walker_ar2",
    "timeseries_page_hinkley",
    "timeseries_haar_wavelet_energy",
    # round 14 continuation batch 2: sequential-pattern support over
    # sessions, best-F1 operating point, IVM delta maintenance with
    # in-plan recompute proof, Soundex phonetic blocking
    "events_frequent_subsequences",
    "eval_best_f1_threshold",
    "ops_ivm_join_delta",
    "er_soundex_blocking",
    # round 14 continuation batch 3: per-series sequential operators
    # (integer Kalman recursion, LTTB selection) and the Theil-Sen
    # robust slope — all calendar-grain after one hourly/daily shuffle
    "timeseries_kalman_filter_1d",
    "stats_theil_sen_slope",
    "timeseries_lttb_downsample",
    # round 14 continuation batch 4: dual-tone matched-filter DSP over
    # a real WAV container roundtrip, map-only
    "multimodal_dtmf_tone_detect",
    # round 14 continuation batch 5: hash-seeded random-walk sampling
    # (DeepWalk corpus stage) and chi-square term-class selection
    "graph_seeded_random_walks",
    "text_chi2_feature_selection",
]

#: AUDIT tier (round-13 verdict item #5): certification queries that
#: DELIBERATELY contain exact ground-truth branches next to the
#: production path (brute-force recall sides, estimate-error probes).
#: They are benched every run and recorded in BENCH_DETAIL.json like
#: everything else, but their wall time is reported as a SEPARATE
#: "audit_sec" subtotal and excluded from the headline "value", so the
#: headline number is the production-plan cost the 2x gate measures —
#: the bare production twins (similarity_lsh_topk_plan,
#: dedup_minhash_lsh) remain in CORE/EXTENDED.
AUDIT = [
    "similarity_ann_method_report",
    "similarity_lsh_topk",
    "dedup_minhash_estimate_error",
]


#: Hard budget for the final stdout line — the driver's tail capture is
#: ~2000 chars; stay inside it with margin for the trailing newline.
#: Raised 1500 → 1700 in round 15 to fit the STABLE summary membership
#: below (40 rows at 2-decimal precision ≈ 1560 chars worst-case).
SUMMARY_LINE_BUDGET = 1700

#: STABLE summary membership (round-14 verdict item #3): the rows whose
#: timings appear in the driver-visible one-line JSON. Previously the
#: line carried "the slowest CORE rows that fit", so whenever the slow
#: set shifted, displaced rows vanished from the dict and the driver's
#: drop detection false-fired (3 false "dropped_from_bench" rows in
#: PERF_r14 — all three still ran, flat, in the 218-row sidecar). Fixed
#: membership makes the dict's KEY SET identical round over round: a
#: missing key now really means a dropped query. The list is the union
#: of every row visible in the r14 summary (so PERF_r15 sees no key
#: disappear) — values are rounded to 2 decimals to keep the line well
#: inside the tail-capture budget at any plausible magnitude. The full
#: 218-row record stays in BENCH_DETAIL.json.
SUMMARY_ROWS = [
    "split_leakage_safe",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "graph_pagerank_bipartite",
    "dedup_semantic_semdedup",
    "join_spatial_grid_epsilon",
    "dedup_jaccard_prefix_filter",
    "streaming_cdc_merge_foreachbatch",
    "streaming_typed_state_totals",
    "streaming_stream_stream_join",
    "similarity_lsh_topk_plan",
    "profile_column_summary",
    "search_rrf_hybrid_fusion",
    "similarity_topk_bruteforce",
    "graph_hits_hubs_authorities",
    "contamination_bloom_prefilter",
    "tokenizer_unigram_viterbi_segment",
    "pipeline_corpus_end_to_end",
    "tokenizer_bpe_merges",
    "tpch_q21_suppliers_who_kept_waiting",
    "tpch_q8_national_market_share",
    "sink_sorted_clustered_scan",
    "similarity_maxsim_multivector",
    "tpch_q18_large_volume_customer",
    "streaming_tumbling_availablenow",
    "stats_ks_two_sample",
    "window_session",
    "sort_equidepth_global_rank",
    "tpch_q3_shipping_priority",
    "agg_pricing_summary",
    "vector_pq_quantize",
    "timeseries_kalman_filter_1d",
    "agg_distinct_counts",
    "mix_dsir_importance",
    "flagship_fizzbuzz_agg",
    "pack_bins_best_fit",
    "text_bm25_search",
    "multimodal_wav_decode_energy",
    "sink_jdbc_roundtrip",
    "source_xml_roundtrip",
]

#: Two samples of the same warmed plan disagreeing by more than this
#: ratio is shared-VM interference, not plan cost — take a third.
OUTLIER_RATIO = 3.0

#: Cross-round tiebreak (round-12 verdict item #2): the intra-pair test
#: misses COMMON-MODE interference spanning both samples — three r12
#: queries recorded 2.4-3.2× high vs a matching same-suite run minutes
#: apart. When min-of-N still exceeds the committed prior-round sidecar
#: value by more than this ratio for a query whose exchange pin is
#: unchanged, keep sampling (up to MAX_SAMPLES total).
CROSS_ROUND_RATIO = 2.0
MAX_SAMPLES = 4
#: ...but never for sub-second noise: a 0.2s query reading 0.5s is
#: scheduler jitter, not interference worth two more runs.
CROSS_ROUND_MIN_SEC = 1.0


def sample_query(
    run_once,
    outlier_ratio: float = OUTLIER_RATIO,
    prior_best: float | None = None,
    cross_ratio: float = CROSS_ROUND_RATIO,
    max_samples: int = MAX_SAMPLES,
    first_appearance: bool = False,
):
    """Time one query: two base samples, plus a third whenever the two
    disagree by more than ``outlier_ratio`` (round-11 verdict item #3 —
    interference on this shared VM can outlast min-of-2; BENCH_r11
    carried a 14× artifact on a byte-identical plan), plus further
    samples while min-of-N exceeds ``cross_ratio`` × the prior round's
    committed value for the same (pin-unchanged) plan (round-12 verdict
    item #2 — common-mode interference can span both base samples).

    ``first_appearance`` (round-13 verdict item #1): a query with NO
    usable prior anywhere — absent from the prior round's sidecar AND
    from this round's committed sidecar — gets a MANDATORY third
    sample when its first two agree above the sub-second floor. The
    r13 record showed the hole live: 14 first-appearance rows drew
    common-mode interference that inflated both base samples together
    (layout_hilbert drew 15.9 s then 6.1 s and stopped), and with no
    prior the cross-round loop could never fire.

    Returns ``(best, samples)`` so the official record keeps every raw
    timing and self-identifies which rows needed which tiebreak."""
    samples = [run_once(), run_once()]
    if max(samples) > outlier_ratio * min(samples):
        samples.append(run_once())
    if (
        first_appearance
        and prior_best is None
        and len(samples) == 2
        and min(samples) > CROSS_ROUND_MIN_SEC
    ):
        samples.append(run_once())
    while (
        prior_best is not None
        and len(samples) < max_samples
        and min(samples) > cross_ratio * prior_best
        and min(samples) > CROSS_ROUND_MIN_SEC
    ):
        samples.append(run_once())
    return min(samples), samples


def load_prior_detail(repo_dir: str) -> dict:
    """The PREVIOUS round's committed detail sidecar (baseline for the
    cross-round tiebreak); {} in round 1 or a bare checkout."""
    path = os.path.join(
        repo_dir, f"BENCH_DETAIL_r{current_round(repo_dir) - 1:02d}.json"
    )
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def load_committed_detail(repo_dir: str) -> dict:
    """THIS round's COMMITTED detail sidecar, read from git HEAD —
    NOT the working tree (round-13 verdict item #1). The builder
    commits its own same-harness run as BENCH_DETAIL_r{N}.json before
    the driver ever benches round N, so a query that is new this round
    (absent from r{N-1}'s sidecar) usually still has a clean committed
    baseline from minutes earlier; git HEAD is authoritative because
    the driver's own run overwrites the working-tree copy. {} when
    there is no commit yet, no git, or no such file at HEAD."""
    import subprocess

    name = f"BENCH_DETAIL_r{current_round(repo_dir):02d}.json"
    try:
        out = subprocess.run(
            ["git", "-C", repo_dir, "show", f"HEAD:{name}"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        if out.returncode != 0:
            return {}
        return json.loads(out.stdout)
    except (OSError, ValueError, subprocess.SubprocessError):
        return {}


def current_pins(repo_dir: str) -> dict:
    """The live exchange pins (tests/test_plan_guard.py's
    BENCH_EXCHANGE_PINS literal), parsed with ast — no test-module
    import at bench time. Recorded in the detail sidecar so the NEXT
    round can tell 'plan changed on purpose' (pin differs → a slower
    time may be real, no tiebreak) from 'same plan, suspicious time'
    (pin equal → keep sampling). Values normalized to lists to match
    the JSON round-trip."""
    import ast
    import re

    path = os.path.join(repo_dir, "tests", "test_plan_guard.py")
    try:
        src = open(path).read()
    except OSError:
        return {}
    m = re.search(r"^BENCH_EXCHANGE_PINS\s*=\s*(\{.*?\n\})", src, re.M | re.S)
    if not m:
        return {}
    try:
        return {k: list(v) for k, v in ast.literal_eval(m.group(1)).items()}
    except (ValueError, SyntaxError):
        return {}


def current_round(repo_dir: str) -> int:
    """Infer the CURRENT round number from the driver's own artifacts:
    the driver writes BENCH_r{N}.json at the END of round N, so while
    round N is running the newest bench file on disk is r{N-1}. Falls
    back to 1 in a bare checkout. Used to name the per-round detail
    sidecar (round-10 verdict item #3: BENCH_DETAIL.json was
    overwritten each round, making round-over-round per-query deltas
    uncomputable)."""
    import re

    best = 0
    for fn in os.listdir(repo_dir):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", fn)
        if m:
            best = max(best, int(m.group(1)))
    return best + 1


def detail_sidecar_paths(repo_dir: str) -> list[str]:
    """Both detail outputs: the stable name (driver contract, always
    current round) and the per-round archive name."""
    return [
        os.path.join(repo_dir, "BENCH_DETAIL.json"),
        os.path.join(repo_dir, f"BENCH_DETAIL_r{current_round(repo_dir):02d}.json"),
    ]


def summary_line(timings: dict[str, float], sf_val, core=None, audit=None) -> str:
    """The ONE compact JSON line bench.py prints last on stdout.

    Keeps the driver contract's shape (metric/value/unit/queries/sf).
    The visible "queries" dict has STABLE membership — the fixed
    SUMMARY_ROWS list, 2-decimal values — so its key set is identical
    round over round and the driver's drop detection can never false-
    fire on a displaced row (round-14 verdict item #3: 3 rows that ran,
    flat, read as "dropped_from_bench" because the slowest-that-fit
    packing displaced them). "n_queries" is the count of timed rows.
    The EXTENDED tier still counts toward "value" and "n_queries" and
    lives in BENCH_DETAIL.json next to this script. When ``audit`` is
    given (round-13 verdict item #5), those
    certification queries are subtotaled SEPARATELY as "audit_sec" and
    excluded from "value": they deliberately carry exact ground-truth
    branches, so their cost is certification overhead, not the
    production-plan cost the headline measures. A budget guard remains
    as a safety valve: if the line ever outgrows SUMMARY_LINE_BUDGET,
    the FASTEST visible rows are trimmed (deterministically) — never
    expected with the fixed 40-row set."""
    audit_set = set(audit or ()) & set(timings)
    audit_sec = round(sum(timings[q] for q in audit_set), 3)
    total = round(sum(timings.values()) - audit_sec, 3)
    base = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "detail": "BENCH_DETAIL.json",
        "queries": {},
    }
    if audit_set:
        base["audit_sec"] = audit_sec
        base["n_audit"] = len(audit_set)
    if core is None:
        # no tier policy (test/ad-hoc use): slowest-first greedy packing
        # at full precision, as before round 15
        slowest = sorted(timings.items(), key=lambda kv: -kv[1])
        for name, sec in slowest:
            candidate = dict(base)
            candidate["queries"] = {**base["queries"], name: sec}
            if len(json.dumps(candidate)) > SUMMARY_LINE_BUDGET:
                break
            base = candidate
        return json.dumps(base)
    members = [q for q in SUMMARY_ROWS if q in timings]
    base["queries"] = {q: round(timings[q], 2) for q in members}
    while members and len(json.dumps(base)) > SUMMARY_LINE_BUDGET:
        members.remove(min(members, key=lambda k: timings[k]))
        base["queries"] = {q: round(timings[q], 2) for q in members}
    return json.dumps(base)


def parse_args(argv=None) -> None:
    """Argparse guard (round-12 verdict item #2): ``bench.py --help``
    must print usage and exit instead of starting a multi-minute
    benchmark run. The benchmark itself takes NO positional arguments —
    configuration stays on the env vars the driver contract names."""
    import argparse

    ap = argparse.ArgumentParser(
        prog="bench.py",
        description=(
            "Run the blow_spark headline benchmark suite and print ONE "
            "summary JSON line (full per-query record in "
            "BENCH_DETAIL.json)."
        ),
        epilog=(
            "Configuration via environment: SPARK_GRAFT_SF_DIR "
            "(default /root/testdata/sf0.1) selects the parquet scale "
            "factor dir; SPARK_GRAFT_CPUS sizes local[N]."
        ),
    )
    ap.parse_args(argv)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    from blow_spark import get_spark
    from blow_spark.queries import queries

    spark = get_spark(app_name="blow_spark_bench")
    catalog = queries()

    # warm the JVM/codegen path once so per-query numbers measure the
    # plans, not session bootstrap
    catalog["flagship_fizzbuzz_agg"](spark, sf_dir).write.mode("overwrite").format("noop").save()

    repo_dir_early = os.path.dirname(os.path.abspath(__file__))
    prior = load_prior_detail(repo_dir_early)
    # a prior record at a DIFFERENT scale factor is no baseline at all
    prior_queries = prior.get("queries", {}) if prior.get("sf") == sf_val else {}
    prior_pins = prior.get("pins", {})
    # round-13 verdict item #1: queries NEW this round have no prior-
    # round row, so the cross-round tiebreak was blind exactly where
    # first-exposure interference hits. Fall back to THIS round's
    # committed sidecar (the builder's same-harness run at git HEAD).
    committed = load_committed_detail(repo_dir_early)
    committed_queries = (
        committed.get("queries", {}) if committed.get("sf") == sf_val else {}
    )
    committed_pins = committed.get("pins", {})
    pins = current_pins(repo_dir_early)

    timings: dict[str, float] = {}
    raw_samples: dict[str, list[float]] = {}
    for name in HEADLINE:

        def run_once(name=name):
            t0 = time.perf_counter()
            catalog[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            elapsed = time.perf_counter() - t0
            spark.catalog.clearCache()
            # Outside the timed region (round 14): drop py4j proxies so
            # the ContextCleaner can reclaim earlier queries'
            # localCheckpoint RDDs and broadcasts — without this, session
            # garbage accumulates and LATER queries' samples measure the
            # interference, not their plans (scripts/profile_query.py
            # documents the measured effect: pagerank 7 → 17 s across 4
            # runs without the collect, flat ~5.5-6 s with it). Purely
            # measurement hygiene: nothing about the timed computation
            # changes, and the collect cost lands after `elapsed`.
            gc.collect()
            # Round-15 (round-14 verdict item #4): dropping the py4j
            # proxies triggers ASYNCHRONOUS ContextCleaner unpersists on
            # the JVM side; without a settle those can land inside the
            # NEXT sample's timed window. A short fixed settle (outside
            # the timed region) lets the cleaner drain its (tiny-block)
            # queue before the next t0.
            time.sleep(0.05)
            return elapsed

        # cross-round baseline applies only when the plan is plausibly
        # the same one the prior round timed: pin recorded then and
        # equal now — or the prior sidecar predates the "pins" field
        # entirely (bootstrap: an extra sample on a genuinely-changed
        # plan costs seconds; a 2× interference artifact in the
        # official record costs a round of false regression analysis).
        prior_best = prior_queries.get(name)
        pin_ok = name in pins and (
            not prior_pins or prior_pins.get(name) == pins[name]
        )
        if not pin_ok:
            prior_best = None
        if prior_best is None:
            # same-round committed fallback (round-13 verdict item #1):
            # usable under the same plausibly-same-plan rule, vs the
            # pins recorded in the committed sidecar
            cb = committed_queries.get(name)
            cb_pin_ok = name in pins and (
                not committed_pins or committed_pins.get(name) == pins[name]
            )
            if cb is not None and cb_pin_ok:
                prior_best = cb
        best, samples = sample_query(
            run_once,
            prior_best=prior_best,
            # genuinely no baseline anywhere -> mandatory third sample
            first_appearance=(
                name not in prior_queries and name not in committed_queries
            ),
        )
        timings[name] = round(best, 3)
        raw_samples[name] = [round(s, 3) for s in samples]

    audit_sec = round(sum(timings[q] for q in AUDIT if q in timings), 3)
    total = round(sum(timings.values()) - audit_sec, 3)
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    detail = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "audit_sec": audit_sec,
        "queries": timings,
        "samples": raw_samples,
        "pins": pins,
        "outlier_ratio": OUTLIER_RATIO,
        "cross_round_ratio": CROSS_ROUND_RATIO,
        "sf": sf_val,
        "round": current_round(repo_dir),
        "core_tier": [q for q in CORE if q in timings],
        "audit_tier": [q for q in AUDIT if q in timings],
    }
    for detail_path in detail_sidecar_paths(repo_dir):
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    print(summary_line(timings, sf_val, core=CORE, audit=AUDIT))
    spark.stop()


if __name__ == "__main__":
    parse_args()
    main()
