"""Catalog-wide global-window guard (round-3 verdict item #8).

Every registered batch query's physical plan is scanned for the
100 TB scale-killer shape `Window <- [Sort <-] Exchange SinglePartition`
(an empty-PARTITION-BY window serializing its whole input through one
task). The flagged set must EXACTLY equal the documented whitelist —
new global windows fail this test, and so does an unexplained
disappearance of a whitelisted one (keeps the whitelist honest).

Runtime-tagged (streaming) queries are excluded: calling them executes
a full stream; their plans are window-free micro-batch pipelines pinned
by their own tests.
"""

from __future__ import annotations

import pytest
from conftest import SF_SMALL
from plan_guard import exchange_counts, physical_plan, single_partition_windows

from blow_spark.queries import REGISTRY, queries


@pytest.fixture(scope="module")
def plans(spark) -> dict[str, str]:
    """Physical-plan text of every non-runtime query at sf0.001, built
    once for both walks below: a build runs the query's eager spill and
    checkpoint jobs, so each rebuild would repeat them."""
    qs = queries()
    return {
        n: physical_plan(qs[n](spark, SF_SMALL))
        for n in sorted(REGISTRY)
        if "runtime" not in REGISTRY[n].tags
    }


# Pinned-small branches: each is the per-PARTITION offsets table of the
# two-phase exact global rank (ops.global_row_number and its inline twin
# in sort_equidepth_global_rank / curriculum_length_buckets). That table
# has ONE ROW PER RANGE PARTITION (~32 at any data size — it scales with
# cluster width, not data), so its running-sum window is a constant-size
# single task by construction.
WHITELIST = {
    "corpus_encode_tokens": 1,       # vocab id offsets (via global_row_number)
    "curriculum_length_buckets": 1,  # quartile rank offsets
    "sort_equidepth_global_rank": 1, # equi-depth histogram rank offsets
    "tokenizer_vocab_build": 1,      # vocab id offsets
    "sample_negative_pairs": 2,      # ring-position offsets (global_row_number);
                                     # the ranked table is referenced twice
                                     # (anchor + probe side), duplicating the
                                     # constant-size offsets branch in the plan
    "score_quantile_calibration": 1, # global order-statistic offsets (same)
    "split_kfold_cv": 1,             # fold-assignment rank offsets (same)
    # Calendar-bounded branch: the Kaplan-Meier cumulative windows run on
    # the day-level lifetime table — ONE ROW PER DISTINCT LIFETIME DAY
    # (bounded by the observation span, ~30 here, ~10^3 at a decade),
    # AFTER the user-keyed aggregate reduced the corpus. Same constant-
    # size justification as the offsets tables above.
    "events_kaplan_meier_retention": 1,
    "events_time_to_convert": 1,     # percentile rank offsets (global_row_number)
    "corpus_zipf_exponent": 1,       # vocab rank offsets (global_row_number)
    # Calendar-bounded: cumulative acquisition over the MONTH-level
    # rollup (one row per calendar month — same class as the KM days)
    "orders_new_customers_curve": 1,
    "orders_abc_pareto": 1,          # prefix-sum offsets (global_running_sum —
                                     # one row per range partition, same shape)
    "agg_weighted_median_exact": 1,  # prefix-sum offsets (global_running_sum)
    "sample_systematic_every_kth": 1,  # rank offsets (global_row_number)
    "stats_kruskal_wallis": 2,       # prefix-sum offsets (global_running_sum);
                                     # the value-grain rank table is consumed
                                     # by two branches, duplicating the
                                     # constant-size offsets window in the plan
    "corpus_heaps_law_fit": 2,       # prefix-sum offsets ×2 (cumulative token
                                     # and cumulative vocab counts — one
                                     # global_running_sum each, both constant-
                                     # size one-row-per-partition branches)
    # Calendar-bounded: the CUSUM prefix/running-min windows run on the
    # zero-filled DAY series — one row per day of the observation span
    # (same class as the Kaplan-Meier days above)
    "timeseries_cusum_changepoint": 1,
    "agg_gini_concentration": 1,     # rank offsets (global_row_number)
    # Domain-bounded branch (round 8): each window runs AFTER a keyed
    # aggregate reduced the corpus to a bounded-label-domain table —
    # 5×5 contingency cells, ≤50 distinct quantity values, 25 brands.
    # Same constant-size justification as the KM day table above.
    "stats_chi_square_independence": 1,  # grand-total window over 25 cells
    "stats_mann_whitney_u": 1,           # cumulative window over ≤50 values
    "stats_benjamini_hochberg": 1,       # rank + max-k windows over 25 brands
    # Round-8 prefix-sum offsets (global_running_sum — one row per range
    # partition, same constant-size shape as orders_abc_pareto above).
    "stats_ks_two_sample": 1,            # signed ECDF-gap prefix sum
    "stats_spearman_rank_corr": 2,       # one per rank axis (x and y)
    "events_concurrency_peak": 2,        # sweep offsets; run table feeds
                                         # both the peak agg and the join
                                         # branch, duplicating the
                                         # constant-size offsets subtree
    # Calendar-bounded: the mSPRT cumulative (S, V) windows run on the
    # DAY-grain aggregate (same class as the CUSUM/KM day tables).
    "experiment_msprt_sequential": 1,
    # Type-vocabulary-bounded: the randomized-response type-index
    # row_number runs over the DISTINCT event types (k ≈ 5 rows);
    # referenced by both the true-type and reported-type branches.
    "privacy_randomized_response_freq": 2,
    # Round-10 domain-bounded branches (same class as the
    # stats_mann_whitney_u / stats_chi_square_independence entries):
    "eval_roc_auc_exact": 1,        # cumulative window over the n_chars
                                    # value domain (≤ ~550 rows at any N)
    "eval_confusion_prf_macro": 1,  # macro-F1 window over 5 class rows
    "stats_cramers_v": 1,           # grand-total window over ≤25 cells
    "ml_tree_split_gini": 1,        # prefix sums over the n_chars value
                                    # domain (histogram-algorithm grain)
    # (ml_quantile_normalize's domain-bounded cumulative window lives
    # inside its spilled rank-interval map, so the returned plan is
    # window-free — same convention as the other spill-backed queries)
    # Calendar-bounded: the market-return LAG runs over the DAY-grain
    # market series (one row per calendar day — same class as the
    # CUSUM/Kaplan-Meier day tables above).
    "finance_capm_beta": 1,
}


def test_no_unwhitelisted_single_partition_windows(plans):
    flagged: dict[str, int] = {}
    for n, plan in plans.items():
        hits = single_partition_windows(plan)
        if hits:
            flagged[n] = len(hits)
    assert flagged == WHITELIST, (
        f"single-partition window set drifted.\n"
        f"  new offenders: { {k: v for k, v in flagged.items() if k not in WHITELIST} }\n"
        f"  missing whitelisted: { {k: v for k, v in WHITELIST.items() if k not in flagged} }\n"
        f"  count changes: { {k: (WHITELIST[k], flagged[k]) for k in WHITELIST if k in flagged and flagged[k] != WHITELIST[k]} }"
    )


# --------------------------------------------------------------------------
# Shuffle-budget pin for every headline-bench query (round-5 verdict #4)
# --------------------------------------------------------------------------
#
# (n_shuffle_exchanges, n_broadcast_exchanges) of each bench query's
# physical plan at sf0.001 under the pytest session (shuffle_partitions=8;
# Exchange COUNTS are partition-count-independent). A plan regression —
# a lost broadcast (+1 shuffle / -1 broadcast), a doubled shuffle, a
# dropped reuse turning into a fresh exchange — fails this test with a
# diff instead of surfacing as unattributed bench noise. ReusedExchange
# nodes are deliberately not counted (see plan_guard.exchange_counts).
#
# Reading notes for the eyebrow-raisers:
# - tokenizer_bpe_merges (0, 0) since r14: six data-dependent merge
#   rounds run as checkpoint_small-materialized per-round jobs; the
#   RETURNED plan is six one-row checkpoint scans unioned (pre-r14 the
#   rounds unrolled lazily into one 63-Exchange plan).
# - similarity_lsh_topk (10, 6): includes the 50-query brute-force recall
#   AUDIT side added in round 5, not just the production ANN path.
# - spill-backed queries (dedup_minhash_lsh, dedup_embedding_clusters,
#   dedup_span_excise, sink roundtrips) return a scan over materialized
#   output, so their returned-plan counts are low by design — their
#   internal shuffles are pinned by their own operator tests.
BENCH_EXCHANGE_PINS = {
    "flagship_fizzbuzz_agg": (1, 0),
    "agg_pricing_summary": (1, 0),
    "agg_distinct_counts": (2, 0),
    "join_inner": (1, 1),
    "join_left_outer": (1, 1),
    "join_asof": (1, 1),
    "tpch_q3_shipping_priority": (1, 2),
    "tpch_q5_local_supplier_volume": (1, 5),
    "tpch_q18_large_volume_customer": (2, 3),
    "window_ranking": (1, 0),
    "topk_per_group": (1, 0),
    "sort_limit_topk": (0, 0),
    "window_tumbling": (1, 0),
    "window_session": (1, 0),
    "explode_tokens": (1, 0),
    "dedup_exact": (1, 0),
    # r14: +1 shuffle = _spread of the spilled candidate scan before
    # the verify join (single-split fix, dedup._verify_and_release)
    "dedup_minhash_lsh": (0, 2),
    # one exact scorer: MapInPandas over the corpus scan + the rank
    # window's shuffle (the posexplode broadcast join + aggregate is gone)
    "similarity_topk_bruteforce": (1, 0),
    "tpch_q8_national_market_share": (2, 7),
    "tpch_q21_suppliers_who_kept_waiting": (4, 3),
    "split_train_val_test": (3, 0),
    "pack_token_stream_chunks": (2, 0),
    "cdc_latest_state_by_key": (2, 0),
    "sql_nation_monthly_rank": (3, 3),
    "pipeline_corpus_end_to_end": (3, 1),
    "text_bm25_search": (7, 3),
    "agg_hll_sketch_union": (2, 0),
    "window_time_range_frame": (1, 0),
    "text_html_strip": (0, 0),
    "join_salted_skew": (1, 1),
    "source_python_datasource": (1, 0),
    "window_distinct_count_trick": (1, 0),
    "multimodal_frame_sample": (0, 0),
    "graph_pagerank_bipartite": (1, 0),
    "dedup_embedding_clusters": (0, 0),
    "sink_merge_upsert_roundtrip": (0, 0),
    # streaming_tumbling_availablenow: runtime-tagged (excluded below)
    # r15: the 50-query exact AUDIT side rides the vectorized GEMM
    # scorer (mapInPandas + window) instead of the posexplode broadcast
    # join + hash aggregate — 4 shuffles and 1 broadcast fewer
    "similarity_lsh_topk": (6, 5),
    # the bare production ANN plan (no audit): band-bucket self-join
    # (1 shuffle on (band, chunk) + 1 for the top-k window) + broadcast
    # re-score sides — the row that makes ANN regressions visible
    "similarity_lsh_topk_plan": (2, 3),
    "multimodal_wav_decode_energy": (0, 0),
    "sink_jdbc_roundtrip": (0, 0),
    "timeseries_interpolate_linear": (2, 1),
    "dq_quarantine_split": (1, 0),
    "similarity_knn_classify": (3, 2),
    # r15: the verify-candidate _spread is VOLUME-sized (one partition
    # per 16k pairs, round-14 verdict item #1) — at sf0.001 the candidate
    # set is under one chunk, so the round-robin exchange disappears
    # (it reappears at volumes that warrant it, e.g. sf0.1)
    "dedup_jaccard_prefix_filter": (0, 2),
    "contamination_bloom_prefilter": (7, 2),
    "profile_column_summary": (2, 0),
    # r14: the 6 BPE rounds are checkpoint_small-materialized — the
    # returned plan is 6 one-row checkpoint scans unioned (was a 63-
    # Exchange lazy chain re-planning every round's history)
    "tokenizer_bpe_merges": (0, 0),
    "sort_equidepth_global_rank": (3, 1),
    "window_session_max_duration": (1, 0),
    "vector_power_iteration_step": (2, 1),
    "curriculum_length_buckets": (4, 1),
    "tokenizer_vocab_build": (2, 1),
    "dedup_incremental_minhash": (1, 4),
    "dedup_span_excise": (0, 0),
    # round 5 additions
    "text_quality_classifier": (1, 1),
    "mix_dsir_importance": (7, 4),
    "pack_bins_best_fit": (3, 1),
    # 7 shuffles are the semdedup pipeline (cid self-join, CC, per-label
    # agg); 11 broadcasts are the small verification/decision sides
    # (spilled pair-score scan joined thrice + 1-row proof aggregates)
    # r15: fused Lloyd assign+centroid pass (one map-only corpus scan
    # per iteration, partial sums; no vid join) and the final assignment
    # spilled once for its three consumers: -2 shuffles, +1 broadcast
    "dedup_semantic_semdedup": (5, 12),
    # pure map plan: hash → inverse-CDF CASE → explode; zero exchanges
    "sample_poisson_bootstrap": (0, 0),
    # r14: trainer rounds checkpointed (see tokenizer_bpe_merges); the
    # returned plan is the corpus encode join + per-doc aggregate only
    "corpus_bpe_encode": (1, 1),
    # round 6 additions
    # r15: dense arm rides the GEMM scorer (see similarity_lsh_topk)
    "search_rrf_hybrid_fusion": (3, 3),
    # localCheckpoint per greedy step truncates the returned lineage
    # (spill-backed-style low count); the per-step exchanges are pinned
    # by tests/test_retrieval.py
    "search_mmr_rerank": (0, 0),
    # r15: dense arm rides the GEMM scorer (see similarity_lsh_topk)
    "rag_context_pack": (1, 1),
    # recursive CTE: the date-keyed left join + the bounds aggregate,
    # broadcasts of the 90-row spine and the 1-row bounds; the
    # recursion loop materializes outside the exchange tree
    "sql_recursive_cte_front_door": (2, 2),
    "source_xml_roundtrip": (1, 0),
    "pipeline_filter_attrition": (1, 0),
    # user-keyed pair join + final (channel, campaign) agg; conversions
    # broadcast against touches
    "events_attribution_multitouch": (2, 1),
    # per-user agg + two downstream aggs + AQE coalesce; 1-row pooled
    # moments broadcast
    "experiment_cuped_readout": (4, 1),
    # returned plan scans the materialized sorted layout (the range
    # repartition happens on the write side); footer non-overlap is
    # pinned in tests/test_plans.py
    "sink_sorted_clustered_scan": (1, 0),
    # per-user agg → replica agg → B-row percentile agg + point branch;
    # 1-row point estimate broadcast
    "experiment_bootstrap_uplift_ci": (5, 1),
    # distinct names + bigram-bucket self-join + candidate dedup; the
    # small count tables broadcast (2 explicit + 2 optimizer-chosen)
    "join_fuzzy_levenshtein_block": (7, 4),
    # the returned plan is the census over the assignment: the CC labels
    # are materialized (localCheckpoint) during build, truncating the
    # pair-pipeline lineage; canon-split / leak-count sides broadcast
    # +1 shuffle vs r6: the canon_split broadcast side is now semi-joined
    # down to real dup-cluster canonicals (one distinct over component ids)
    # so the broadcast is pair-density-bounded, never corpus-sized (r6
    # verdict item #1). The extra small shuffle buys the bounded broadcast.
    "split_leakage_safe": (6, 5),
    # build side (9× cell-neighborhood explode of the small table)
    # broadcasts; the only shuffle is the per-probe nearest window
    "join_spatial_grid_epsilon": (1, 1),
    # one keyed-window shuffle (series key); frame state is constant-size
    "timeseries_rolling_mad_anomaly": (1, 0),
    # one distinct-users shuffle + the 1-row wide aggregate (both rules
    # counted in a single pass, stack-unpivoted)
    "experiment_srm_check": (2, 0),
    # one scan per table: the two FK LEFT joins broadcast the flagged
    # key sets; each audit row is a 1-row conditional aggregate
    "privacy_erasure_cascade": (3, 3),
    # deliberately two-path (sharded-merge + direct twin, the merge
    # PROOF): 3 bitmap aggregates + 3 count rollups + parts census;
    # group-level count tables broadcast for the final join
    "agg_bitmap_exact_distinct": (7, 2),
    # three-level ROLLUP = one Expand feeding one hash aggregate
    "agg_spatial_tile_pyramid": (1, 0),
    # per-key count shuffle + the 1-row stats/top-1 reductions; the
    # hottest-key single row broadcasts into the report cross join
    "diag_key_skew_report": (3, 1),
    # half-sketch agg + merge agg + distinct-keys probe; the d×w merged
    # counter matrix broadcasts into the probe join
    "agg_countmin_heavy_hitters": (3, 1),
    # canonical-key hash agg with COUNT(DISTINCT raw) → two-phase Expand
    "dedup_url_canonical": (2, 0),
    # (type, day) daily agg + per-type series window + seasonal agg +
    # final keyed join; the types×7 seasonal table broadcasts
    "timeseries_seasonal_decompose": (4, 1),
    # returned plan is the histogram over the final localCheckpoint'd
    # label table (per-round lineage truncated, like search_mmr_rerank);
    # the per-round join/argmax exchanges run during build
    "graph_label_propagation": (1, 0),
    # range-repartition rank (spilled) + offsets broadcast + final agg
    "split_kfold_cv": (2, 1),
    # user-lifetime agg + day agg + calendar-bounded cumulative window
    # + the 1-row n_total broadcast (whitelisted single-partition)
    "events_kaplan_meier_retention": (5, 1),
    # (day,bucket) bitmap agg + days/buckets distincts + dense left
    # join; the tiny days×buckets frame broadcasts twice
    "events_mau_bitmap_rolling": (5, 2),
    # BOTH asof directions out of one union+window pass: one shuffle
    "join_asof_nearest": (1, 0),
    # dim bit-position agg + 1-row bloom densify + month rollup; the
    # bloom array and the exact-confirm dim side broadcast
    "join_bloom_semi_reduction": (3, 2),
    # returned plan scans the SPILLED edge table (derived once —
    # measured 4 lineitem scans / 4x wall without it); degree cut +
    # pair self-join + top-50, part-keyed sides broadcast at this SF
    "graph_common_neighbors_linkpred": (3, 3),
    # tokenize window + bigram count + 3 stat re-aggregates + top-100
    # joins (stat sides broadcast) + 1-row T
    "text_bigram_kneser_ney": (11, 3),
    # codebook broadcast + (vec,sub,code) partial-agg shuffle + argmin
    # + per-vec fold
    "vector_pq_quantize": (3, 1),
    # part revenue agg + two-phase prefix sum (range repartition +
    # offsets broadcast) + 1-row total broadcast + class rollup
    "orders_abc_pareto": (5, 2),
    # shingle explode + gram-min agg + join back + per-doc agg; the
    # first-seen side broadcasts at this SF
    "text_ngram_novelty": (2, 1),
    # exact-Jaccard candidate path (blocked self-join) + two signature
    # joins (signature sides broadcast at this SF) + 1-row proof agg
    # r15: volume-sized verify _spread; sub-chunk at sf0.001 (see
    # dedup_jaccard_prefix_filter)
    "dedup_minhash_estimate_error": (5, 4),
    # 1-row bounds broadcast + one (series,bucket)-keyed shuffle
    "timeseries_m4_downsample": (2, 1),
    # round 8 pins
    # broadcast query chunks + two keyed aggregates + top-3 window
    "similarity_maxsim_multivector": (3, 3),
    # user-keyed metric, value-grain counts, two-phase prefix sum
    "stats_ks_two_sample": (3, 1),
    # spans agg reused by points/count branches; two-phase signed sweep
    "events_concurrency_peak": (8, 4),
    # user-day distinct, 7x expansion distinct, day-keyed join
    "events_stickiness_dau_wau": (6, 1),
    # token explode -> islands window -> phrase/word keyed aggregates
    "text_rake_keywords": (7, 3),
    # spill-backed (edges/auth/hub each materialize once; see docstring)
    "graph_hits_hubs_authorities": (2, 2),
    # ONE map-side-combined moment aggregate; closed form after
    "stats_ols_two_feature": (1, 0),
    # cohort aggregate + fact join + bounded per-cohort window
    "orders_cohort_ltv": (6, 2),
    # round-14 optimization: the 12-step spill-backed DP became ONE
    # plan — a broadcast piece-cost join + a word-keyed map aggregate
    # feeding a single higher-order DP expression, so the formerly
    # spill-hidden shuffle now shows in the returned plan (1 word
    # aggregate; broadcasts: pos table, pcost, wf re-join)
    "tokenizer_unigram_viterbi_segment": (1, 3),
    # day-keyed count + applyInPandas DP over one bounded group
    "timeseries_burst_detection_kleinberg": (3, 0),
    # map-side keying + k+1 TakeOrdered head + 1-row broadcasts
    "sample_priority_weighted": (0, 2),
    # round 9 pins
    # spilled blocked rows (blocking subtree runs once); self-join +
    # distinct + u/pattern aggregates; 25-row stats broadcast
    # r15: the 4-row pattern-count table is checkpoint_small-truncated
    # (2^#fields rows), so the u-estimate and the weighted rows derive
    # from it instead of replaying the blocked self-join subtree — the
    # returned plan keeps only the pattern arithmetic
    "er_fellegi_sunter_linkage": (2, 1),
    # two spill-backed 12-step DP chains + M-step re-estimates
    "tokenizer_unigram_em": (13, 18),
    # spilled value-grain counts + two-phase prefix sum + cell joins
    "stats_kruskal_wallis": (14, 9),
    # month rollup + span-bounded pair join + 1-row aggregate
    "stats_kendall_tau_b": (3, 1),
    # spilled (lang,source) cells; margins/terms are rollups of it
    "stats_mutual_information": (11, 8),
    # map-side hash + 10-bin aggregate + 1-row ECE broadcast
    "eval_expected_calibration_error": (4, 1),
    # ONE map-side-combined confusion-matrix aggregate
    "eval_cohens_kappa": (1, 0),
    # spilled basket; margins broadcast; one order-keyed pair shuffle
    "recsys_item_item_cosine": (3, 3),
    # spilled games/wins/iterates; 25-row broadcasts per MM round
    "rank_bradley_terry_mm": (11, 18),
    # token + bigram keyed counts; 1-row totals broadcast; top-k head
    "text_pmi_collocations": (9, 4),
    # spilled doc-term table + two-phase prefix sums + moment agg
    "corpus_heaps_law_fit": (6, 3),
    # spill-backed edge sets; wedge joins broadcast per round
    "graph_ktruss_prune": (12, 6),
    # first-token blocking + capped sub-blocks + pair UDF + top-k
    "join_jaro_winkler_topk": (6, 3),
    # day count + spilled calendar series + windowed CUSUM pass
    "timeseries_cusum_changepoint": (2, 1),
    # day count + spilled series/smoothed tables; span-bounded joins
    "timeseries_exponential_smoothing": (2, 3),
    # stratum moments + 5-row allocation broadcast + stratum window
    "sample_neyman_allocation": (8, 4),
    # map-only regexp counts, one ORDER BY
    "text_flesch_reading_ease": (1, 0),
    # round 10: value-domain histogram shelves (eval/ML), the geo pair,
    # the finance shelf, and the spill-backed multi-reference plans
    # (covisitation/jaccard/KL/quantile-normalize return scans over
    # their spilled shared frames — internal shuffles are pinned by
    # their oracle + property tests, same convention as dedup_minhash)
    "eval_roc_auc_exact": (2, 0),
    "eval_ndcg_at_k": (2, 0),
    "ml_tree_split_gini": (2, 0),
    "ml_quantile_normalize": (3, 2),
    "scalar_geohash_encode": (1, 0),
    "join_geo_haversine_radius": (1, 3),
    "finance_bollinger_breakouts": (3, 1),
    "finance_capm_beta": (4, 1),
    "timeseries_holt_linear_dyadic": (3, 1),
    "graph_jaccard_neighbor_linkpred": (3, 3),
    "recsys_covisitation_next_item": (3, 3),
    # round-14 optimization: the 12-step spill-backed greedy consume
    # loop became ONE plan (broadcast vocab join + (word,i) argmax +
    # word-keyed map aggregate + higher-order walk), so its two
    # word-keyed shuffles now show in the returned plan
    "tokenizer_wordpiece_greedy": (2, 3),
    "multimodal_png_header_meta": (1, 0),
    "corpus_length_kl_by_source": (6, 3),
    # exact substring dedup: at or below dedup.LOCAL_CHAR_CUTOFF
    # characters (every fixture SF) the plan is the one task — scan,
    # coalesce(1), mapInPandas — with no exchange. The distributed plan
    # above the cutoff keeps its (3, 2), pinned in
    # tests/test_dedup.py::test_exact_substring_distributed_plan_exchanges
    "dedup_exact_substring": (0, 0),
    # map-only: binaryFile scan -> mapInPandas decode -> narrow stats
    "multimodal_jpeg_decode_stats": (0, 0),
    # audit/report query by design: 3 ANN methods + exact ground truth
    # + per-method candidate counts in ONE plan (cf. similarity_lsh_topk,
    # whose audit is also exchange-heavy); the production paths it
    # certifies are benched separately (similarity_lsh_topk_plan, ...)
    # r15: exact + int8 ground-truth branches ride the GEMM scorer
    # (see similarity_lsh_topk)
    "similarity_ann_method_report": (22, 19),
    # round 11 batch 2 — the codec shelf is exactly ZERO exchanges
    # (map-only decode at parquet-scan speed, the whole point); the
    # analytics shelf is 2-3 keyed shuffles + a broadcast dim; DTW and
    # closeness-BFS are iterative/composite plans over CALENDAR- or
    # SEED-bounded tables (the exchange count is fixed by the horizon,
    # not the data: 4 BFS levels x tiny-frontier joins; 12-day DTW
    # calendar scaffolding)
    "multimodal_g711_decode_energy": (0, 0),
    "multimodal_adpcm_decode_energy": (0, 0),
    "multimodal_mp3_frame_header": (0, 0),
    "multimodal_gif_header_meta": (0, 0),
    "multimodal_bmp_decode_stats": (0, 0),
    "eval_average_precision": (2, 0),
    "eval_matthews_corrcoef": (2, 0),
    "stats_gini_coefficient": (3, 1),
    "stats_wilcoxon_signed_rank": (3, 1),
    "ml_pca_two_feature": (2, 1),
    "timeseries_dtw_band_distance": (11, 6),
    # round-15 REVERT of the round-14 per-level checkpoint truncation:
    # an interleaved A/B measured the truncation a real +13% wall at
    # 32 cores (scripts/ab_r15.py at commit accceb5 — the round-14
    # verdict's revert criterion), so the lazy round-13 chain stands;
    # the counts are the replayed per-level join+distinct branches again
    "graph_closeness_centrality_bfs": (18, 10),
    "graph_modularity_score": (8, 5),
    "finance_sharpe_sortino": (3, 1),
    "text_aho_corasick_blocklist": (2, 0),
    "text_winnowing_fingerprint": (1, 0),
    "sql_qualify_front_door": (2, 0),
    # round 11 batch 3 — palette PNG and the JL projection are map-only
    # (the JL fold is a nested higher-order function: zero shuffles for
    # a 64->16 projection of every vector); the two stats are one keyed
    # aggregate + ordered output
    "multimodal_png_palette_decode": (0, 0),
    "eval_krippendorff_alpha_nominal": (2, 0),
    "ml_logistic_newton_step": (2, 0),
    "vector_jl_projection_distortion": (0, 0),
    # round 11 batch 4 — WAV-ADPCM is map-only decode; the winnowing
    # candidate join spills the postings table once (3 consumers), so
    # the gram explode + window run once
    "multimodal_wav_adpcm_decode": (0, 0),
    "dedup_winnowing_candidates": (4, 3),
    # round 11 batch 5 — both spill their shared base table once (the
    # R/S series feeds 3 scale branches; the spend table feeds the
    # moment + entropy passes), so the fact-table scan runs once
    "timeseries_hurst_rs_ladder": (7, 0),
    "stats_theil_inequality": (7, 2),
    "multimodal_tiff_header_meta": (0, 0),  # map-only header algebra
    # round 11 batch 6 — the DFT bin is one keyed agg + two broadcasts
    # (dim + 28-row trig table); the SAM census is map-only Python
    "timeseries_weekly_spectral_energy": (3, 2),
    "text_distinct_substrings_sam": (0, 0),
    # round 12 — codecs/containers are map-only by construction (the
    # whole point: binaryFile scan -> mapInPandas decode/walk -> narrow
    # stats, zero exchanges); DBSCAN spills the ε-pair table once and
    # its CC branch joins tiny core-edge frames; PPJoin spills the
    # prefix join once (AllPairs count + positional filter + verify all
    # read the spill); Good-Turing and the DP median spill their
    # value-domain tables so the data-scale shuffle runs exactly once
    # (8->2 and 11->2 shuffles respectively, caught by this pin sweep
    # before commit); AMS is two keyed aggregates (merge-grain counters
    # + value-grain exact branch) and a broadcast join; Ljung-Box is
    # the ACF scaffold (spilled daily series + broadcast lags/moments)
    "multimodal_jpeg_420_decode_stats": (0, 0),
    "multimodal_qoi_decode_stats": (0, 0),
    "multimodal_mp4_box_walk": (0, 0),
    "spatial_dbscan_clusters": (5, 6),
    # round-14 optimization: ±1 signs computed once per DISTINCT
    # custkey (one extra distinct shuffle + sign join) instead of 64
    # md5 expressions per fact row — see the query docstring
    "agg_ams_f2_moment_sketch": (7, 2),
    # r15: volume-sized verify _spread; sub-chunk at sf0.001 (see
    # dedup_jaccard_prefix_filter)
    "dedup_ppjoin_positional": (4, 4),
    "corpus_good_turing_counts": (2, 2),
    "privacy_dp_median_exponential": (2, 1),
    "stats_ljung_box_whiteness": (3, 3),
    "dedup_simhash_hamming_paired": (3, 1),
    # round 12 batch 5 — the Hadamard rotation is the JL-style nested
    # HOF fold: zero exchanges for a 64x64 transform of every vector;
    # Gumbel is day-grain + month-max keyed aggregates + broadcast dim;
    # VaR/CVaR is one date-keyed reduction + nation-partitioned windows
    "vector_hadamard_rotation_parseval": (0, 0),
    "stats_gumbel_block_maxima": (4, 1),
    "finance_var_cvar_historical": (3, 1),
    # round 12 batch 6 — isotonic spills the 11-row bin table once
    # (15->5 shuffles caught by this sweep; the 7 broadcasts are the
    # tiny bin-domain frames); conformal runs three hash-split passes
    # over one scan with a broadcast model/quantile table
    "ml_isotonic_calibration_pav": (5, 7),
    "ml_conformal_split_interval": (7, 5),
    "multimodal_png_adam7_decode": (0, 0),  # map-only decode
    # round 12 batch 8 — Gaussian DP is one keyed count + per-cell
    # expression; target encoding broadcasts the group table back onto
    # the rows (the fact table never shuffles for the encoding)
    "privacy_dp_histogram_gaussian": (2, 0),
    "ml_target_encoding_loo": (3, 5),
    # round 13: hash table + dup pairs are spill-backed (internal band
    # join pinned by its operator test); the returned audit plan is the
    # planted-pair join + found-left-join + scalar cross join, all
    # broadcast off the 100-row spill scans
    "multimodal_dhash_near_dup": (2, 3),
    # map-only codec scans (file scan -> mapInPandas decode -> stats)
    "multimodal_jpeg_progressive_dc_stats": (0, 0),
    "multimodal_gif_lzw_decode_stats": (0, 0),
    # round 13 batch 4 — a fixed 16K-cell audit grid (sf-invariant):
    # 4 aggregate shuffles + 2 unit-step self-join shuffles over the
    # two spill-backed cell tables; the 3 broadcasts are the 2-row
    # stats/unit joins. Applying either curve to a real table is a
    # pure map expression with zero exchanges.
    # round-14 optimization: checkpoint_small now coalesces to one
    # partition before truncating, and SinglePartition satisfies every
    # downstream clustering requirement, so the 6 aggregate/self-join
    # shuffles over the 16K-cell tables vanish from the returned plan
    "layout_hilbert_locality_vs_zorder": (0, 3),
    # round 13 batch 5 — the hypothesis/ranked tables are spill-backed
    # (their 48/24-row windows run in the spill jobs); the returned
    # plan is the two broadcast-joined scoring/refit passes (3 partial
    # aggs) with zero fact-table shuffles
    "ml_ransac_line_fit": (3, 3),
    # round 13 batch 5 — the distance table is spill-backed (the
    # diagonal-partitioned window runs in the spill job); the returned
    # plan is two spill scans -> nearest-neighbor agg + broadcast
    # extremes/span joins + the ordered output
    "timeseries_matrix_profile": (5, 3),
    # round 13 batch 5 — one corpus map pass into the vocabulary-pair
    # count (1 shuffle), then 3 unrolled rank iterations at vocabulary
    # grain over the spilled edge table (1 join + 1 agg shuffle each
    # ... AQE-broadcast off the tiny spills leaves 6 total) + output
    "text_textrank_keywords": (6, 6),
    # round 13 batch 6 — the vocab count is spill-backed (its corpus
    # token shuffle runs in the spill job); the returned plan joins the
    # two delete-index explosions off the tiny vocab spill (broadcast)
    # + candidate distinct + the two-level argmin aggs
    "text_symspell_correction": (3, 1),
    # round 13 batch 6 — edges and the per-seed level/dependency tables
    # are spill-backed (their BFS joins run in the spill jobs); the
    # returned plan is the d1 dependency join off the tiny spills
    # (broadcast) + the final per-node sum + order
    # round-14 optimization: seed-bounded level/dependency tables moved
    # from parquet spills to localCheckpoint truncation, so their
    # formerly spill-hidden aggregation shuffles now count in the
    # returned plan
    "graph_betweenness_seeded": (5, 1),
    # round 13 batch 7 — skyline: the ≤50-row suffix-minimum table is
    # spill-backed (window-free returned plan); value-grain agg + two
    # broadcast joins + counts. Huber: two linear scans (moment pass,
    # weighted pass) with the parameter row broadcast — zero fact
    # shuffles, same shape as ml_ransac_line_fit
    "sort_skyline_pareto_2d": (3, 4),
    "ml_huber_irls_step": (2, 1),
    # round 13 batch 7 — conversation-partitioned windows/aggregates
    # (turn numbering + descending suffix sum + per-conv agg) and the
    # system-turn join; the 1 broadcast is the tiny tagg side
    "llm_context_window_pack": (6, 1),
    # round 14 — full SA-progressive decode: file scan -> mapInPandas
    # decode -> ONE 50-key aggregate pairing each stream with its
    # baseline twin
    "multimodal_jpeg_progressive_ac_refine_stats": (1, 0),
    # round 14 — pHash: hash table + dup pairs spill-backed (the band
    # join runs in the spill jobs, same as multimodal_dhash_near_dup);
    # returned plan = planted-pair joins off the 150-row spills (the 2
    # shuffles are the planted three-way join) + broadcast n_clipped/
    # n_cross/found joins
    "multimodal_phash_dct_near_dup": (2, 5),
    # round 14 continuation — stats5 shelf. Brown-Forsythe: the
    # value-grain count and |z| tables are spill-backed (the corpus
    # counting shuffle runs in the spill job); the returned plan's 11
    # shuffles are all value-/group-grain recomputes off the tiny
    # spills (median windows, moments, SSW/SSB) + the output sort
    "stats_levene_brown_forsythe": (11, 6),
    # hourly (type, hour) aggregate spill-backed; returned plan =
    # dense-grid join + type-partitioned LEAD/cumulative windows +
    # final agg/sort, all calendar-grain
    "timeseries_yule_walker_ar2": (3, 4),
    "timeseries_page_hinkley": (3, 4),
    # Haar: hourly spill + 6 cascade aggregates, each level HALVING
    # an <= 512-row/type table; the 16 broadcasts are the tiny dense
    # grid replicated into the 8 unioned energy branches
    "timeseries_haar_wavelet_energy": (9, 16),
    # round 14 continuation batch 2. Subsequences: the (session, type)
    # grain table is spill-backed (sessionization windows run in the
    # spill job); returned plan = session-keyed pair join + type-grain
    # aggregates off the tiny spill
    "events_frequent_subsequences": (5, 3),
    # best-F1: the (type, e3-score) count table is spill-backed;
    # returned plan = descending cumulative windows + argmax join-back
    # at value grain
    "eval_best_f1_threshold": (5, 3),
    # IVM: three deliberate fact passes (base, delta, full-recompute
    # proof branch) with the dim side broadcast into each; the
    # nation-grain maintained/full join closes the plan
    "ops_ivm_join_delta": (5, 6),
    # Soundex: word-grain count shuffle + code-grain aggregate + sort;
    # the phonetic expression is pure projection
    "er_soundex_blocking": (3, 0),
    # round 14 continuation batch 3. Kalman/LTTB: hourly aggregate
    # spill-backed; returned plan = dense grid join + the per-type
    # applyInPandas recursion + sort (sequential state runs at
    # calendar grain inside one Arrow batch per series)
    "timeseries_kalman_filter_1d": (2, 2),
    "timeseries_lttb_downsample": (2, 2),
    # Theil-Sen: daily aggregate spill-backed; calendar-bounded pair
    # self-join + type-partitioned rank window + median filter
    "stats_theil_sen_slope": (3, 4),
    # DTMF matched filter: map-only (scan -> mapInPandas synth/
    # container-roundtrip/detect); the 1 shuffle is the output sort
    "multimodal_dtmf_tone_detect": (1, 0),
    # round 14 continuation batch 5. Walks: edges AND every step
    # frontier spill-backed (the per-step argmin joins run in the
    # spill jobs); returned plan = union of the tiny frontier spills
    # + output sort. Chi2: the doc-term incidence spill carries the
    # corpus shuffle; contingency/ranking at vocabulary grain
    "graph_seeded_random_walks": (2, 1),
    "text_chi2_feature_selection": (6, 3),
}


def test_bench_query_exchange_budgets(plans):
    import bench

    bench_names = [
        n
        for n in bench.HEADLINE
        if n in REGISTRY and "runtime" not in REGISTRY[n].tags
    ]
    # every non-runtime bench query must carry a pin (and vice versa)
    assert sorted(bench_names) == sorted(BENCH_EXCHANGE_PINS), (
        f"bench list and exchange-pin table drifted:\n"
        f"  unpinned: {sorted(set(bench_names) - set(BENCH_EXCHANGE_PINS))}\n"
        f"  stale pins: {sorted(set(BENCH_EXCHANGE_PINS) - set(bench_names))}"
    )
    observed = {n: exchange_counts(plans[n]) for n in bench_names}
    drift = {
        n: {"pinned": BENCH_EXCHANGE_PINS[n], "observed": observed[n]}
        for n in observed
        if observed[n] != BENCH_EXCHANGE_PINS[n]
    }
    assert not drift, (
        "shuffle budget drifted — a plan changed structurally "
        "((n_shuffle, n_broadcast) per query). If intentional, re-pin with "
        f"the new counts and explain the change:\n{drift}"
    )
