"""Query registration. Importing this package registers every query into
``impractical_impala_spark.registry``. One module per family.

The correctness driver checks the FIRST 50 entries of ``all_queries()``
each round. Since round 11 that window is COMPUTED from the committed
CORRECTNESS_r*.json history (``..window.computed_window`` — never
driver-checked first, then latest-row-failed, then stalest-green), so
an idle round can no longer re-spend slots on green rows; the only
hand input left is ``CHANGED_THIS_ROUND`` at the bottom. The round-by-
round lists in between are HISTORY ONLY (nothing consumes them).
Pre-r11 history:

- r1 window: reference_ops + stats + tpch waves 1-2 + windows + streams
  + text (green in CORRECTNESS_r01... r02).
- r2 window: same families re-checked (green in CORRECTNESS_r02);
  dedup/similarity/joins/json/extras rows are from r01.
- r3 window (this list): the 23 round-2 additions that have NEVER had a
  driver row (TPC-H waves 3-4, dedup_clusters/survivors, streams_plus,
  training_extras, w6, ann_ivf_trained), the queries changed in round 3
  (dedup_ngram_jaccard's new blocking key, q15's de-funneled max,
  dedup_survivors, ann_ivf_trained), the brand-new round-3 queries, and
  r1-era families as fill — every slot earns a row.
- r4 rotation candidates, in priority order: the queries registered
  late in r3 after the window filled (corpus_training_manifest,
  events_time_weighted_avg, text_heavy_hitters,
  events_rolling_active_users — never checked), then the r1-green
  families rotated out this round (see the fill comment below), then
  re-confirmations of whatever r3 proves.
"""

from ..registry import set_window_order

from . import (reference_ops, stats_ops, tpch, tpch_more,  # noqa: F401
               windows, streams, text,
               dedup, similarity, joins_special, json_ops, extras,
               sketches, multimodal,
               tpch_plus, training_extras, windows_plus, tpch_plus2,
               streams_plus, tpch_final, pipelines, training_ops,
               curation, analytics, lakehouse, ml_more, warehouse_extras,
               layout, feature_ops, paths_stats, modern_sql, profiling,
               drift, quality, stat_tests, audit_ops, sampling_stats,
               forecast, spectral_info, text_ir, emb_eval, linkage_splits,
               calibration_ops, scoring_seq, monitor_eval, corpus_eval,
               operating_point, experiment, retrieval_curation,
               engine_stats, ops_quality, hypothesis, dynamics,
               value_monitors)

# r5 window. VERDICT r4 top-next: every one of the 154 registered
# queries should carry a green-or-sanctioned driver row after this
# round. Priority 1: the eight late-r4 queries that registered after the
# 50-slot window filled — never driver-checked (all pass the identical
# local sf0.01 DuckDB gate).
NEVER_CHECKED_R4 = [
    "session_paths", "events_rolling_slope", "graph_triangles",
    "json_variant_extract", "q_lateral_topn", "q_recursive_streaks",
    "udtf_char_chunks", "aqp_block_sample",
]

# Priority 2: queries whose latest driver evidence is stale or an error.
# q_approx_percentile's only driver row is the r1 harness crash
# (unhashable-list canonicalization, fixed in r2 but never re-run);
# q_approx_distinct / ann_ivf_trained carry r1/r3 rows-only rows.
# ann_ivf_trained and graph_triangles also changed THIS round
# (sample-bound training / bounded+oriented wedge join), so their rows
# double as first proof of the new plans.
STALE_REPROOF = [
    "q_approx_percentile", "q_approx_distinct", "ann_ivf_trained",
]

# New in round 5 — first driver exposure (appended as they are built).
NEW_R5 = [
    # warehouse diagnostics + concentration analytics (profiling.py)
    "price_histogram", "skew_key_profile", "customer_pareto",
    "nation_revenue_yoy",
    # pairwise-stat-without-pairwise-join (ml_more.py)
    "emb_intra_label_cohesion",
    # asymmetric containment dedup (dedup.py)
    "dedup_containment",
    # blocked fuzzy entity resolution (joins_special.py)
    "fuzzy_part_match",
]

# Registered later in round 5 (after the first window cut). These are
# first-exposure queries — leaving them past slot 50 would recreate the
# exact "never driver-checked" gap VERDICT r4 ranked as item 1, so they
# outrank the o-family re-proof (which only refreshes already-green
# r1/r2 rows).
LATE_R5 = [
    "dedup_lsh_audit", "q_filtered_aggs", "basket_brand_lift",
    "orders_rfm_segments", "events_diversity_profile", "text_zipf_fit",
    "q_relational_division", "text_bigram_surprisal",
    "events_funnel_bounded",
]

# Priority 3: the reference-operator family (o01-o29) re-proven under
# the current fixture vintage — their green rows are r1/r2-era, from
# before the events fixture drift. None touch `events`, but a fresh
# batch guards against silent testdata drift on the TPC-H/WDI side too
# (VERDICT r4 item 6). The verdict's named drift-guard batch
# (o10-o12, o16, o22-o23) leads; the tail spills past slot 50 and waits
# for r6 as new round-5 queries are inserted above it.
O_FAMILY_REPROOF = [
    "o10_run_id", "o11_run_length", "o12_run_filter", "o16_pivot",
    "o22_hp_detrend_sd", "o23_quad_detrend_sd",
    "o01_scan_projection", "o02_recode_case", "o03_unpivot", "o04_cast",
    "o06_union_all", "o07_in_filter", "o08_sort_topk",
    "o09_validity_flag", "o13_distinct", "o14_having", "o15_semi_join",
    "o17_arithmetic", "o18_lookup_join", "o19_guarded_log", "o20_dlog",
    "o21_time_index", "o24_grouped_sd", "o25_ratio", "o26_corr",
    "o27_acf", "o28_two_level_agg", "o29_max_by_group",
]

# Statistical-QA / drift-detection wave, added after the LATE_R5 cut —
# same first-exposure priority.
DRIFT_R5 = [
    "events_value_ks_drift", "orders_backlog_profile",
    "supplier_gini_by_nation", "events_ewma_hourly",
    "events_chi2_daypart",
    # data-quality / set-analysis wave
    "dq_column_profile", "audience_overlap_matrix", "user_churn_hazard",
    # physical-layout + order-statistics additions
    "dpp_partition_prune", "lineitem_weighted_median",
    # cross-modal dedup
    "multimodal_phash_neardup",
    # robust statistics
    "lineitem_mad_outliers",
]

# ---------------------------------------------------------------- r6
# r6 window (replaces the r5 ordering above, kept for history). The r5
# window went 46 hash + 4 sanctioned rows-only, 0 errors, so every slot
# is free for VERDICT r5's #1 ask: rotate onto the 42 queries whose
# latest driver row is r1/r2-era. With the 5 new queries and the 2
# whose semantics changed this round, that is exactly 49 slots; the
# 50th re-proves events_chi2_daypart, whose Spark-side overflow-guard
# cast is value-identical at sf0.01 but deserves a fresh row anyway.

# First driver exposure — round-6 additions.
NEW_R6 = [
    "audience_overlap_wide",        # >20-type overlap regime (VERDICT #5)
    "source_token_entropy",
    "doc_length_drift_psi",
    "orders_seasonal_index",
    "events_interarrival_profile",
]

# Changed this round — bounded query panel / year-boundary carry-in;
# their green rows double as first proof of the new plans.
CHANGED_R6 = [
    "dedup_embedding_neardup",
    "orders_backlog_profile",
    "events_chi2_daypart",
]

# The 42 stale rows, oldest evidence first: the three events queries
# whose rows predate the r3 fixture type drift lead (the only ones
# with any real risk), then the untouched o-family, r2 TPC-H/text/w
# waves and the three r1-era rows.
STALE_R1R2 = [
    "events_hourly_counts", "events_session_window", "events_sessionized",
    "o07_in_filter", "o08_sort_topk", "o09_validity_flag", "o13_distinct",
    "o14_having", "o15_semi_join", "o17_arithmetic", "o18_lookup_join",
    "o19_guarded_log", "o20_dlog", "o21_time_index", "o24_grouped_sd",
    "o25_ratio", "o26_corr", "o27_acf", "o28_two_level_agg",
    "o29_max_by_group",
    "q1_pricing_summary", "q3_top_unshipped_orders", "q5_revenue_by_nation",
    "q6_revenue_delta", "q13_order_count_distribution",
    "q18_large_volume_customers", "q_anti_join", "q_correlated_max",
    "q_exists_priority", "q_rollup_revenue",
    "q_profile_table", "q_set_ops", "string_functions",
    "text_fingerprint", "text_langid", "text_quality_score",
    "text_tfidf_top_terms", "text_token_count",
    "w1_running_sum", "w2_rank_orders", "w3_top1_per_group",
    "w4_moving_avg",
]

# Second round-6 wave — first exposure. Per the r5 verdict's standing
# window discipline, new queries evict RE-PROOF slots (never
# first-exposure ones): the seven lowest-risk o-family re-proofs
# (o21, o24-o29 — r1/r2-green, no events dependency) and the
# events_chi2_daypart insurance slot (its Spark-side change is
# value-identical at sf0.01, so the existing green row stays truthful)
# wait for round 7.
NEW_R6B = [
    "langid_confusion_matrix", "vocab_oov_coverage",
    "events_fano_burstiness", "events_hourly_autocorr24",
    "supplier_hhi_by_nation", "user_feature_matrix",
    "dedup_rate_by_source", "minhash_calibration",
]

_EVICTED_TO_R7 = [
    "o21_time_index", "o24_grouped_sd", "o25_ratio", "o26_corr",
    "o27_acf", "o28_two_level_agg", "o29_max_by_group",
    # evicted by the third round-6 wave (NEW_R6C) — r1/r2-green scalar
    # projections/aggregations with no events dependency, the
    # lowest-risk remaining re-proofs
    "o14_having", "o17_arithmetic", "o18_lookup_join", "o19_guarded_log",
    "o20_dlog",
    # evicted by the fourth wave (NEW_R6D) — r2-green window functions,
    # no events dependency
    "w1_running_sum", "w2_rank_orders", "w3_top1_per_group",
    "w4_moving_avg",
    # evicted by the fifth wave (NEW_R6E) — r1-era profile/set-op
    # rows, no events dependency
    "q_profile_table", "q_set_ops",
]

# Third round-6 wave — first exposure (statistical-rigor ops: CUSUM
# change-point, Mann-Whitney drift, Benford audit, Poisson bootstrap,
# n-gram novelty). Same discipline: into the first 50, evicting
# re-proof slots only.
NEW_R6C = [
    "events_cusum_changepoint", "events_mw_rank_drift",
    "benford_digit_profile", "orders_bootstrap_ci", "text_ngram_novelty",
]

# Fourth round-6 wave — first exposure (ranking-under-uncertainty,
# robust-rank statistics, ANN audit).
NEW_R6D = [
    "ann_recall_audit", "part_return_rate_wilson",
    "nation_theilsen_trend", "lineitem_spearman_corr",
]

# Fifth round-6 wave — first exposure (privacy release audit, exact
# fixed-point numerical linear algebra).
NEW_R6E = [
    "privacy_kanon_audit", "emb_pca_power",
]

_WINDOW_R6 = (
    NEW_R6 + NEW_R6B + NEW_R6C + NEW_R6D + NEW_R6E + CHANGED_R6[:2]
    + [q for q in STALE_R1R2 if q not in _EVICTED_TO_R7]
    + _EVICTED_TO_R7 + CHANGED_R6[2:]
)

# ---------------------------------------------------------------- r7
# r7 window (replaces the r6 ordering above, kept for history). The r6
# window went 50/50 full hash-matches, so every slot is free.

# First driver exposure — the round-7 statistical-test / corpus-audit
# wave plus the streaming drift monitor's batch twin.
NEW_R7 = [
    "events_drift_monitor",
    "events_welch_ttest", "events_jsd_drift", "events_kruskal_wallis",
    "events_mann_kendall", "lineitem_kendall_tau", "users_kaplan_meier",
    "dq_uniqueness_audit", "split_leakage_audit", "source_content_overlap",
    "order_ship_lag_quantiles", "events_weekday_decompose",
    "graph_degree_assortativity", "session_hour_allocation",
]

# Changed this round — first proof of the new plans/values:
# orders_bootstrap_ci's weight generator gained xorshift mixing (the
# ADVICE lattice fix — VALUES change); dedup_embedding_neardup's panel
# got the explicit broadcast hint (plan-only, values identical, but
# the fresh row proves the corrected build side).
CHANGED_R7 = ["orders_bootstrap_ci", "dedup_embedding_neardup"]

# VERDICT r6 item 1: the 18 queries whose latest driver row is still
# r1/r2-era — this closes the rotation; after r7 no registered query's
# evidence predates r3.
STALE_R1R2_R7 = [
    "q_profile_table", "q_set_ops",
    "o14_having", "o17_arithmetic", "o18_lookup_join", "o19_guarded_log",
    "o20_dlog", "o21_time_index", "o24_grouped_sd", "o25_ratio",
    "o26_corr", "o27_acf", "o28_two_level_agg", "o29_max_by_group",
    "w1_running_sum", "w2_rank_orders", "w3_top1_per_group",
    "w4_moving_avg",
]

# Fill: the r6-evicted chi2 insurance slot, then the OLDEST r3-era
# rows (dedup/embedding/multimodal/TPC-H wave 3) so the evidence
# ledger keeps rolling forward.
FILL_R7 = [
    "events_chi2_daypart",
    "ann_dedup_pipeline", "dedup_clusters", "dedup_embedding_lsh",
    "dedup_incremental", "dedup_ngram_jaccard", "dedup_survivors",
    "doc_chunk_tokens", "emb_label_centroid", "emb_pq_codes",
    "emb_quantize_int8", "mix_weighted_sample", "multimodal_frame_sample",
    "multimodal_resized_checksum", "pack_sequences", "q10_returned_items",
]

# Registered later in round 7, after the 50-slot window was cut —
# FIRST r8 rotation candidates (the LATE_R5 precedent): the sampling/
# collocation/L-moment wave in queries/sampling_stats.py
# (text_pmi_collocations, events_share_ztest, dq_sequence_gaps,
# weighted_reservoir_sample, lineitem_lmoments) plus
# stat_tests.lineitem_price_ols, similarity.ann_ivf_nprobe_sweep
# forecast.events_holt_winters, paths_stats.graph_kcore_summary
# (rows-only) and drift.events_cusum_binseg.
# All pass the local DuckDB gate; they wait for the r8 window.

_WINDOW_R7 = NEW_R7 + CHANGED_R7 + STALE_R1R2_R7 + FILL_R7
assert len(_WINDOW_R7) == 50, len(_WINDOW_R7)

# ---------------------------------------------------------------- r8
# r8 window (replaces the r7 ordering above, kept for history). The r7
# window went 50/50 full hash-matches, so every slot is free for
# VERDICT r7 ask #1.

# Priority 1 — never driver-checked: the ten late-r7 registrations the
# verdict names (graph_kcore_summary is rows-only by contract: iterative
# k-core fixpoint) plus the two new round-8 queries from the HP-filter /
# PCA commits (o22_hp_detrend_centi is the O22 hash-evidence twin —
# VERDICT ask #3; emb_pca_topk is ask #6).
NEVER_CHECKED_R8 = [
    "o22_hp_detrend_centi", "emb_pca_topk",
    "events_holt_winters", "events_cusum_binseg", "ann_ivf_nprobe_sweep",
    "text_pmi_collocations", "events_share_ztest", "dq_sequence_gaps",
    "weighted_reservoir_sample", "lineitem_lmoments", "lineitem_price_ols",
    "graph_kcore_summary",
]

# Priority 2 — changed this round, fresh rows prove the new plans:
# customer_pareto swapped exact ntile deciles for broadcast-histogram
# deciles (VERDICT ask #4 — VALUES change); events_drift_monitor's
# binning now clamps on the long floor (ADVICE #2); lineitem_kendall_tau's
# oracle spine is generated per flag instead of a 101-value cap
# (ADVICE #1). ann_cosine_topk got the explicit panel-broadcast pin in
# r7 alongside dedup_embedding_neardup but, unlike it, never re-proved
# under the corrected build side.
CHANGED_R8 = [
    "customer_pareto", "events_drift_monitor", "lineitem_kendall_tau",
    "ann_cosine_topk",
]

# Priority 3 — the ENTIRE oldest evidence cohort: all 25 queries whose
# latest driver row is r3-era (VERDICT ask #1's fill instruction,
# "starting at q11_important_stock" — the whole cohort fits).
STALE_R3 = [
    "q11_important_stock", "q_grouping_sets", "q_global_rank",
    "q4_order_priority", "q7_volume_shipping", "q8_market_share",
    "q12_ship_delay", "q14_promo_effect", "q17_small_quantity_revenue",
    "q19_disjunctive_predicates", "q22_dormant_customers",
    "text_length_histogram", "text_redact_pii", "w6_distribution_ranks",
    "q15_top_supplier", "q16_supplier_count", "q20_small_part_suppliers",
    "q21_latest_shipper", "q9_product_profit", "q2_min_cost_supplier",
    "sink_roundtrip_partitioned", "text_repetition_ratio",
    "text_ngram_contamination", "quality_gate_survivors",
    "split_cluster_safe",
]

# Mid-round-8 waves 2-6 — first exposure. Standing discipline (since
# the r5 verdict): NEW queries evict RE-PROOF slots, never other
# first-exposure ones — an unchecked new operator is the #1 gap every
# verdict flags, while the evicted re-proofs are all locally re-proven
# green each session and merely wait one round.
NEW_R8_WAVES = [
    # wave 2: spectral / information monitoring + IR text ops
    "events_periodogram", "events_cvm_drift", "events_effect_sizes",
    "events_mutual_information", "fold_balance_audit",
    "text_bm25_topk", "bpe_merge_candidates",
    "unigram_crossentropy_split", "heaps_law_fit",
    # wave 3: embedding evaluation
    "emb_centroid_outliers", "emb_knn_label_purity", "emb_pca_project",
    # wave 4: linkage / split hygiene / diagnostics
    "dedup_sorted_neighborhood", "split_time_embargo", "events_pacf",
    "lineitem_corr_matrix", "text_readability", "graph_adamic_adar",
    "nation_theil_index",
    # wave 5: calibration & harmonization
    "events_roc_auc", "events_isotonic_calibration",
    "privacy_ldiversity_audit", "covariate_shift_weights",
    "source_quantile_normalize",
    # wave 6: scoring diagnostics / sequences / tail risk
    "events_woe_iv", "events_cumulative_gain", "session_pattern_mining",
    "events_type_ccf", "events_gumbel_maxima", "snm_recall_audit",
    # wave 7: sequential drift / clustering quality / predictability
    "events_page_hinkley", "emb_silhouette", "events_entropy_rate",
    "events_burst_viterbi",
]

# Registered later in round 8, after the 50-slot window was cut (the
# LATE_R5 / late-r7 precedent) — FIRST r9 rotation candidates: wave 8
# in queries/corpus_eval.py. All pass the local DuckDB gate; they lead
# the r9 window ahead of the re-proof cohorts below.
LATE_R8 = [
    "vocab_chao1_richness", "langid_kappa_f1",
    "events_conformal_calibration", "events_hill_tail",
    "events_brier_decomposition", "tfidf_doc_neardup",
    # wave 9 (queries/operating_point.py)
    "events_pr_auc", "events_calibration_error",
    "events_threshold_selection", "fairness_accuracy_parity",
    # wave 10 (queries/experiment.py)
    "text_rbo_agreement", "langid_mcnemar", "events_mde_power",
    "emb_cka_alignment", "source_neyman_allocation",
]

# Evicted to r9 by the waves above: the ENTIRE stale-r3 re-proof
# cohort (all 25 — NEVER_CHECKED_R8(12) + CHANGED_R8(4) +
# NEW_R8_WAVES(34) filled all 50 slots, so none of STALE_R3 made the
# r8 window) and the r4-era fill — all locally DuckDB-green every
# session; they lead the r9 fill queue (oldest evidence first).
_EVICTED_TO_R9 = STALE_R3 + [
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "ann_lsh_bucketed", "ann_ivf_probe", "q_asof_attribution",
    "q_range_band_join", "json_extract_props", "q_percentiles",
]

_WINDOW_R8 = NEVER_CHECKED_R8 + CHANGED_R8 + NEW_R8_WAVES
assert len(_WINDOW_R8) == 50, len(_WINDOW_R8)

# ---------------------------------------------------------------- r9
# r9 window (replaces the r8 ordering above, kept for history). The r8
# window went 49/50 green (the 50th, graph_kcore_summary, was the
# sanctioned rows-only check and gets a full hash oracle THIS round).

# Priority 1 — never driver-checked: the 15 late-r8 registrations
# (corpus_eval wave 8, operating_point wave 9, experiment wave 10) —
# VERDICT r8 ask #1. Order preserved from LATE_R8.
NEVER_CHECKED_R9 = list(LATE_R8)

# Priority 2 — changed this round, fresh rows prove the new plans:
# graph_kcore_summary gained a full DuckDB oracle (batch-min-degree
# recursive-CTE peel — VERDICT ask #2), so its r9 row is the first
# HASH check; events_burst_viterbi's rounding rule is now explicit
# half-away-from-zero on BOTH engines (ADVICE #1);
# session_pattern_mining propagates NULL components like the oracle
# (ADVICE #3); events_effect_sizes gained the degenerate-half guard
# (ADVICE #4); ann_ivf_trained's Lloyd trainer is now exact integer
# fixed point with a fully-unrolled training oracle (VERDICT ask #5 —
# first HASH row replaces the r3-era rows-only row).
CHANGED_R9 = [
    "graph_kcore_summary", "events_burst_viterbi",
    "session_pattern_mining", "events_effect_sizes",
    "ann_ivf_trained",
]

# New in round 9 — first driver exposure (appended as they are built;
# standing discipline: NEW queries evict RE-PROOF slots, never other
# first-exposure ones).
NEW_R9: list[str] = [
    # wave 11: retrieval & curation completion (retrieval_curation.py)
    "emb_mmr_diversify", "bloom_filter_audit",
    "dedup_edit_distance_confirm", "retrieval_rrf_fusion",
    "text_charclass_profile", "attribution_position_based",
    # wave 12: engine statistics, data skipping & governance
    # (engine_stats.py)
    "zonemap_skipping_audit", "ndv_estimator_audit",
    "stats_histogram_equidepth", "join_cardinality_audit",
    "privacy_tcloseness_audit", "retrieval_ndcg",
    # wave 13: operational quality (ops_quality.py)
    "fairness_equalized_odds", "orders_cohort_ltv", "dq_freshness_sla",
    # wave 14: sketch exactness, interval joins & survival completion
    # (engine_stats.py, training_extras.py, joins_special.py,
    # stat_tests.py)
    "ndv_kmv_sketch", "stats_histogram_sampled", "retrieval_mrr_hitk",
    "ann_pq_adc_topk", "events_interval_overlap", "users_nelson_aalen",
    # wave 15: curation-filter & symbolic-series completion
    # (text_ir.py, quality.py, forecast.py, ops_quality.py)
    "doc_perplexity_filter", "text_keyword_rake",
    "doc_gopher_quality_flags", "events_sax_symbolic",
    "lineitem_pchart_returns",
    # wave 16: forecasting eval, graph reach, DP release, DSIR, IVF-PQ
    # (forecast.py, paths_stats.py, quality.py, curation.py,
    # similarity.py)
    "orders_forecast_backtest", "graph_bfs_hops",
    "privacy_dp_count_release", "doc_dsir_importance",
    "ann_ivf_pq_pipeline",
    # wave 17: quantized retrieval audits & sequential testing
    # (similarity.py, emb_eval.py, monitor_eval.py)
    "ann_ivf_pq_trained", "emb_matryoshka_audit",
    "emb_binary_sign_audit", "events_sprt_sequential",
    # wave 18: tokenizer economics, release gates, engine advice
    # (text.py, stat_tests.py, engine_stats.py, multimodal.py)
    "tokenizer_fertility_audit", "events_tost_equivalence",
    "engine_tuning_advisor", "multimodal_chunk_dedup",
    # wave 19: data-mix allocation & Kneser-Ney LM
    # (curation.py, text_ir.py)
    "corpus_mix_allocation", "text_bigram_kneser_ney",
    # wave 20: game-theoretic attribution & diffusion modeling
    # (scoring_seq.py, forecast.py)
    "attribution_shapley", "users_bass_diffusion",
    # wave 21: stylometry & causal inference
    # (text_ir.py, experiment.py)
    "text_burrows_delta", "orders_diff_in_diff",
    # wave 22: econometric causality, queueing, multimodal runs
    # (spectral_info.py, warehouse_extras.py, multimodal.py)
    "events_granger_causality", "orders_littles_law",
    "multimodal_vad_segments",
    # wave 23: hypothesis-testing completion (hypothesis.py)
    "events_anova_f", "events_perm_bh_fdr", "events_ljung_box",
    "lineitem_bartlett_test",
    # wave 24: graph completion (paths_stats.py)
    "graph_bfs_multisource", "graph_jaccard_linkpred",
    "graph_clustering_coeff",
    # wave 25: calibration decision layer (operating_point.py)
    "events_spiegelhalter_z", "events_calibration_slope",
    "events_lift_at_k",
    # wave 26: lexical diversity & embedding geometry
    # (text_ir.py, emb_eval.py)
    "text_mattr", "text_simpson_diversity",
    "emb_participation_ratio", "emb_hubness_audit",
    # wave 27: codec advice, source stylometry, queueing what-if
    # (engine_stats.py, quality.py, warehouse_extras.py)
    "compression_entropy_advisor", "source_bigram_kl",
    "orders_kingman_wait",
    # wave 28: change-point & randomness gates, revenue structure
    # (stat_tests.py, analytics.py)
    "events_pettitt_test", "events_runs_test",
    "part_abc_classes", "supplier_balassa_rca",
    # wave 29: curation decision curves (dedup.py, text.py, quality.py)
    "dedup_threshold_sweep", "vocab_coverage_at_k",
    "doc_length_lognormal_fit",
    # wave 30: system dynamics (dynamics.py)
    "events_markov_stationary", "events_transfer_entropy",
    "graph_modularity_by_type",
    # wave 31: long-memory, stocking targets, hub structure
    # (spectral_info.py, warehouse_extras.py, paths_stats.py)
    "events_hurst_exponent", "orders_newsvendor_quantile",
    "graph_rich_club",
    # wave 32: discriminability, lifecycle, autocorrelation cost
    # (emb_eval.py, analytics.py, hypothesis.py)
    "emb_fisher_ratio_dims", "customer_tier_migration",
    "events_effective_sample_size",
    # wave 33: boilerplate, tail thresholds, concentration
    # (curation.py, stat_tests.py, profiling.py)
    "doc_boilerplate_ratio", "events_mean_excess",
    "user_activity_gini",
    # wave 34: seasonality significance, market structure, order-1 rate
    # (hypothesis.py, analytics.py, quality.py)
    "events_dow_anova", "supplier_cr4_by_type",
    "source_char_entropy_rate",
    # wave 35: circular stats, regime breaks, corpus growth
    # (spectral_info.py, stat_tests.py, text.py)
    "events_rayleigh_diurnal", "orders_chow_break",
    "text_hapax_ratio",
    # wave 36: arrival-process fit, audience mix, price spread
    # (stat_tests.py, analytics.py)
    "events_weibull_interarrival", "events_new_returning_mix",
    "part_price_dispersion",
    # wave 37: source redundancy, layout encoding, simhash separability
    # (quality.py, engine_stats.py, dedup.py)
    "source_jsd_matrix", "engine_rle_advisor",
    "dedup_hamming_spectrum",
    # wave 38: rate-model adequacy, retention decay, degree tail
    # (hypothesis.py, analytics.py, paths_stats.py)
    "events_poisson_gof", "events_retention_half_life",
    "graph_degree_powerlaw",
    # wave 39: skyline operator, planning matrix, JL audit
    # (warehouse_extras.py, analytics.py, emb_eval.py)
    "q_skyline_2d", "part_abc_xyz_matrix",
    "emb_random_projection_audit",
    # wave 40: engagement stickiness (analytics.py)
    "users_stickiness_l7",
    # wave 41: funnel entry quality, embedding refresh drift
    # (analytics.py, emb_eval.py)
    "events_bounce_rate", "emb_centroid_drift",
    # wave 42: clustered-sampling cost, dimension redundancy
    # (hypothesis.py, analytics.py)
    "events_day_icc", "part_brand_type_cramers_v",
    # wave 43: shared rhythms, capacity headroom (dynamics.py)
    "events_hourly_profile_jsd", "events_peak_load_ratio",
    # wave 44: near-dup provenance (dedup.py)
    "dedup_cross_source_matrix",
]

# Fill — the evicted re-proof queue, oldest evidence first (the whole
# stale-r3 cohort, then the r4-era fill). Computed slice: whatever
# NEW_R9 grows to, the window stays exactly 50 and evicts from the
# END of this queue; the remainder leads r10's fill. If the
# first-exposure candidates alone exceed 50 (round-9 waves 11-16 did:
# 15 + 5 + 31), the TAIL of NEW_R9 overflows to lead r10's
# never-checked queue — first-exposure order is preserved, re-proofs
# wait behind them.
_CANDIDATES_R9 = NEVER_CHECKED_R9 + CHANGED_R9 + NEW_R9
NEVER_CHECKED_R10 = _CANDIDATES_R9[50:]
_FILL_QUEUE_R9 = list(_EVICTED_TO_R9)
_n_fill = max(0, 50 - len(_CANDIDATES_R9))
FILL_R9 = _FILL_QUEUE_R9[:_n_fill]
_EVICTED_TO_R10 = _FILL_QUEUE_R9[_n_fill:]

# ---------------------------------------------------------------- r11+
# Round 10 landed no commits, so the r9 hand window above silently
# re-spent all 50 slots on already-green rows while the 80-name
# NEVER_CHECKED_R10 queue waited (VERDICT r10 "What's wrong" #2). The
# window is now COMPUTED from the committed CORRECTNESS_r*.json history
# (never-checked first in registration order, then latest-row-failed,
# then stalest-green) — see impractical_impala_spark/window.py. Every
# hand list above is HISTORY ONLY: deleting all of them changes nothing
# about the window (the r10 verdict's done-criterion; pinned by
# tests/test_window_rotation.py).
#
# The one per-round hand input the history cannot know: queries whose
# implementation/values changed this round and therefore need a fresh
# row ahead of the queue. Round 11: users_bass_diffusion's one-row
# projection was layered through named columns to stay under janino's
# 64 KB codegen method limit (values identical, oracle untouched —
# verified hash-equal before and after); the three no-oracle FAIL rows
# were deregistered in favor of their hash-evidence twins
# (o22_hp_detrend_centi / ndv_kmv_sketch / stats_histogram_equidepth),
# which is removal, not change.
# events_hourly_autocorr24's spine-join arithmetic moved into the
# shared autocorr24_from_hourly helper (values identical, oracle
# untouched and hash-verified) so the new streaming twin
# (streaming/autocorr.py) finalizes through the IDENTICAL code path;
# the join's right side gained fresh-exprId column aliases (the
# memory-sink gotcha), a no-op in the batch plan.
# events_cusum_changepoint: cusum_frame's three join-backs gained the
# same fresh-exprId aliases (no-op Projects, fingerprint unchanged,
# oracle untouched and hash-verified) so the CUSUM streaming twin
# (streaming/cusum.py) can finalize through the shared helper.
# Round 12: the r11 changes (users_bass_diffusion,
# events_hourly_autocorr24, events_cusum_changepoint) all carry
# hash-green CORRECTNESS_r11 rows, so re-listing them would only
# re-spend window slots on fresh-green evidence.
# events_hourly_profile_jsd's arithmetic past the hourly census moved
# into the shared profile_jsd_from_hourly helper (values identical,
# oracle untouched and hash-verified; plan fingerprint byte-identical)
# so the new streaming rhythm-JSD twin (streaming/profile_jsd.py)
# finalizes through the IDENTICAL code path; the helper gained the
# memory-sink fresh-exprId aliases (no-op Projects in the batch plan).
# events_peak_load_ratio likewise routes through the extracted
# peak_load_from_hourly helper (values identical, oracle untouched and
# hash-verified; fingerprint byte-identical; the hour range now derives
# from the counts, never the fact table) so the peak-load twin
# (streaming/peak_load.py) is the FOURTH finalizer over the shared
# hourly-count state; events_fano_burstiness routes through
# fano_from_hourly for the FIFTH (streaming/fano.py; same guarantees,
# fingerprint byte-identical). The first two names were already in the
# window (never-checked) — zero slot cost; fano is an r6-green re-proof
# slot, the price of the plan change. The rest of the window is purely
# computed: the remaining never-driver-checked names lead, then
# stalest-green re-proofs (verify with `python scripts/window_queue.py`).
# Four more monitors routed through extracted *_from_hourly helpers
# (identical guarantees: values hash-verified, oracles untouched,
# fingerprints byte-identical) so the streaming fleet finalizes
# through the batch code paths: events_ewma_hourly (streaming/ewma.py,
# 6th finalizer), events_cusum_binseg (binseg.py, 7th), events_pacf
# (pacf.py, 8th), events_burst_viterbi (burst.py, 9th). Each is an
# old-green re-proof slot — the price of the plan-adjacent change.
# The daily family joined the fleet the same way (helpers
# te_from_daily / granger_from_daily / dow_anova_from_daily /
# hurst_from_daily; daily counts fold from the SAME hourly state via
# hr div 24 — streaming/dailyfold.py): events_transfer_entropy (10th
# finalizer), events_granger_causality (11th), events_dow_anova
# (12th), events_hurst_exponent (13th). All four fingerprints
# byte-identical, oracles untouched, hash-verified.
# Round 13 (VERDICT r12 "what's wrong" #1): CHANGED_THIS_ROUND now maps
# each changed name to the newest committed CORRECTNESS round at change
# time; window.computed_window DROPS a name automatically once a green
# driver row postdates that round, so the list self-retires without a
# round-open hand edit. (The 13 r12 monitor refactors, as-of 11, all
# retired against their hash-green CORRECTNESS_r12 rows and were
# removed when this round's entries landed.)
#
# Round 13 changes (as-of 12 — CORRECTNESS_r12 was the newest committed
# evidence when they landed): events_gapfill_locf and
# events_time_rollup switched their hourly value sums from float
# ROUND(SUM(value), 4) to EXACT micro fixed-point integers (sum of
# floor(value * 10000) per event; one final division renders the
# double) so both could join the shared hourly-state streaming fleet
# as its first value-weighted finalizers (streaming/gapfill.py,
# streaming/time_rollup.py — VERDICT r12 asks #4 and #6). Values and
# oracles CHANGED (associative integer sums replace order-dependent
# float sums); both re-verified hash-green at sf0.001/0.01 in-round.
# Later in round 13: ann_ivf_nprobe_sweep's body moved into the shared
# _nprobe_sweep helper so the new trained-quantizer sweep
# (ann_ivf_trained_sweep) runs the IDENTICAL sweep arithmetic — plan
# fingerprint verified byte-identical, oracle untouched, values
# re-proven exact at sf0.001/0.01 in-round; listed as the price of the
# code-path change, same rule as the r12 monitor extractions.
# orders_holt_winters_nation's dense-weekly construction moved into the
# shared _nation_weekly_dense helper (same rule; fingerprint verified
# byte-identical, oracle untouched, values re-proven exact) so the new
# per-nation backtest scores the IDENTICAL series — the name is still
# never-driver-checked, so the listing costs no extra window slot.
# Round 14 changes (as-of 13 — CORRECTNESS_r13 is the newest committed
# evidence): dedup_banding_sweep and dedup_threshold_sweep cast their
# exact-Jaccard size() products to BIGINT before the *1e6 multiply
# (ADVICE r13 #2 — size() is INT32 and the narrow product wraps
# silently past 2147 shingles in non-ANSI mode, a scale-dependent
# divergence from the oracles' 64-bit len() arithmetic). Values are
# unchanged at every fixture scale (no doc approaches 2147 shingles);
# the expression fingerprints changed, so both are listed.
# Also round 14 (as-of 13, the r12 extraction rule — code-path changes
# verified plan-identical, oracles untouched): granger_from_daily grew
# the suff_as_double keyword (default False keeps the count path's
# expressions byte-for-byte; the flag serves events_granger_value,
# whose value-scale Cramer products overflow int64), and
# _ivf_pq_search/_ivf_pq_oracle grew an n_probe parameter defaulting to
# N_PROBE (serves ann_ivf_pq_sweep; the pipeline/trained compositions
# render the identical plan and SQL text).
# Late round 14 (as-of 13): te_from_daily / granger_from_daily sorted
# their pair-type IN-lists — a bare set comprehension iterates in
# per-process hash order (PYTHONHASHSEED), which flipped the analyzed
# IN-list order between sessions and with it the new expression
# fingerprint. Values unchanged (IN order is semantics-free); the
# affected count monitors are listed, the value twins were
# never-checked anyway.
CHANGED_THIS_ROUND: dict[str, int] = {
    # Round 15 (as-of 15): _ivf_pq_search/_ivf_pq_oracle grew a pq_m
    # parameter defaulting to PQ_M (serves ann_pq_m_sweep); the three
    # PQ compositions were fingerprint-verified byte-identical before
    # and after (the r12 extraction rule), listed here anyway.
    "ann_ivf_pq_pipeline": 15,
    "ann_ivf_pq_trained": 15,
    "ann_ivf_pq_sweep": 15,
    # Late round 15 (as-of 15): the x1e3-quantized ANOVA/ICC milli
    # registers widened to DECIMAL(38,0)/HUGEINT via _ha_wide_sql —
    # closing SCALE.md's r15 carve-out (t_milli ~ n*v^2*1e3 passes
    # int64 at ~335x the sf0.1 operating point; DuckDB raises on the
    # overflowing cast, non-ANSI Spark wraps silently). Below 9e18 the
    # widened rounding is the EXACT narrow path, so values are
    # bit-identical at every fixture scale (A/B-verified row-for-row
    # at sf0.01); the expression fingerprints changed, so all five
    # t_milli users are listed. The streaming dow finalizer shares
    # dow_anova_from_daily and moved with it (fleet bit-equality).
    "events_anova_f": 15,
    "events_dow_anova": 15,
    "events_day_icc": 15,
    "events_dow_anova_value": 15,
    "emb_fisher_ratio_dims": 15,
    # Late round 15 (as-of 15): events_ljung_box rerouted through the
    # extracted ljung_box_from_daily helper (census-derived day range
    # and type set — the r12 fleet seam rule; drops two fact-table
    # scans). Values A/B-verified row-identical at sf0.01; the plan
    # changed, so it is listed. The helper serves the new
    # events_ljung_box_value twin and the 29th/30th streaming
    # finalizers.
    "events_ljung_box": 15,
    # Round 16 (as-of 16): graph_modularity_by_type's ORACLE coalesces
    # m_in in a CTE before the contribution reads it; in one SELECT the
    # contribution bound within.m_in, NULL for a group with no internal
    # edges (sf0.001), where Spark rightly gives the -d^2/4m^2 term.
    # The Spark plan is unchanged.
    "graph_modularity_by_type": 16,
}

from ..registry import registered_names  # noqa: E402
from ..window import computed_window  # noqa: E402

WINDOW = computed_window(registered_names(), CHANGED_THIS_ROUND)
assert len(WINDOW) == 50, len(WINDOW)

set_window_order(WINDOW)
