"""Query registry: every implemented operator from SURVEY.md §2 (and the
north-star extensions) exposed as a (spark_fn, oracle_sql) pair for the
driver's DuckDB differential harness.

Conventions (driver contract, __spark_entry__.py):
- spark_fn(spark, sf_dir) -> DataFrame; oracle SQL runs on DuckDB views
  named after the testdata tables.
- Column names are aliased IDENTICALLY on both sides (the driver sorts
  columns by name before hashing).
- Float aggregate outputs are rounded the same on both sides so
  summation-order differences between engines can't flip the value
  hash: ROUND(x, 6) for unit-scale values, ROUND(x, 2) for large sums.
- Integer aggregates are cast to BIGINT on both sides (DuckDB sum(int)
  is HUGEINT; Spark's is LONG).
"""

from __future__ import annotations

import atexit
import functools
import inspect
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}
# Machine-readable scale posture per query (VERDICT r4 item 2).
#   "scalable"   (default): the physical plan survives a 100 TB /
#                1000-executor scale-up (blocked/bucketed/broadcast —
#                never all-pairs, never a global sort of raw rows).
#   "diagnostic": correct and oracle-checked, but deliberately exact /
#                 O(n log n)-sorted / O(block²) — kept as ground truth
#                 or recall baseline for a scalable twin, NOT the
#                 at-scale deployment shape. bench.py surfaces these
#                 so a slow diagnostic row is never read as a
#                 scalability regression.
_SCALE_CLASS: dict[str, str] = {}

# Age-tiered driver-row freshness rotation (VERDICT r3 item 2): the
# driver's per-round correctness sweep checks at most ~50 queries in
# registration order, so `_sweep_order` re-ranks registration so the
# budget lands where the signal is oldest. Tiers, in order:
#   0. queries with NO entry here — brand new this round, or semantics/
#      oracle changed (the escape hatch: DELETE a query's entry when you
#      change what it computes, so it must earn a fresh row before any
#      long-verified query is re-checked);
#   1+. queries whose newest green row is round N, oldest N first.
# Relative registration order is preserved within every tier. After
# each round, regenerate from the union of CORRECTNESS_r0*.json (latest
# green round per query; see tools/gen_sweep_tiers.py).
_LAST_GREEN_ROUND: dict[str, int] = {
    # --- round 7 is the newest green driver row (37 queries)
    "acf_daily_by_type": 7,
    "ann_recall_lsh": 7,
    "clamp_median_fill": 7,
    "csv_roundtrip_daily": 7,
    "cusum_level_shift": 7,
    "daily_agg": 7,
    "dedup_keep_first": 7,
    "dedup_threshold_sensitivity": 7,
    "drop_unparseable": 7,
    "ewma_control_chart": 7,
    "jsonl_roundtrip_docs": 7,
    "monthly_agg": 7,
    "multimodal_audio_features": 7,
    "multimodal_phash_clusters": 7,
    "pacf_daily_by_type": 7,
    "partition_prune_readback": 7,
    "periodogram_power_daily": 7,
    "pipeline_daily_weather_analog": 7,
    "q1_pricing_summary": 7,
    "q3_shipping_priority": 7,
    "q5_region_revenue": 7,
    "scalar_exprs": 7,
    "seasonal_dow_anomaly": 7,
    "session_peak_concurrency": 7,
    "sql_lateral_topk_orders": 7,
    "sql_pivot_event_counts": 7,
    "streaming_bloom_dedup": 7,
    "streaming_cusum_level_shift": 7,
    "streaming_drift_psi": 7,
    "streaming_seasonal_dow": 7,
    "streaming_trend_slope": 7,
    "topk_per_group": 7,
    "trend_mann_kendall": 7,
    "trend_slope_daily": 7,
    "trend_theil_sen": 7,
    "validation_summary": 7,
    "wind_buckets": 7,
    # --- round 8 is the newest green driver row (48 queries)
    "abtest_power_analysis": 8,
    "abtest_two_proportion": 8,
    "anova_value_by_type": 8,
    "attribution_position_based": 8,
    "benford_first_digit": 8,
    "cardinality_estimate_audit": 8,
    "ccf_click_purchase": 8,
    "changepoint_single_split": 8,
    "corr_matrix_lineitem": 8,
    "design_effect_stratified": 8,
    "effective_source_count": 8,
    "event_transition_matrix": 8,
    "functional_dependency_audit": 8,
    "hodges_lehmann_daily": 8,
    "hourly_profile_by_type": 8,
    "huber_one_step_mean": 8,
    "hurst_rs_daily": 8,
    "kendall_tau_daily": 8,
    "levene_brown_forsythe": 8,
    "mahalanobis_outliers": 8,
    "markov_entropy_rate": 8,
    "morans_i_density": 8,
    "mv_incremental_refresh": 8,
    "ohlc_daily_value": 8,
    "order_total_reconciliation": 8,
    "out_of_order_audit": 8,
    "pairwise_mean_diffs": 8,
    "poisson_dispersion_users": 8,
    "propensity_strata_att": 8,
    "quantile_approx_error_audit": 8,
    "runs_test_daily": 8,
    "salted_skew_join": 8,
    "seasonal_decompose_daily": 8,
    "simpsons_paradox_audit": 8,
    "skew_report_topkeys": 8,
    "spatial_neighbor_join": 8,
    "spearman_rho_daily": 8,
    "streaming_cdc_scd1_upsert": 8,
    "streaming_event_transitions": 8,
    "streaming_value_quantiles_binned": 8,
    "table_checksum_by_day": 8,
    "target_encode_loo": 8,
    "trimmed_mean_value": 8,
    "twap_daily_value": 8,
    "wilcoxon_signed_rank_halves": 8,
    "winsorized_mean_value": 8,
    "woe_iv_value_bins": 8,
    "wow_growth_by_type": 8,
    # --- round 9 is the newest green driver row (40 queries)
    "association_rules_topk": 9,
    "collocations_llr": 9,
    "corpus_release_gate_e2e": 9,
    "decision_stump_quality": 9,
    "dedup_cross_source_matrix": 9,
    "degree_assortativity": 9,
    "dp_noisy_counts_by_source": 9,
    "embedding_robust_scale": 9,
    "embedding_standardize": 9,
    "epoch_shuffle_manifest": 9,
    "frequent_itemsets_triples": 9,
    "hash_uniformity_audit": 9,
    "heaps_law_vocab_growth": 9,
    "inverted_index_postings": 9,
    "k_anonymity_audit": 9,
    "l_diversity_audit": 9,
    "link_prediction_adamic_adar": 9,
    "mcnemar_quality_signals": 9,
    "minhash_estimator_calibration": 9,
    "mixture_budget_sample": 9,
    "oov_rate_by_source": 9,
    "pareto_front_quality_length": 9,
    "qlm_dirichlet_topk": 9,
    "quality_auc_null_calibration": 9,
    "quality_confusion_matrix": 9,
    "quality_score_auc": 9,
    "quality_scoring_rules": 9,
    "quality_stupid_backoff_nll": 9,
    "quality_token_budget_curve": 9,
    "ridge_two_feature": 9,
    "split_balance_audit": 9,
    "split_by_user_audit": 9,
    "split_temporal_audit": 9,
    "streaming_bm25_stats": 9,
    "streaming_dedup_incremental_minhash": 9,
    "streaming_quality_gate": 9,
    "tokenizer_fertility_by_lang": 9,
    "training_data_build_e2e": 9,
    "vocab_kl_by_source": 9,
    "zorder_file_skipping": 9,
    # --- round 10 is the newest green driver row (39 queries)
    "ann_mrr_lsh": 10,
    "ann_ndcg_lsh": 10,
    "bucketed_join_readback": 10,
    "chi2_cell_residuals": 10,
    "cube_agg": 10,
    "dedup_incremental_batch": 10,
    "dim_variance_concentration": 10,
    "dpp_join_prune": 10,
    "embedding_label_separation": 10,
    "embedding_outlier_centroid": 10,
    "embedding_pca_project": 10,
    "gap_fill_daily_locf": 10,
    "hapax_ratio_by_source": 10,
    "naive_bayes_lang_confusion": 10,
    "nation_wealth_full_outer": 10,
    "order_limit": 10,
    "parts_above_brand_avg": 10,
    "pca_variance_explained": 10,
    "precision_audit_float32": 10,
    "q14_promo_revenue": 10,
    "q18_large_orders": 10,
    "q2_min_acctbal_supplier": 10,
    "q4_order_priority": 10,
    "q6_forecast_revenue": 10,
    "q7_volume_shipping": 10,
    "readability_scores_by_source": 10,
    "rollup_agg": 10,
    "schema_evolution_readback": 10,
    "semi_anti_join": 10,
    "session_window_agg": 10,
    "set_ops": 10,
    "sliding_window_agg": 10,
    "source_centroid_similarity": 10,
    "split_leakage_embedding": 10,
    "sql_q10_returned_items": 10,
    "streaming_corpus_release_gate": 10,
    "streaming_multimodal_ingest": 10,
    "training_mix_budget_sample": 10,
    "window_running_sum": 10,
    # --- round 11 is the newest green driver row (36 queries)
    "asof_join_purchase_click": 11,
    "bootstrap_ci_mean": 11,
    "corpus_release_gate_neardup": 11,
    "corpus_similarity_minhash": 11,
    "data_profile": 11,
    "dedup_clusters_minhash": 11,
    "dedup_incremental_minhash": 11,
    "dedup_keep_best_quality": 11,
    "dedup_minhash_lsh": 11,
    "dedup_signal_agreement": 11,
    "dedup_simhash": 11,
    "graph_khop_reach": 11,
    "json_props_rollup": 11,
    "minhash_signatures": 11,
    "monthly_from_daily_rollup": 11,
    "ngram_containment_blocked": 11,
    "ngram_jaccard_blocked": 11,
    "pivot_daily_event_counts": 11,
    "q11_important_parts": 11,
    "q12_priority_shipping": 11,
    "q13_customer_distribution": 11,
    "q15_top_supplier": 11,
    "q16_part_supplier_counts": 11,
    "q17_small_quantity_revenue": 11,
    "q19_disjunctive_revenue": 11,
    "q20_promo_suppliers": 11,
    "q21_waiting_suppliers": 11,
    "q22_idle_rich_customers": 11,
    "q8_market_share": 11,
    "q9_product_profit": 11,
    "salted_skew_agg": 11,
    "sessionization": 11,
    "tfidf_cosine_pairs": 11,
    "time_band_join": 11,
    "value_quantiles": 11,
    "zscore_per_group": 11,
    # --- round 12 is the newest green driver row (47 queries)
    "ann_ivf_topk": 12,
    "ann_ivf_trained_topk": 12,
    "ann_ivfpq_topk": 12,
    "ann_recall_trained_ivf": 12,
    "ann_recall_trained_ivfpq": 12,
    "asof_join_cogroup": 12,
    "chunk_sliding_rag": 12,
    "cohort_retention": 12,
    "contamination_pairs": 12,
    "conversion_funnel_3step": 12,
    "dedup_semantic": 12,
    "drift_chi2_event_mix": 12,
    "embedding_quantize_int8": 12,
    "grouping_sets_agg": 12,
    "histogram_equidepth_value": 12,
    "histogram_value_buckets": 12,
    "kmeans_cluster_stats": 12,
    "knn_classifier_eval": 12,
    "knn_classifier_eval_lsh": 12,
    "merge_scd1_upsert": 12,
    "mixture_temperature_weights": 12,
    "multimodal_phash_neardup": 12,
    "outlier_mad_robust_zscore": 12,
    "pq_adc_topk": 12,
    "pq_encode_recon": 12,
    "quality_filter_funnel": 12,
    "quality_gopher_rules": 12,
    "repetition_ngram_ratio": 12,
    "sample_balanced_per_source": 12,
    "sample_stratified_hash": 12,
    "scd2_customer_priority": 12,
    "sequence_packing": 12,
    "session_overlap_top_pairs": 12,
    "split_train_val_test": 12,
    "sql_recursive_hierarchy_rollup": 12,
    "streaming_band_join": 12,
    "streaming_daily_means": 12,
    "streaming_daily_mode": 12,
    "streaming_dedup_daily_counts": 12,
    "streaming_ivf_index_append": 12,
    "streaming_outer_join": 12,
    "streaming_sliding_means": 12,
    "streaming_static_join_daily": 12,
    "synth_source_events": 12,
    "unpivot_daily_metrics": 12,
    "window_lag_delta": 12,
    "window_range_rolling_7d": 12,
    # --- round 13 is the newest green driver row (45 queries)
    "ann_lsh_topk": 13,
    "bloom_prefilter_join": 13,
    "bm25_topk": 13,
    "bpe_apply_merges": 13,
    "bpe_pair_counts": 13,
    "cdc_latest_state_tombstones": 13,
    "cms_heavy_hitters": 13,
    "corpus_curation_pipeline": 13,
    "cosine_topk": 13,
    "dbscan_core_points": 13,
    "dedup_embedding_cosine": 13,
    "dedup_exact": 13,
    "doc_fingerprints": 13,
    "drift_ks_binned": 13,
    "drift_ks_value": 13,
    "drift_psi_value": 13,
    "embedding_norms": 13,
    "event_path_top3": 13,
    "ewma_daily_by_type": 13,
    "fuzzy_pairs_levenshtein": 13,
    "gap_fill_daily_interp": 13,
    "histogram_equidepth_approx": 13,
    "hll_daily_to_monthly_rollup": 13,
    "hll_distinct_users": 13,
    "hll_intersection_estimate": 13,
    "hll_rolling_7d_distinct": 13,
    "lang_id": 13,
    "multimodal_frame_sample": 13,
    "multimodal_image_features": 13,
    "ngram_novelty": 13,
    "pagerank_event_graph": 13,
    "profile_table": 13,
    "quality_unigram_nll": 13,
    "quantiles_binned_rollup": 13,
    "rrf_fusion_topk": 13,
    "split_leakage_ngram": 13,
    "streaming_cms_heavy_hitters": 13,
    "streaming_hll_daily_distinct": 13,
    "streaming_session_window": 13,
    "text_normalize": 13,
    "text_stats": 13,
    "token_counts_bpe": 13,
    "value_quantiles_binned": 13,
    "variant_props_extract": 13,
    "window_rank_family": 13,
    # --- round 14 is the newest green driver row (50 queries)
    "ann_recall_matryoshka": 14,
    "attribution_first_last_touch": 14,
    "audience_overlap_daily": 14,
    "bpe_train_apply_e2e": 14,
    "bpe_train_k_merges": 14,
    "burstiness_by_user_topk": 14,
    "cdc_merge_on_read_compaction": 14,
    "char_entropy_quality": 14,
    "cohort_ltv_triangle": 14,
    "copurchase_lift_pairs": 14,
    "corr_chars_quality_by_source": 14,
    "dbscan_clusters": 14,
    "dedup_chunks_c4": 14,
    "dedup_cluster_size_histogram": 14,
    "dedup_corpus_materialize": 14,
    "dedup_substring_exact": 14,
    "domain_centroid_topk": 14,
    "drift_js_binned": 14,
    "drift_mannwhitney_binned": 14,
    "dsir_importance_score": 14,
    "fk_integrity_audit": 14,
    "funnel_latency_quantiles": 14,
    "fuzzy_pairs_blocked": 14,
    "fuzzy_recall_blocked": 14,
    "hard_negative_mining": 14,
    "jaccard_prefix_filter_join": 14,
    "lang_mix_entropy_by_source": 14,
    "langid_confusion": 14,
    "pca_power_iteration": 14,
    "pca_top2_deflation": 14,
    "pii_redact": 14,
    "quality_bigram_nll": 14,
    "quality_logistic_score": 14,
    "revenue_gini_by_nation": 14,
    "revenue_lorenz_deciles": 14,
    "rfm_segments": 14,
    "sample_neyman_allocation": 14,
    "sample_weighted_priority": 14,
    "score_calibration_bins": 14,
    "score_decile_lift": 14,
    "ship_lead_time_quantiles": 14,
    "snapshot_diff_users": 14,
    "survival_kaplan_meier": 14,
    "tfidf_top_terms": 14,
    "token_pmi_pairs": 14,
    "topic_terms_ctfidf": 14,
    "triangle_count_suppliers": 14,
    "user_behavior_outliers": 14,
    "vocab_coverage_topk": 14,
    "zipf_slope_vocab": 14,
}


# _PRIORITY_R11 retired (all 28 entries green in CORRECTNESS_r11).
# _PRIORITY_R12 retired (all 14 entries green in CORRECTNESS_r12).
# _PRIORITY_R13 retired (all 7 entries green in CORRECTNESS_r13).
# _PRIORITY_R14 retired (all 5 entries green in CORRECTNESS_r14).
# Round-15 explicit priority front-list (VERDICT r14 item 1): the
# stalest official cohort is the 37-query reference-parity core last
# checked in r07 (`daily_agg`, `monthly_agg`, `scalar_exprs`, TPC-H
# q1/q3/q5, streaming trend/drift family, …).  No semantic change is
# pending at round start, and stalest-first ordering already fronts
# that cohort, so the pin list starts with only the queries round 15
# physically touches (added as the round progresses — each must
# re-earn its driver row on the new plan).  Retire after
# CORRECTNESS_r15 lands.
_PRIORITY_R15: list[str] = [
    # r15 physical change (output-identical, hash-verified at 100x and
    # oracle-green at sf0.01): the gram-grain exchanges are sized to
    # the input via explicit repartition when the window estimate
    # exceeds the session conf (probe_substr_decade_r15.json: 100x
    # 157 s/OOM -> 78.8 s, decade ratio 18.4x -> ~4x); plan unchanged
    # at sf<=10x — re-earn the driver row on the new plan:
    "dedup_substring_exact",
    # r15 OPTIMIZATION-round physical changes (all output-identical,
    # hash-verified + oracle-green at sf0.01 AND sf0.1 this round; see
    # OPTIMIZATION_r15.md and the exp_*_r15.json artifacts) — each
    # re-earns its driver row on the new plan:
    # direction-optimizing hop 4 (bottom-up complement count when the
    # measured frontier fills > 1/2; exp_khop_bottomup_sf01_r15.json):
    "graph_khop_reach",
    # shingle projection 4 passes -> 2, self-join -> per-shingle pair
    # expansion (exp_corpus_sim_sf01_r15.json):
    "corpus_similarity_minhash",
    # shared (b,tok) pre-aggregate + pure-JVM cuts literal
    # (exp_small_plans_sf01_r15.json):
    "heaps_law_vocab_growth",
    # offsets literal moved off the Python-RDD-backed createDataFrame
    # (schemas.local_df) in the shared spatial cell machinery:
    "spatial_neighbor_join",
    "dbscan_core_points",
    "dbscan_clusters",
]
# Round-16 (optimization round 2) priority front-list: every query
# this round physically changes (all output-identical, hash-verified
# cold A/B + oracle-green at sf0.01 AND sf0.1 — OPTIMIZATION_r16.md,
# exp_*_r16.json) re-earns its driver row on the new plan. The r15
# list is retired (all 7 green in CORRECTNESS_r15).
_PRIORITY_R16: list[str] = [
    # both self-joins -> in-set expansions (exp_aa_inset_sf01_r16):
    "link_prediction_adamic_adar",
    # bottom-up branch broadcast hint removed (exp_khop_nohint_sf01_r16):
    "graph_khop_reach",
    # basket collect_set + in-set pair/triple expansion
    # (exp_basket_inset_sf01_r16):
    "copurchase_lift_pairs",
    "triangle_count_suppliers",
    "degree_assortativity",
    "association_rules_topk",
    # connected_components: label compression + observed convergence +
    # stats reset (exp_cc_final_sf01_r16; consumers re-earn rows):
    "dbscan_clusters",
    "dedup_clusters_minhash",
    "dedup_keep_best_quality",
    "corpus_release_gate_neardup",
    "multimodal_phash_clusters",
    "dedup_corpus_materialize",
    "dedup_cluster_size_histogram",
]
_PRIORITY_PINS = _PRIORITY_R16
_PRIORITY_RANK: dict[str, int] = {n: i for i, n in enumerate(_PRIORITY_PINS)}


def _sweep_order(names: list[str]) -> list[str]:
    """Pinned priority queries first (in list order), then never-checked
    / changed-semantics queries, then stalest green driver rows first;
    registration order within each tier."""
    return sorted(
        names,
        key=lambda n: (
            _PRIORITY_RANK.get(n, len(_PRIORITY_PINS)),
            _LAST_GREEN_ROUND.get(n, 0),
        ),
    )


def register(
    name: str,
    oracle: str | None = None,
    scale_class: str = "scalable",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and optionally its oracle SQL).

    scale_class tags the 100 TB posture ("scalable" | "diagnostic",
    see _SCALE_CLASS above); diagnostic exact variants keep their
    scalable twin named in the docstring.
    """
    if scale_class not in ("scalable", "diagnostic"):
        raise ValueError(f"unknown scale_class {scale_class!r}")

    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        _SCALE_CLASS[name] = scale_class
        return fn

    return deco


# One-time staging hooks (persisted-index materialization): a few
# queries model the STEADY-STATE production shape of a maintained side
# table (LSH signature index, CDC base snapshot) and materialize it to
# parquet on first use. Benchmarks must run these hooks in WARMUP so
# the timed run measures the per-batch query, not the one-time index
# build (ADVICE r6: r5-r7 bench rows for dedup_incremental_minhash /
# cdc_merge_on_read_compaction read as upper bounds for this reason).
_PRESTAGE: list[Callable[[SparkSession, str], object]] = []


def source_fingerprint(sf_dir: str, table: str) -> tuple:
    """Cache key for staged side tables: (sf_dir, mtime_ns, size) of
    the source parquet, so regenerating a dataset at the same path
    within one process invalidates the staged copy (ADVICE r13).
    Works for single-file, flat-directory, and nested/partitioned
    parquet layouts — the directory walk is recursive (ADVICE r14: a
    top-level-only listing missed in-place rewrites of nested part
    files that leave the subdir mtime untouched), stats each entry
    once, and fails with a clear message when the source is absent."""
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(p):
            sig = []
            for root, dirs, files in os.walk(p):
                dirs.sort()
                for f in sorted(files):
                    if f.startswith("_"):
                        continue
                    st = os.stat(os.path.join(root, f))
                    rel = os.path.relpath(os.path.join(root, f), p)
                    sig.append((rel, st.st_mtime_ns, st.st_size))
            return (sf_dir, table, tuple(sig))
        st = os.stat(p)
        return (sf_dir, table, st.st_mtime_ns, st.st_size)
    except FileNotFoundError as ex:
        raise FileNotFoundError(
            f"source parquet for table {table!r} not found under "
            f"{sf_dir!r} (expected {p}); staged side tables need the "
            f"source dataset present"
        ) from ex


def fingerprint_token(ck: tuple) -> str:
    """Short stable hex token of a source_fingerprint cache key, for
    content-addressing staged CATALOG TABLE names (ADVICE r14: names
    derived from an in-process counter are safe with the in-memory
    catalog, but two processes sharing a persistent metastore would
    both claim `..._0` and clobber each other's table; a fingerprint
    hash makes the name process-independent and generation-unique)."""
    import hashlib

    return hashlib.md5(repr(ck).encode()).hexdigest()[:12]


_SCRATCH: list[str] = []


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir, removed at interpreter exit so repeated driver
    sweeps don't accumulate /tmp copies of staged tables and stream
    outputs. Every staged artifact, landing zone, checkpoint and stream
    output dir is made here, so cleanup is one hook for the package."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(d)
    return d


@atexit.register
def _remove_scratch() -> None:
    for d in _SCRATCH:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH.clear()


def staged(*tables: str):
    """Memoize a staging producer fn(spark, sf_dir, *args, **kw).

    The key is source_fingerprint(sf_dir, t) for each named source
    table plus the extra arguments (defaults applied, so a call that
    spells out a default hits the same entry): repeated calls reuse
    the staged artifact, and a dataset regenerated at the same path is
    re-staged instead of served stale (ADVICE r13). functools.wraps
    keeps fn's __name__ (prestage hook and bench keys) and exposes the
    unmemoized producer as __wrapped__, for a caller whose own check
    finds the artifact gone (e.g. a catalog table in a new session)."""

    def deco(fn):
        sig = inspect.signature(fn)
        memo: dict[tuple, object] = {}

        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str, *args, **kw):
            bound = sig.bind(spark, sf_dir, *args, **kw)
            bound.apply_defaults()
            key = (
                tuple(source_fingerprint(sf_dir, t) for t in tables),
                tuple(bound.arguments.values())[2:],
            )
            if key not in memo:
                memo[key] = fn(spark, sf_dir, *args, **kw)
            return memo[key]

        return wrapper

    return deco


def register_prestage(
    fn: Callable[[SparkSession, str], object],
) -> Callable[[SparkSession, str], object]:
    """Register a one-time staging hook (idempotent per source
    generation: hooks are `staged` producers, or call one)."""
    _PRESTAGE.append(fn)
    return fn


def prestage(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Run every staging hook for sf_dir (each caches internally).

    Returns per-hook wall seconds so bench artifacts can record
    staging cost alongside per-query rows (ADVICE r13: staged
    producers move dominant cost out of the timed run; the artifact
    must carry it so staged queries' rows aren't read as end-to-end
    costs). Cached (already-staged) hooks record ~0."""
    import time as _time

    _load_all()
    timings: dict[str, float] = {}
    for fn in _PRESTAGE:
        t0 = _time.perf_counter()
        fn(spark, sf_dir)
        timings[fn.__name__] = _time.perf_counter() - t0
    return timings


def scale_classes() -> dict[str, str]:
    """name -> "scalable" | "diagnostic" for every registered query."""
    _load_all()
    return dict(_SCALE_CLASS)


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {n: _QUERIES[n] for n in _sweep_order(list(_QUERIES))}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {n: _ORACLE[n] for n in _sweep_order(list(_QUERIES)) if n in _ORACLE}


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from dataengineeringproject_spark import queries as _q  # noqa: F401

    _q.load()
