#!/usr/bin/env python
"""Benchmark harness (driver contract): runs EVERY registered query
(HEADLINE set first in its historical order, then the rest by name —
see _bench_set) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
`headline_total` preserves the cross-round trend over the historical
HEADLINE subset; `value` is the full-fleet total.

Each query is executed to completion with a collect() of the
already-small results — every registered query returns grouped/top-k
output, never raw rows at scale — so every output column is actually
evaluated (count() prunes projections: the r10 SimHash lesson). The
emitted JSON carries "action": "collect" so it is never read against
the r1-r10 count-action records (bench_out_count.json).

`--scale-trend` mode (reproducible SURVEY §8.1 run): times the same
headline set at sf0.01 AND sf0.1 in one session and prints one JSON
line {"metric": "scale_trend", "per_sf": {sf: {query: sec}},
"ratio_10x": {query: t(sf0.1)/t(sf0.01)}} — a near-flat ratio means
local runs are overhead-bound (compute headroom); a ≥10× ratio flags
the query whose plan stopped scaling.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    # reference-derived pipeline ops
    "daily_agg",
    "monthly_agg",
    "dedup_keep_first",
    "wind_buckets",
    "pipeline_daily_weather_analog",
    # relational breadth
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q8_market_share",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "topk_per_group",
    "window_running_sum",
    "sessionization",
    "salted_skew_agg",
    # LLM-data operators
    "text_stats",
    "dedup_minhash_lsh",
    "cosine_topk",
    "ann_lsh_topk",
    "quality_filter_funnel",
    "contamination_pairs",
    # r3/r4 additions (VERDICT r3 item 3: measure them at scale)
    "pq_adc_topk",
    "fuzzy_pairs_levenshtein",
    "fuzzy_pairs_blocked",
    "quality_gopher_rules",
    "drift_ks_value",
    "drift_ks_binned",
    "drift_psi_value",
    "drift_chi2_event_mix",
    "histogram_equidepth_value",
    "histogram_equidepth_approx",
    "bm25_topk",
    "bpe_pair_counts",
    "rrf_fusion_topk",
    "quality_unigram_nll",
    "ngram_novelty",
    "hll_distinct_users",
    "cms_heavy_hitters",
    "bloom_prefilter_join",
    "window_rank_family",
    "hll_daily_to_monthly_rollup",
    "gap_fill_daily_interp",
    "split_leakage_ngram",
    "hll_rolling_7d_distinct",
    "event_path_top3",
    "bpe_apply_merges",
    "cdc_latest_state_tombstones",
    "value_quantiles_binned",
    # r5 additions
    "bpe_train_k_merges",
    "ann_ivfpq_topk",
    "hll_intersection_estimate",
    "quantiles_binned_rollup",
    "profile_table",
    "pagerank_event_graph",
    "drift_js_binned",
    "topic_terms_ctfidf",
    "tfidf_cosine_pairs",
    "bpe_train_apply_e2e",
    "jaccard_prefix_filter_join",
    "dedup_keep_best_quality",
    "domain_centroid_topk",
    # r5 continuation: graph, semantic dedup, spectral, time series
    "copurchase_lift_pairs",
    "triangle_count_suppliers",
    "dedup_semantic",
    "ann_recall_matryoshka",
    "pca_power_iteration",
    "hard_negative_mining",
    "trend_slope_daily",
    "seasonal_dow_anomaly",
    "pca_top2_deflation",
    "quality_bigram_nll",
    "session_peak_concurrency",
    "csv_roundtrip_daily",
    "dedup_incremental_minhash",
    "trend_mann_kendall",
    "cdc_merge_on_read_compaction",
    # r8 additions: the streaming twins (first call runs the full
    # micro-batch loop — the honest per-batch accept/merge cost; the
    # result dir is cached per sf_dir afterwards)
    "streaming_dedup_incremental_minhash",
    "streaming_cdc_scd1_upsert",
    "streaming_ivf_index_append",
    # r8 continuation: layout/skew exhibits + quality streaming twin
    "bucketed_join_readback",
    "salted_skew_join",
    "streaming_quality_gate",
    "dedup_cross_source_matrix",
    "streaming_multimodal_ingest",
    "pca_variance_explained",
    "epoch_shuffle_manifest",
    "embedding_pca_project",
    "split_leakage_embedding",
    "dp_noisy_counts_by_source",
    "streaming_value_quantiles_binned",
    "dedup_substring_exact",
    "graph_khop_reach",
    "benford_first_digit",
    "k_anonymity_audit",
    "l_diversity_audit",
    "heaps_law_vocab_growth",
    "corpus_similarity_minhash",
    "pareto_front_quality_length",
    "quality_score_auc",
    "frequent_itemsets_triples",
    "mv_incremental_refresh",
    "anova_value_by_type",
    "quality_stupid_backoff_nll",
    "embedding_outlier_centroid",
    "tokenizer_fertility_by_lang",
    "corr_matrix_lineitem",
    "qlm_dirichlet_topk",
    "skew_report_topkeys",
    "ohlc_daily_value",
    "event_transition_matrix",
    "trimmed_mean_value",
    "ann_mrr_lsh",
    "seasonal_decompose_daily",
    "inverted_index_postings",
    "cardinality_estimate_audit",
    "quality_token_budget_curve",
    "embedding_label_separation",
    "twap_daily_value",
    "table_checksum_by_day",
    "streaming_bm25_stats",
    "abtest_two_proportion",
    "wow_growth_by_type",
    "oov_rate_by_source",
    "dpp_join_prune",
    "changepoint_single_split",
    "minhash_estimator_calibration",
    "abtest_power_analysis",
    "simpsons_paradox_audit",
    "chi2_cell_residuals",
    "ccf_click_purchase",
    "split_balance_audit",
    "functional_dependency_audit",
    "out_of_order_audit",
    "ann_ndcg_lsh",
    "order_total_reconciliation",
    "source_centroid_similarity",
    "readability_scores_by_source",
    "split_by_user_audit",
    "split_temporal_audit",
    "precision_audit_float32",
    "association_rules_topk",
    "degree_assortativity",
    "target_encode_loo",
    "woe_iv_value_bins",
    "training_data_build_e2e",
    "kendall_tau_daily",
    "runs_test_daily",
    "pairwise_mean_diffs",
    "levene_brown_forsythe",
    "quality_confusion_matrix",
    "spearman_rho_daily",
    "quality_scoring_rules",
    "attribution_position_based",
    "spatial_neighbor_join",
    "morans_i_density",
    "dbscan_core_points",
    "dbscan_clusters",
    "dim_variance_concentration",
    "huber_one_step_mean",
    "hourly_profile_by_type",
    "quantile_approx_error_audit",
    "hash_uniformity_audit",
    "hapax_ratio_by_source",
    "quality_auc_null_calibration",
    "hurst_rs_daily",
    "decision_stump_quality",
    "naive_bayes_lang_confusion",
    "ridge_two_feature",
    "knn_classifier_eval",
    "knn_classifier_eval_lsh",
    "corpus_release_gate_e2e",
    "zorder_file_skipping",
    "markov_entropy_rate",
    "poisson_dispersion_users",
    "effective_source_count",
    "streaming_event_transitions",
    "hodges_lehmann_daily",
    "design_effect_stratified",
    "wilcoxon_signed_rank_halves",
    "mcnemar_quality_signals",
]


def _bench_set(qs) -> list[str]:
    """EVERY registered query gets a recorded wall-time (VERDICT r9
    item 3: 159 registered queries had no bench row, their only timing
    evidence prose). Order: HEADLINE first, verbatim — its historical
    order keeps per-query numbers comparable across BENCH_r* files —
    then every other registered query sorted by name."""
    rest = sorted(set(qs) - set(HEADLINE))
    return [n for n in HEADLINE if n in qs] + rest


# Timing action: collect() materializes every output column — it is
# what the external driver does with each result, and the r10 SimHash
# forensics proved count() silently PRUNES projected expressions (a
# 12 s signature tree timed as 3 s). Results are small (grouped/top-k)
# so driver transfer is noise. The tag goes into every record.
BENCH_ACTION = "collect"


def _drift_control(spark, qs) -> dict:
    """Ambient-drift normalizer embedded in every bench artifact
    (VERDICT r13 item 5: separating the round's 1.2-1.36x box-speed
    drift from real regressions cost ad-hoc control runs). Two probes:
    a pure-CPU pandas groupby over 1M deterministic rows (no Spark —
    isolates raw box speed) and 3 back-to-back repeats of the tiny
    fixed flagship at sf0.001 (JVM/session health + variance). Compare
    these fields across BENCH_r* files to normalize per-query rows.

    Each probe is independently best-effort (ADVICE r14): on a box
    without the sf0.001 fixture (or with daily_agg unregistered) the
    field is null instead of the whole bench run crashing before its
    artifact lands — the normalizer is diagnostic, never load-bearing."""
    out: dict = {
        "pandas_groupby_1m_sec": None,
        "spark_daily_agg_sf0001_sec": None,
    }
    try:
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(42)
        pdf = pd.DataFrame(
            {"k": rng.integers(0, 1000, 1_000_000), "v": rng.random(1_000_000)}
        )
        t0 = time.perf_counter()
        pdf.groupby("k")["v"].agg(["mean", "sum", "count"])
        out["pandas_groupby_1m_sec"] = round(time.perf_counter() - t0, 3)
    except Exception as ex:  # pragma: no cover - environment-dependent
        out["pandas_groupby_1m_err"] = repr(ex)[:200]
    try:
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            len(qs["daily_agg"](spark, "/root/testdata/sf0.001").collect())
            reps.append(round(time.perf_counter() - t0, 3))
        out["spark_daily_agg_sf0001_sec"] = reps
    except Exception as ex:  # pragma: no cover - environment-dependent
        out["spark_daily_agg_sf0001_err"] = repr(ex)[:200]
    try:
        # PARALLEL-throughput probe (r15): the two probes above are
        # effectively single-threaded, and this sandbox's host-level
        # parallel capacity was measured drifting 2-3x BETWEEN
        # same-code bench sessions while both stayed flat (the r15
        # mid-round session: fleet total 592 -> 842 s on identical
        # code, task-heavy queries 2-4x, one-job queries unchanged,
        # pandas probe 0.034 -> 0.032). A fixed 32-way shuffle of a
        # deterministic range exposes exactly that axis; compare this
        # field across BENCH_r* files before reading any task-heavy
        # row as a regression.
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            (
                spark.range(0, 32_000_000, 1, 32)
                .selectExpr("id % 9973 AS k", "id AS v")
                .groupBy("k")
                .count()
                .count()
            )
            reps.append(round(time.perf_counter() - t0, 3))
        out["spark_parallel_shuffle_32way_sec"] = reps
    except Exception as ex:  # pragma: no cover - environment-dependent
        out["spark_parallel_shuffle_32way_err"] = repr(ex)[:200]
    return out


def _run_headline(spark, qs, sf_dir: str, names: list[str] | None = None) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name in names if names is not None else (n for n in HEADLINE if n in qs):
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        n = len(df.collect())
        # Full precision here; rounding to 2 dp happens only at emit
        # time so derived stats (scale-trend ratios) never divide two
        # pre-rounded values (ADVICE r6: 0.01/0.01-scale quantization
        # made ratio_10x swing ±50% on sub-100 ms queries).
        timings[name] = time.perf_counter() - t0
        assert n >= 0
    return timings


def _ratios(raw_small: dict[str, float], raw_big: dict[str, float]) -> dict[str, float]:
    """10x scale ratios from UNROUNDED timings (ADVICE r6: dividing two
    2-dp-pre-rounded values made ratio_10x swing ±50% on sub-100 ms
    queries); rounding happens only here, on the final ratio."""
    return {
        name: round(raw_big[name] / max(raw_small[name], 1e-9), 2)
        for name in raw_big
    }


def _emit(payload: dict, fname: str = "bench_out.json") -> None:
    """Persist the FULL record to `fname` and print it, then print a
    SHORT totals-only JSON line LAST. The driver's tail capture is
    ~2 KB, so the full per-query line gets its head clipped and records
    as unparseable (BENCH_r05/r06/r07 all `parsed: null` — VERDICT r6
    item 4 / r7 item 5). The final compact line always fits the capture
    window; per-query detail lives in `fname` and in the (possibly
    clipped) full line above it. Scale-trend runs write their own file
    so they never clobber the driver-facing bench_out.json."""
    line = json.dumps(payload, separators=(",", ":"))
    Path(__file__).resolve().parent.joinpath(fname).write_text(
        line + "\n"
    )
    summary = {
        "metric": payload.get("metric"),
        "value": payload.get("value"),
        "unit": payload.get("unit", "sec"),
        "n": len(payload.get("queries", payload.get("per_sf", {}))),
        "sf": payload.get("sf"),
        "detail": "bench_out.json",
    }
    sys.stdout.flush()
    print(line)
    print(json.dumps(summary, separators=(",", ":")))
    sys.stdout.flush()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from dataengineeringproject_spark import registry
    from dataengineeringproject_spark.session import get_spark

    spark = get_spark("bench")
    qs = registry.queries()

    # Warm-first methodology (VERDICT r3 item 4): run untimed warmup
    # queries at the TARGET sf before the timed loop. The sf0.001-only
    # warmup used in r1-r3 left the first timed queries paying
    # JIT/codegen/file-listing costs for the real data size — bench
    # ORDER then manufactured false regressions (daily/monthly_agg
    # "watch items" in r2 that cold-vs-warm analysis traced to warmup,
    # SURVEY §8.6.5). daily_agg + monthly_agg cover the scan, shuffle,
    # window, and date-bucketing code paths the headline set opens with.
    try:  # best-effort, like _drift_control: sf0.001 may be absent
        qs["daily_agg"](spark, "/root/testdata/sf0.001").count()
    except Exception:
        pass
    for warm in ("daily_agg", "monthly_agg"):
        qs[warm](spark, sf_dir).count()
    # Stage the persisted side tables (LSH signature index, CDC base
    # snapshot) OUTSIDE the timed region: production maintains these
    # continuously, so the per-batch query cost must not include the
    # one-time index build (ADVICE r6). Per-hook wall time is recorded
    # in the artifact (ADVICE r13) so staged queries' per-query rows
    # aren't read as end-to-end costs.
    prestage_sec = {
        k: round(v, 2) for k, v in registry.prestage(spark, sf_dir).items()
    }
    drift = _drift_control(spark, qs)

    if "--scale-trend" in sys.argv[1:]:
        base = str(Path(sf_dir).parent)
        for sf_k in ("0.01", "0.1"):
            registry.prestage(spark, f"{base}/sf{sf_k}")
        raw = {
            "0.01": _run_headline(spark, qs, f"{base}/sf0.01", _bench_set(qs)),
            "0.1": _run_headline(spark, qs, f"{base}/sf0.1", _bench_set(qs)),
        }
        ratio = _ratios(raw["0.01"], raw["0.1"])
        per_sf = {
            sf_k: {n: round(t, 2) for n, t in ts.items()}
            for sf_k, ts in raw.items()
        }
        _emit(
            {"metric": "scale_trend", "unit": "sec",
             "action": BENCH_ACTION,
             "per_sf": per_sf, "ratio_10x": ratio},
            fname="bench_trend_out.json",
        )
        return

    raw = _run_headline(spark, qs, sf_dir, _bench_set(qs))
    total = round(sum(raw.values()), 2)
    # continuity metric: total over the historical HEADLINE subset, so
    # cross-round trend comparisons survive the full-fleet expansion
    headline_total = round(
        sum(t for n, t in raw.items() if n in set(HEADLINE)), 2
    )
    timings = {n: round(t, 2) for n, t in raw.items()}
    # Machine-readable scale posture (registry scale_class metadata):
    # "diagnostic" rows are exact ground-truth variants kept for recall
    # measurement — their scalable twin carries the 100 TB number, so a
    # slow diagnostic row is labeled, not a regression.
    diag = sorted(
        n for n, c in registry.scale_classes().items()
        if c == "diagnostic" and n in timings
    )
    _emit(
        {
            "metric": "all_queries_total",
            "value": total,
            "unit": "sec",
            "action": BENCH_ACTION,
            "headline_total": headline_total,
            "n_headline": len([n for n in HEADLINE if n in raw]),
            "queries": timings,
            "diagnostic_queries": diag,
            "prestage_sec": prestage_sec,
            "drift_control": drift,
            "sf": sf,
        }
    )


if __name__ == "__main__":
    main()
