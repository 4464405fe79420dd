"""Scale-posture and property-based checks (SURVEY.md §5.3):

- bucketed co-located join: pre-bucketing both fact tables on the join
  key removes the per-query shuffle entirely (the 100 TB answer to
  repeated orderkey joins) — asserted on the physical plan.
- hypothesis properties: salted aggregation ≡ direct aggregation;
  deterministic mode ≡ pandas mode()[0]; aggregates are invariant
  under row permutation (the order-dependence trap of P4/A3).
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Write orders+lineitem bucketed by orderkey; the join of the two
    bucketed tables must plan with NO Exchange (co-located buckets) —
    the bucketing contract that amortizes one shuffle across every
    future join on the key."""
    from dataengineeringproject_spark.schemas import load_table

    sf = "/root/testdata/sf0.001"
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, df, key in [("b_orders", o, "o_orderkey"), ("b_lineitem", li, "l_orderkey")]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.bucketBy(8, key)
                .sortBy(key)
                .option("path", str(tmp_path / name))
                .mode("overwrite")
                .saveAsTable(name)
            )
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # sanity: it still computes the right row count
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@_slow
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.floats(-1e6, 1e6, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_salted_agg_equals_direct(spark, rows):
    from dataengineeringproject_spark.operators.aggregates import salted_agg

    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r["k"]: (r["n"], round(r["s"], 3))
        for r in salted_agg(
            df, ["k"], {"n": ("count", "*"), "s": ("sum", "v")}, salt_buckets=4
        ).collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    want = {
        k: (int(g["v"].size), round(float(g["v"].sum()), 3))
        for k, g in pdf.groupby("k")
    }
    assert got == want


@_slow
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["g1", "g2"]), st.sampled_from(list("uvwxyz"))),
        min_size=1,
        max_size=40,
    ),
    seed=st.integers(0, 2**16),
)
def test_mode_matches_pandas_and_is_order_invariant(spark, rows, seed):
    """agg_mode(tie->min) == pandas mode()[0] (sorted-ascending tie
    break), and the answer is invariant under input permutation."""
    import random

    from dataengineeringproject_spark.operators.aggregates import agg_mode

    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    for data in (rows, shuffled):
        df = spark.createDataFrame(data, ["k", "v"])
        got = {
            r["k"]: r["mode_v"]
            for r in agg_mode(df, ["k"], "v", on_tie="min", alias="mode_v").collect()
        }
        pdf = pd.DataFrame(data, columns=["k", "v"])
        want = {k: g["v"].mode().iloc[0] for k, g in pdf.groupby("k")}
        assert got == want


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned parquet (partitionBy day) + a day filter: the
    scan's PartitionFilters prune to ONE directory — at 100 TB the
    difference between reading one day and reading three years."""
    from dataengineeringproject_spark.schemas import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "events_by_day")
    ev.withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")).write.partitionBy(
        "day"
    ).mode("overwrite").parquet(path)
    one_day = spark.read.parquet(path).filter(F.col("day") == "2024-01-03")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-03" in plan
    # pruned scan reads exactly that day's rows
    expected = ev.filter(F.date_format(F.to_date("ts"), "yyyy-MM-dd") == "2024-01-03").count()
    assert one_day.count() == expected > 0


def _plan(spark, name: str) -> str:
    from dataengineeringproject_spark import registry

    df = registry.queries()[name](spark, "/root/testdata/sf0.01")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_plan_snapshots(spark):
    """Lock in the physical-plan properties the engine is designed
    around — a regression here is a performance bug even when results
    stay correct."""
    p = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    p = _plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in p  # top-k, not a global sort
    assert "BroadcastHashJoin" in p
    p = _plan(spark, "topk_per_group")
    assert "WindowGroupLimit" in p  # rank pushdown before the full window
    p = _plan(spark, "q5_region_revenue")
    assert p.count("BroadcastHashJoin") >= 4  # all dims broadcast
    assert "SortMergeJoin" not in p
    p = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters" in p and "GreaterThanOrEqual(l_shipdate" in p
    for name in ["text_stats", "scalar_exprs", "token_counts_bpe", "text_normalize"]:
        p = _plan(spark, name)
        assert "BatchEvalPython" not in p  # no row-at-a-time Python anywhere
        assert "Exchange" not in p  # pure projections must not shuffle
    p = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in p  # EXISTS compiled to a semi join, not inner+distinct
    assert "GreaterThanOrEqual(o_orderdate" in p  # date range reaches the scan
    p = _plan(spark, "q7_volume_shipping")
    assert "In(n_name, [NATION_1,NATION_2])" in p  # nation filter at the scan
    p = _plan(spark, "q2_min_acctbal_supplier")
    assert "BroadcastHashJoin" in p  # per-nation min broadcast back
    p = _plan(spark, "q19_disjunctive_revenue")
    # Catalyst must split the OR-of-conjunctions into per-side residuals
    # that reach BOTH parquet scans — at 100 TB this is the difference
    # between scanning the brand/size/qty slices and scanning everything.
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in p
    assert "And(EqualTo(p_brand,Brand#12)" in p
    p = _plan(spark, "q13_customer_distribution")
    assert "LeftOuter" in p  # zero-order customers kept
    # column pruning: the customer scan reads ONLY the join key
    assert "ReadSchema: struct<c_custkey:bigint>" in p
    p = _plan(spark, "q21_waiting_suppliers")
    assert "TakeOrderedAndProject" in p  # top-20, not a global sort
    # 3 scans total (lineitem read exactly ONCE — the EXISTS/NOT-EXISTS
    # pair collapsed into one aggregate, not extra self-joins); each
    # scan appears once in the tree as a "Location:" detail block.
    assert p.count("Location: InMemoryFileIndex") == 3
    p = _plan(spark, "q15_top_supplier")
    assert "InMemoryTableScan" in p  # rev view cached, not recomputed
    p = _plan(spark, "q20_promo_suppliers")
    assert "LeftSemi" in p  # IN-subquery as semi join
    for name in ["sample_stratified_hash", "repetition_ngram_ratio"]:
        p = _plan(spark, name)
        assert "BatchEvalPython" not in p  # hash-sampling stays JVM-side
        assert "Exchange" not in p  # per-row curation ops must not shuffle
    p = _plan(spark, "window_range_rolling_7d")
    assert "RangeFrame" in p  # a true time-RANGE frame, not ROWS
    # exactly two shuffles: raw→daily agg, then the tiny daily→window
    # re-partition; no third exchange may creep in
    assert p.count("ENSURE_REQUIREMENTS") == 2  # one per physical shuffle
    p = _plan(spark, "tfidf_top_terms")
    assert "WindowGroupLimit" in p  # per-doc top-k pruned before the window
    # tf is cached (the inverted index): the scan→explode→shuffle subtree
    # must be evaluated once, with df/join branches reading the cache
    assert "InMemoryTableScan" in p
    p = _plan(spark, "dedup_chunks_c4")
    # first-occurrence = min() over packed (doc_id,pos): an aggregate
    # that partial-combines — NOT a window sort over every occurrence
    assert "Window" not in p
    assert "partial_min" in p  # map-side combine before the chunk shuffle
    assert p.count("ENSURE_REQUIREMENTS") == 2  # chunk grain + doc grain
    p = _plan(spark, "dsir_importance_score")
    # the ≤1024-row weight table must broadcast into the scoring join —
    # the corpus-side explode must never shuffle on bucket
    assert "BroadcastHashJoin" in p
    p = _plan(spark, "quality_logistic_score")
    assert "Exchange" not in p  # scorer fuses into the scan: zero shuffle
    assert "BatchEvalPython" not in p
    p = _plan(spark, "scd2_customer_priority")
    # the whole SCD2 build rides ONE shuffle: the run-id window, the
    # per-run aggregate, and the validity lead() all reuse the custkey
    # hash partitioning (subset-key partitioning satisfies them all)
    assert p.count("ENSURE_REQUIREMENTS") == 1
    p = _plan(spark, "cohort_retention")
    # join-free triangle: user-grain collect_set + tiny final count —
    # no self-join, no broadcast that dies at 10^8 users
    assert "Join" not in p
    assert p.count("ENSURE_REQUIREMENTS") == 2
    p = _plan(spark, "embedding_quantize_int8")
    assert "Exchange" not in p  # per-row HOF math fuses into the scan
    p = _plan(spark, "sample_weighted_priority")
    # global weighted top-k compiles to TakeOrderedAndProject: each
    # partition keeps k rows, no full sort, no exchange
    assert "TakeOrderedAndProject" in p and "Exchange" not in p
    p = _plan(spark, "merge_scd1_upsert")
    # MERGE = argmax-aggregate each side + full-outer join, all on the
    # merge key: exactly one exchange per side, reused by the join —
    # no window sort, no third shuffle
    assert p.count("ENSURE_REQUIREMENTS") == 2
    assert "FullOuter" in p and "Window" not in p


def test_approx_sketches_within_tolerance(spark):
    """The 100 TB profiling variants (HLL distinct, t-digest quantiles)
    agree with the exact answers within their documented error bands at
    this scale."""
    from dataengineeringproject_spark.schemas import load_table

    o = load_table(spark, "/root/testdata/sf0.01", "orders")
    row = o.agg(
        F.countDistinct("o_custkey").alias("exact_d"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_d"),
        F.expr("percentile(o_totalprice, 0.95)").alias("exact_p95"),
        F.expr("approx_percentile(o_totalprice, 0.95, 10000)").alias("approx_p95"),
    ).first()
    assert abs(row.approx_d - row.exact_d) / row.exact_d < 0.05
    assert abs(row.approx_p95 - row.exact_p95) / row.exact_p95 < 0.01


@given(
    split_mod=st.integers(min_value=1, max_value=5),
    n_batches=st.integers(min_value=1, max_value=4),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_gold_upsert_invariant_under_batch_split(spark, tmp_path_factory, split_mod, n_batches):
    """CDC merge property: however the events are sliced into
    micro-batches, folding the slices through merge_daily_gold yields
    exactly the batch daily aggregate — (sum, count) partials compose;
    averages are derived, never merged."""
    from dataengineeringproject_spark.schemas import load_table
    from dataengineeringproject_spark.streaming.upsert import (
        merge_daily_gold,
        read_daily_gold,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(500).cache()
    gold = str(tmp_path_factory.mktemp("gold_prop") / "gold")
    for b in range(n_batches):
        batch = events.filter((F.col("event_id") * split_mod) % n_batches == b)
        merge_daily_gold(spark, batch, b, gold)
    got = {
        r["day"]: (round(r["avg_value"], 9), r["n_events"])
        for r in read_daily_gold(spark, gold).collect()
        if r["n_events"] > 0
    }
    want = {
        r["day"]: (round(r["avg_value"], 9), r["n"])
        for r in events.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


@_slow
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),          # key
            st.integers(0, 20),                   # day offset
            st.floats(-100, 100, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_resample_locf_properties(spark, rows):
    """LOCF resample invariants on arbitrary sparse series: the spine is
    rectangular (every key × every day in the global range), raw values
    survive untouched on observed days, the LOCF column is null only
    before a key's first observation, and observed days are never
    flagged as gaps."""
    from dataengineeringproject_spark.operators.timeseries import resample_daily_locf

    pdf = pd.DataFrame(
        {
            "k": [r[0] for r in rows],
            "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(days=r[1]) for r in rows],
            "v": [r[2] for r in rows],
        }
    )
    df = spark.createDataFrame(pdf)
    out = resample_daily_locf(df, "k", "ts", F.avg("v")).toPandas()
    n_keys = pdf["k"].nunique()
    days = (pdf["ts"].dt.normalize().max() - pdf["ts"].dt.normalize().min()).days + 1
    assert len(out) == n_keys * days  # rectangular spine
    assert bool((out["is_gap"] == out["value_raw"].isna()).all())
    for k, grp in out.sort_values("day").groupby("k"):
        locf = grp["value_raw_locf"]
        first_obs = grp["value_raw"].notna().idxmax() if grp["value_raw"].notna().any() else None
        if first_obs is not None:
            after = grp.loc[first_obs:]
            assert after["value_raw_locf"].notna().all()  # no gaps after 1st obs


def test_split_partitions_corpus(spark):
    """Split assignment is a partition of the corpus: every doc lands in
    exactly one split, and re-running yields the identical assignment
    (hash-bucket, not rand())."""
    from dataengineeringproject_spark import registry

    qs = registry.queries()
    sf = "/root/testdata/sf0.001"
    total = spark.read.parquet(f"{sf}/documents.parquet").count()
    out = qs["split_train_val_test"](spark, sf).toPandas()
    assert int(out["n_docs"].sum()) == total
    out2 = qs["split_train_val_test"](spark, sf).toPandas()
    a = out.sort_values(["source", "split"]).reset_index(drop=True)
    b = out2.sort_values(["source", "split"]).reset_index(drop=True)
    assert a.equals(b)
    # sampling is a subset of the corpus and deterministic too
    s1 = qs["sample_stratified_hash"](spark, sf).toPandas()
    s2 = qs["sample_stratified_hash"](spark, sf).toPandas()
    assert set(s1["doc_id"]) == set(s2["doc_id"])
    assert len(s1) <= total


def test_aqe_skew_join_split_engages(spark):
    """Skew posture (VERDICT r1 #6): `salted_agg` covers aggregation
    skew; this pins the JOIN side — with AQE skew-join on (session
    default) a sort-merge join whose left side has one hot key gets its
    skewed partition SPLIT at runtime. Assert the executed plan marks
    the join skew=true, i.e. the config actually engages rather than
    being decorative. On a 100 TB cluster the same mechanism replaces
    hand-salting for moderately skewed fact-fact joins."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        # force SMJ (no broadcast) and lower the skew thresholds so the
        # local fixture's hot partition qualifies
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32768"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

        # fact: 200k rows, 3/4 on key 0. Two traps this fixture dodges:
        # the payload must be incompressible (sha2, not a repeated
        # char — shuffle blocks are lz4'd and a compressible hot
        # partition stays under the skew byte threshold), and the
        # payload must SURVIVE the join into the action (count() would
        # column-prune it before the shuffle, deflating the hot
        # partition; and a groupBy on the join key would pin the join's
        # output partitioning, which blocks the split).
        fact = spark.range(200_000).select(
            F.when(F.col("id") < 150_000, 0)
            .otherwise(F.col("id") % 50 + 1)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(51).select(F.col("id").alias("k"), F.lit(1).alias("w"))
        agg = fact.join(dim, "k").agg(
            F.count("payload").alias("n"), F.max("payload").alias("mx")
        )
        assert agg.collect()[0]["n"] == 200_000

        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE skew split did not engage:\n{plan[:2000]}"
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime-filter posture: when a selective dim-side filter feeds a
    shuffle join, Spark can build a bloom filter from the dim keys and
    push a might_contain() probe into the FACT scan — at 100 TB the
    fact side skips most row groups before the shuffle instead of
    shuffling everything and discarding at the join. Pin that the
    mechanism engages (thresholds lowered for the local fixture; the
    defaults only trigger at multi-GB scan sizes)."""
    from dataengineeringproject_spark.schemas import load_table

    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )
    saved = {k: conf.get(k) for k in keys}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        sf = "/root/testdata/sf0.01"
        o = load_table(spark, sf, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf, "lineitem")
        agg = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).agg(
            F.sum("l_extendedprice").alias("rev")
        )
        assert agg.collect()[0]["rev"] is not None
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            conf.set(k, v)
