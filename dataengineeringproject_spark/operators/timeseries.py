"""Time-series regularization operators (hypertable-style): calendar
resampling with gap materialization and last-observation-carried-forward
fill. The reference aggregates hourly weather to daily/monthly grains
(SURVEY.md §2.4 A1/A2) but silently skips empty buckets; a real
time-series engine must materialize them — downstream models and
dashboards need an unbroken calendar spine.

Scale posture (100 TB): the spine is |keys| × |days| rows built from a
1-row global bounds aggregate broadcast-cross-joined to the distinct
keys — never a driver-side date loop. The LOCF window partitions by
key, so state per task is one row; days-per-key is calendar-bounded,
so per-partition sort memory is too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def calendar_spine(per_key_agg: DataFrame, key: str, day_col: str) -> DataFrame:
    """(key, day) grid covering every key for every day between the
    GLOBAL min and max day — the rectangular resample target. The
    bounds aggregate is 1 row (broadcast cross join); sequence+explode
    generates days executor-side."""
    bounds = per_key_agg.agg(
        F.min(day_col).alias("__d0"), F.max(day_col).alias("__d1")
    )
    keys = per_key_agg.select(key).distinct()
    return (
        keys.crossJoin(F.broadcast(bounds))
        .select(
            key,
            F.explode(
                F.sequence(F.col("__d0"), F.col("__d1"), F.expr("INTERVAL 1 DAY"))
            ).alias(day_col),
        )
    )


def resample_daily_locf(
    df: DataFrame,
    key: str,
    ts_col: str,
    agg_expr: Column,
) -> DataFrame:
    """Aggregate to the daily grain, materialize missing (key, day)
    buckets, and forward-fill each key's series (LOCF). Output columns:
    key, day (DateType), value_raw (null on gap days), value_raw_locf,
    is_gap.

    Leading gaps (before a key's first observation) stay null in the
    LOCF column — there is nothing to carry forward; downstream chooses
    a policy (drop, backfill, default)."""
    day = F.to_date(ts_col).alias("__day")
    agg = df.groupBy(key, day).agg(agg_expr.alias("value_raw"))
    spine = calendar_spine(agg, key, "__day")
    joined = spine.join(agg, [key, "__day"], "left")
    w = (
        Window.partitionBy(key)
        .orderBy("__day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key,
        F.col("__day").alias("day"),
        "value_raw",
        F.last("value_raw", ignorenulls=True).over(w).alias("value_raw_locf"),
        F.col("value_raw").isNull().alias("is_gap"),
    )


def resample_daily_interp(
    df: DataFrame,
    key: str,
    ts_col: str,
    agg_expr: Column,
) -> DataFrame:
    """Aggregate to the daily grain, materialize missing (key, day)
    buckets, and LINEARLY INTERPOLATE each key's gaps between its
    nearest bracketing observations — the harder sibling of
    resample_daily_locf (LOCF holds a stale level; interpolation
    models the trend between readings, the default for sensor/metric
    hypertables). Implementation: two mirror-image windows per key —
    last-known (value, day) looking back, first-known looking forward
    — then one arithmetic lerp; no self-join, no per-gap search, state
    = one row per window side. Output: key, day, value_raw (null on
    gap days), value_raw_interp, is_gap. Leading/trailing gaps have
    only one bracket and stay null — downstream picks a policy, same
    contract as LOCF's leading gaps."""
    day = F.to_date(ts_col).alias("__day")
    agg = df.groupBy(key, day).agg(agg_expr.alias("value_raw"))
    spine = calendar_spine(agg, key, "__day")
    joined = spine.join(agg, [key, "__day"], "left")
    v = F.col("value_raw")
    known_day = F.when(v.isNotNull(), F.col("__day"))
    wb = (
        Window.partitionBy(key)
        .orderBy("__day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(key)
        .orderBy("__day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_v = F.last(v, ignorenulls=True).over(wb)
    prev_d = F.last(known_day, ignorenulls=True).over(wb)
    next_v = F.first(v, ignorenulls=True).over(wf)
    next_d = F.first(known_day, ignorenulls=True).over(wf)
    frac = F.datediff(F.col("__day"), prev_d) * F.lit(1.0) / F.datediff(
        next_d, prev_d
    )
    interp = (
        F.when(v.isNotNull(), v)
        .when(prev_v.isNull() | next_v.isNull(), F.lit(None))
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return joined.select(
        key,
        F.col("__day").alias("day"),
        "value_raw",
        interp.alias("value_raw_interp"),
        v.isNull().alias("is_gap"),
    )
