"""A1-A4: the reference's aggregate layer (SURVEY.md §2.4).

The reference's signature pattern — `groupby(k)[v].transform(agg)`
broadcast back to every row, then projection + `drop_duplicates()`
(group_project_dag.py:135-172) — collapses in Spark to a single
`groupBy().agg()`: same result, ONE shuffle, no dedup pass.

Scale notes (100 TB posture):
- grouped_means compiles to partial hash-agg → shuffle on the key →
  final hash-agg (map-side combine halves shuffle bytes; verified via
  .explain in tests).
- agg_mode is two hash aggregations + one window over (key) — the
  count table is |distinct(key, value)| rows, far smaller than the
  input, so the window's sort is cheap. No driver collect anywhere.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Literal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def grouped_means(
    df: DataFrame,
    keys: Sequence[str],
    measures: Sequence[str],
    prefix: str = "avg_",
) -> DataFrame:
    """A1/A2: per-group mean of each measure; nulls skipped (Spark `avg`
    ignores nulls, matching pandas skipna — group_project_dag.py:135-141).
    """
    aggs = [F.avg(m).alias(f"{prefix}{m}") for m in measures]
    return df.groupBy(*keys).agg(*aggs)


def agg_mode(
    df: DataFrame,
    keys: Sequence[str],
    value: str,
    on_tie: Literal["min", "null"] = "min",
    alias: str | None = None,
) -> DataFrame:
    """A3/A4: deterministic per-group mode.

    on_tie="min": pandas `mode()[0]` semantics — ties broken by the
    lexicographically smallest value (group_project_dag.py:146; pandas
    mode() returns ties sorted ascending). Spark's own `F.mode` is
    non-deterministic on ties, so we build the count→argmax idiom.

    on_tie="null": the reference's `get_precip_mode_or_nan`
    (group_project_dag.py:102-110) — null when ≥2 values share the max
    frequency. Nulls in `value` are excluded from counting before the
    argmax (pandas `value_counts` drops NaN first).

    Groups whose `value` is entirely null produce NO row (pandas
    `mode()[0]` would raise there; the reference dataset never hits it).
    Left-join the result back onto the key spine if null-mode rows are
    needed.
    """
    out = alias or f"mode_{value}"
    counts = (
        df.filter(F.col(value).isNotNull())
        .groupBy(*keys, value)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(*[F.col(k) for k in keys])
    ranked = counts.withColumn(
        "rn",
        F.row_number().over(w.orderBy(F.desc("cnt"), F.asc(value))),
    )
    if on_tie == "min":
        return ranked.filter(F.col("rn") == 1).select(
            *keys, F.col(value).alias(out)
        )
    ties = ranked.withColumn("n_at_max", F.count(F.when(F.col("cnt") == F.max("cnt").over(w), 1)).over(w))
    return ties.filter(F.col("rn") == 1).select(
        *keys,
        F.when(F.col("n_at_max") > 1, F.lit(None)).otherwise(F.col(value)).alias(out),
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Skew-safe two-phase aggregation: groupBy(keys + salt) partial →
    groupBy(keys) final, for the decomposable aggregates sum/count/
    min/max (avg = sum/count, composed at the end).

    `aggs` maps output column → (agg, input column), e.g.
    {"n": ("count", "*"), "total": ("sum", "value"), "mean": ("avg", "value")}.

    When to use: Spark's partial hash-agg already absorbs most key skew
    for aggregates; the failure mode left over is a FINAL-stage straggler
    when one key's partials still concentrate on one reducer with heavy
    per-group state (or when the same skewed key feeds a later join —
    AQE skew-join splits joins, not aggregation state). Salting caps any
    single reduce task at ~1/salt_buckets of the hot key. The cost is a
    second (tiny) shuffle over |keys × salt_buckets| rows — at 100 TB
    that is noise next to a straggler that runs 100× longer than its
    peers.

    salt_on: column whose hash spreads the hot key's rows (defaults to
    a uniform random-free spread via pmod(hash(all columns in keys +
    monotonically varying input), ...) — we use spark_partition_id so
    the salt is free to compute and already row-spread)."""
    salt = (
        F.pmod(F.hash(F.col(salt_on)), F.lit(salt_buckets))
        if salt_on
        else F.pmod(F.spark_partition_id(), F.lit(salt_buckets))
    )
    partial_aggs = []
    final_aggs = []
    for out, (kind, col) in aggs.items():
        if kind == "count":
            partial_aggs.append(
                (F.count(F.lit(1)) if col == "*" else F.count(col)).alias(f"__p_{out}")
            )
            final_aggs.append(F.sum(f"__p_{out}").alias(out))
        elif kind == "sum":
            partial_aggs.append(F.sum(col).alias(f"__p_{out}"))
            final_aggs.append(F.sum(f"__p_{out}").alias(out))
        elif kind == "min":
            partial_aggs.append(F.min(col).alias(f"__p_{out}"))
            final_aggs.append(F.min(f"__p_{out}").alias(out))
        elif kind == "max":
            partial_aggs.append(F.max(col).alias(f"__p_{out}"))
            final_aggs.append(F.max(f"__p_{out}").alias(out))
        elif kind == "avg":
            partial_aggs.append(F.sum(col).alias(f"__ps_{out}"))
            partial_aggs.append(F.count(col).alias(f"__pc_{out}"))
            final_aggs.append(
                (F.sum(f"__ps_{out}") / F.sum(f"__pc_{out}")).alias(out)
            )
        else:
            raise ValueError(f"salted_agg does not support {kind!r}")
    partial = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)
