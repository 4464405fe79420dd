"""Validation layer: A6/A7/C2 (SURVEY.md §2.4/§2.6).

The reference's validate task raises ValueError before load
(v5_group_project_dag.py:243-267). Engine form: `expect(df, cond, msg)`
— a barrier action that scans for ONE violating row (`limit(1)`), so
the check is a short-circuiting filter, not a full count. At 100 TB the
predicate pushes into the parquet scan and the job stops at the first
violating row-group.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataengineeringproject_spark.streaming.commit import append_batch


class ValidationError(ValueError):
    """Raised by `expect` — ValueError subclass to match the reference's
    raise type (v5_group_project_dag.py:245)."""


def expect(df: DataFrame, condition: Column, msg: str) -> DataFrame:
    """Fail-stop gate: raise unless `condition` holds for EVERY row.
    Returns the input df unchanged so gates compose in pipelines.
    Violating rows where the condition is null count as violations.
    """
    bad = df.filter(~F.coalesce(condition, F.lit(False))).limit(1)
    if bad.count() > 0:
        raise ValidationError(msg)
    return df


def expect_no_nulls(df: DataFrame, cols: Sequence[str], msg: str | None = None) -> DataFrame:
    """A6: `isnull().any().any()` gate (v5_group_project_dag.py:243-249)."""
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(c).isNotNull()
    return expect(df, cond, msg or f"Data validation failed: null values in {list(cols)}")


def expect_in_range(
    df: DataFrame, col: str, lo: float, hi: float, msg: str | None = None
) -> DataFrame:
    """A7: `series.between(lo, hi).all()` gate (v5_group_project_dag.py:253-267).
    Nulls pass (pandas `between` treats NaN as False but the reference
    checks ranges only after its null gate; we keep the gates orthogonal
    — nulls are `expect_no_nulls`' job)."""
    cond = F.col(col).isNull() | F.col(col).between(lo, hi)
    return expect(df, cond, msg or f"Data validation failed: {col} outside [{lo}, {hi}]")


def _column_label(condition: Column) -> str:
    """Human-readable label for a Column using only public API:
    `str(col)` renders `Column<'(value BETWEEN 0 AND 75)'>` on both
    classic and Spark Connect (the private `_jc` attr does not exist
    under Connect)."""
    s = str(condition)
    m = re.fullmatch(r"Column<'(.*)'>", s, re.S)
    return m.group(1) if m else s


def validate_stream_dead_letter(
    stream: DataFrame,
    condition: Column,
    valid_path: str,
    dead_letter_path: str,
    checkpoint_dir: str,
):
    """C2's streaming analog (SURVEY.md §2.6): a continuous pipeline
    can't fail-stop per bad record, so violations are ROUTED to a
    dead-letter sink (with the violated condition attached) while valid
    rows continue to the main sink. foreachBatch replays are
    at-least-once, so both sinks are log-form sinks of
    `streaming.commit`: each batch lands in `batch_id=<id>` under each
    path, a committed dir is skipped, and readers (`read_log`) see only
    committed dirs — a failure between the valid write and the
    dead-letter write replays the batch, skips the already-committed
    valid dir, and completes only the missing dead-letter dir. Net
    effect: effectively-once on both sinks."""
    cond_str = _column_label(condition)

    def route(batch_df: DataFrame, batch_id: int) -> None:
        ok = F.coalesce(condition, F.lit(False))
        append_batch(batch_df.filter(ok), valid_path, batch_id)
        append_batch(
            batch_df.filter(~ok).withColumn("__violated", F.lit(cond_str)),
            dead_letter_path,
            batch_id,
        )

    return (
        stream.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def observe_quality(
    df: DataFrame, name: str, checks: dict[str, Column]
) -> tuple[DataFrame, "object"]:
    """Zero-extra-pass data-quality metrics via `df.observe`: the named
    aggregate expressions are accumulated ON THE SIDE of whatever
    action the caller runs next — at 100 TB that's the difference
    between profiling for free during the production write and paying
    a second full scan for a profile job. Returns (observed_df,
    Observation); after ANY action on observed_df, `observation.get`
    yields the metrics dict.

    Contrast with `expect` (fail-stop, short-circuits at the first
    violation — cheap REJECT) — observe_quality is the MEASURE side:
    it never fails the job, it attaches numbers (violation counts,
    null counts, extremes) to a run that was happening anyway.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[c.alias(k) for k, c in checks.items()]), obs


def violations(condition: Column) -> Column:
    """Count of rows violating `condition` (null counts as violation) —
    the standard check expression for observe_quality."""
    return F.sum(
        F.when(F.coalesce(condition, F.lit(False)), 0).otherwise(1)
    )
