"""Cleaning layer: P4-P7 (SURVEY.md §2.2/§2.3). E5's bulk rename is
`DataFrame.withColumnsRenamed` itself.

Scale notes: clamp is a pure projection (no shuffle).
`fill_with_median` is two passes — one aggregate to the driver (a
handful of scalars, the engine's only sanctioned collect) + one
projection; at 100 TB the aggregate is a single partial→final median.
`dedup_keep_first` shuffles once on the dedup key.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def clamp_to_null(
    df: DataFrame,
    bounds: Mapping[str, tuple[float | None, float | None, bool, bool]],
) -> DataFrame:
    """P5: range-clamp to null — `x if lo < x < hi else None` per column
    (v5_group_project_dag.py:79-84).

    `bounds` maps column → (lo, hi, lo_inclusive, hi_inclusive); None
    bound = unbounded. The reference mixes OPEN bounds (temperature
    ±50 exclusive) and CLOSED ones (humidity [0,1]); `between` is
    inclusive so open bounds need explicit comparisons.
    """
    exprs: dict[str, Column] = {}
    for col, (lo, hi, lo_inc, hi_inc) in bounds.items():
        c = F.col(col)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= lo if lo_inc else c > lo)
        if hi is not None:
            cond = cond & (c <= hi if hi_inc else c < hi)
        exprs[col] = F.when(cond, c)  # no otherwise → null
    return df.withColumns(exprs)


# The reference's exact clamp table (v5_group_project_dag.py:79-84).
WEATHER_CLAMPS: dict[str, tuple[float | None, float | None, bool, bool]] = {
    "Temperature (C)": (-50.0, 50.0, False, False),
    "Apparent Temperature (C)": (-50.0, 50.0, False, False),
    "Humidity": (0.0, 1.0, True, True),
    "Wind Speed (km/h)": (0.0, 408.0, True, True),
    "Visibility (km)": (0.0, None, True, True),
    "Pressure (millibars)": (870.0, 1083.8, True, True),
}


def exact_medians(df: DataFrame, cols: Sequence[str]) -> dict[str, float | None]:
    """A5: exact per-column median, pandas `Series.median()` semantics —
    linear interpolation (mean of the two middle values at even n).
    Spark ≥3.4 `F.median` is exact+interpolated; NOT percentile_approx
    (v5_group_project_dag.py:87-94). One aggregate job, returns scalars.
    """
    row = df.agg(*[F.median(c).alias(c) for c in cols]).first()
    return {c: row[c] for c in cols}


def fill_with_median(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P6: null-fill each column with its own exact median
    (v5_group_project_dag.py:87-94). Two-pass: aggregate medians (tiny
    scalar collect), then fill. Reference ordering respected by the
    caller: clamp FIRST so medians see the cleaned domain.

    Columns that are entirely null have a null median → left unfilled
    (pandas fillna(NaN) is likewise a no-op).
    """
    medians = exact_medians(df, cols)
    return df.na.fill({c: m for c, m in medians.items() if m is not None})


def drop_unparseable(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P7: drop rows with nulls in `cols` — the INTENT of the reference's
    no-op `df["Formatted Date"].dropna()` (group_project_dag.py:129;
    SURVEY.md §2.8.4). Implemented as an explicit operator; divergence
    from reference behavior (a no-op) is deliberate and documented.
    """
    return df.na.drop(subset=list(cols))


def dedup_keep_first(
    df: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """P4: dedup by key keeping the FIRST row in `order_col` order —
    pandas `drop_duplicates(subset, keep='first')` file-order semantics
    (v5_group_project_dag.py:97). Spark has no stable row order, so the
    caller must supply an explicit ordering column (an input line
    number / event_id — never `monotonically_increasing_id` across
    shuffles, SURVEY.md §7.2.3).

    One shuffle on `keys`; at scale this is a plain hash repartition +
    per-partition sort, no skew beyond the key distribution itself.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
