"""Time-window family over `events` (SURVEY.md §2.7 north star:
tumbling/sliding/session windows). Tumbling lives in the daily
aggregates and the streaming analogs; here are the sliding and
session-window batch forms with exact oracles.

Oracle notes:
- sliding: every event belongs to duration/slide windows; the oracle
  UNNESTs the two candidate day-aligned starts per event and groups —
  an independent formulation of Spark's window() bucketing.
- session_window: Spark's built-in gap-based session operator; the
  oracle derives sessions with the classic lag/gap/cumsum island
  idiom. Session end is last_event + gap (Spark semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineeringproject_spark.registry import register
from dataengineeringproject_spark.schemas import load_table, local_df

_GAP_MIN = 30


@register(
    "sliding_window_agg",
    oracle="""
    WITH starts AS (
      SELECT value,
             UNNEST([date_trunc('day', ts) - INTERVAL 1 DAY,
                     date_trunc('day', ts)]) AS win_start
      FROM events
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           ROUND(avg(value), 6) AS avg_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM starts GROUP BY 1
    """,
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-day windows sliding by 1 day: each event feeds 2 overlapping
    windows. The fan-out is map-side (window() expands before the one
    shuffle on window start) — shuffle volume is duration/slide × input,
    the inherent cost of overlap."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("win"))
        .agg(
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "avg_value",
            "n_events",
        )
    )


@register(
    "session_window_agg",
    oracle=f"""
    WITH t AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL {_GAP_MIN} MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT *, sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM t
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL {_GAP_MIN} MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, session_no
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in session_window (gap = {_GAP_MIN} min) — merges
    rows into variable-length sessions inside one aggregation (works
    identically under Structured Streaming with a watermark); the
    oracle re-derives sessions via lag/cumsum islands. One shuffle on
    (user_id, session)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", f"{_GAP_MIN} minutes").alias("win")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "gap_fill_daily_locf",
    oracle="""
    WITH agg AS (
      SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS value_raw
      FROM events WHERE value >= 200 GROUP BY 1, 2
    ),
    b AS (SELECT min(day) AS d0, max(day) AS d1 FROM agg),
    spine AS (
      SELECT t.event_type, u.day
      FROM (SELECT DISTINCT event_type FROM agg) t
      CROSS JOIN (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
                  FROM b) u
    ),
    j AS (
      SELECT s.event_type, s.day, a.value_raw
      FROM spine s LEFT JOIN agg a USING (event_type, day)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           ROUND(value_raw, 6) AS value_raw,
           ROUND(last_value(value_raw IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS value_locf,
           value_raw IS NULL AS is_gap
    FROM j
    """,
)
def gap_fill_daily_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar resample + LOCF (operators/timeseries.py): daily mean of
    high-value events per event_type on an unbroken day spine — missing
    (type, day) buckets materialize as gap rows and forward-fill from
    the key's last observation. The hypertable-rollup family: the
    filter makes the series genuinely sparse (~30-40% gap days), so the
    spine/LOCF path is exercised, not vacuous. No driver date loops:
    spine = distinct keys × broadcast 1-row bounds, exploded
    executor-side; LOCF is a per-key running window."""
    from dataengineeringproject_spark.operators.timeseries import resample_daily_locf

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") >= 200)
    out = resample_daily_locf(ev, "event_type", "ts", F.avg("value"))
    return out.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("value_raw", 6).alias("value_raw"),
        F.round("value_raw_locf", 6).alias("value_locf"),
        "is_gap",
    )


@register(
    "window_range_rolling_7d",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             ROUND(sum(value), 2) AS s, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           ROUND(sum(s) OVER w, 2) AS rolling_sum_7d,
           ROUND(sum(s) OVER w / sum(n) OVER w, 6) AS rolling_avg_7d,
           CAST(count(*) OVER w AS BIGINT) AS n_days_7d
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    """,
)
def window_range_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling totals via a time-RANGE window frame — the
    frame flavor the rest of the suite doesn't cover (ROWS frames in
    window_running_sum/window_lag_delta, bucketed tumble/slide/session
    in the window_agg family). Spark's rangeBetween needs a numeric
    order key, so the day is ordered by its epoch seconds and the frame
    is [-6 days, 0] in seconds — semantically identical to the oracle's
    RANGE BETWEEN INTERVAL 6 DAY PRECEDING, and robust to calendar gaps
    (missing days simply aren't in the frame, unlike a ROWS 6 PRECEDING
    frame which would silently span them). Two shuffles by design: the
    first aggregates raw events to the daily grain (full data, keyed on
    (type, day)); the window's re-partition on event_type alone then
    moves only ~types×days rows — pre-partitioning the raw scan by
    event_type would collapse parallelism to the type cardinality at
    100 TB, the wrong trade."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 2).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp(F.col("day").cast("timestamp")))
        .rangeBetween(-6 * 86400, 0)
    )
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.sum("s").over(w), 2).alias("rolling_sum_7d"),
        F.round(F.sum("s").over(w) / F.sum("n").over(w), 6).alias("rolling_avg_7d"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_days_7d"),
    )


@register(
    "monthly_from_daily_rollup",
    oracle="""
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             sum(value) AS s, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, substr(day, 1, 7) AS month,
           ROUND(ROUND(sum(s), 2) / sum(n), 6) AS avg_value,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM daily GROUP BY 1, 2
    """,
)
def monthly_from_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hypertable-rollup pattern: monthly aggregates derived from
    DAILY PARTIALS (sum, count), not from raw events — avg is
    sum-of-sums over sum-of-counts. This is the mergeable-aggregate
    contract that makes incremental time hierarchies work at 100 TB:
    the daily grain is what you persist (bronze→silver), and every
    coarser grain is a cheap re-aggregation of ~3 orders of magnitude
    fewer rows, instead of a rescan of the raw table. round-sum-first
    avg keeps the comparison engine-stable; correctness of the merge
    (vs computing monthly directly from raw) is exactly what the
    oracle's identical two-level formulation checks."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
    return (
        daily.groupBy("event_type", F.substring("day", 1, 7).alias("month"))
        .agg(
            F.round(F.round(F.sum("s"), 2) / F.sum("n"), 6).alias("avg_value"),
            F.sum("n").cast("long").alias("n_events"),
        )
    )


_EWMA_ALPHA = 0.3


@register(
    "ewma_daily_by_type",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             ROUND(sum(value), 2) / count(*) AS x
      FROM events GROUP BY event_type, date_trunc('day', ts)
    ),
    idx AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
      FROM daily
    )
    SELECT event_type, day, ROUND(x, 6) AS daily_avg,
           ROUND(
             pow({1 - _EWMA_ALPHA}, t) * (
               first_value(x) OVER w
               + sum(CASE WHEN t = 0 THEN 0.0
                          ELSE x * {_EWMA_ALPHA} * pow({1 / (1 - _EWMA_ALPHA)}, t)
                     END) OVER w
             ), 6) AS ewma
    FROM idx
    WINDOW w AS (PARTITION BY event_type ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def ewma_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α = {_EWMA_ALPHA}) of the
    daily mean per event_type — the smoothing/forecast-baseline
    operator Spark has no built-in for. The recurrence
    s_t = α·x_t + (1−α)·s_{{t−1}} is linearized into ONE running-sum
    window via rescaling: s_T = (1−α)^T · (x_0 + Σ_{{i≥1}}
    α·(1−α)^{{−i}}·x_i) — no recursion, no Python, no per-group
    collect; two window functions over one sort order, evaluated in a
    single WindowExec pass after the daily pre-aggregate (which also
    bounds the rescale exponent: ≤ days-per-type, so (1−α)^{{−t}}
    can't overflow on an unbounded event stream; on multi-year series,
    window the rescale per month and chain segment seeds). The daily
    mean uses the boundary-stable round(sum,2)/n formulation."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg((F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("x"))
    wo = Window.partitionBy("event_type").orderBy("day")
    idx = daily.withColumn("t", F.row_number().over(wo) - 1)
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    a = _EWMA_ALPHA
    rescaled = F.when(F.col("t") == 0, F.lit(0.0)).otherwise(
        F.col("x") * a * F.pow(F.lit(1 / (1 - a)), F.col("t"))
    )
    ewma = F.pow(F.lit(1 - a), F.col("t")) * (
        F.first("x").over(w) + F.sum(rescaled).over(w)
    )
    return idx.select(
        "event_type",
        "day",
        F.round("x", 6).alias("daily_avg"),
        F.round(ewma, 6).alias("ewma"),
    )


@register(
    "gap_fill_daily_interp",
    oracle="""
    WITH agg AS (
      SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS value_raw
      FROM events WHERE value >= 200 GROUP BY 1, 2
    ),
    b AS (SELECT min(day) AS d0, max(day) AS d1 FROM agg),
    spine AS (
      SELECT t.event_type, u.day
      FROM (SELECT DISTINCT event_type FROM agg) t
      CROSS JOIN (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
                  FROM b) u
    ),
    j AS (
      SELECT s.event_type, s.day, a.value_raw
      FROM spine s LEFT JOIN agg a USING (event_type, day)
    ),
    k AS (
      SELECT event_type, day, value_raw,
             last_value(value_raw IGNORE NULLS) OVER wb AS prev_v,
             last_value(CASE WHEN value_raw IS NOT NULL THEN day END
                        IGNORE NULLS) OVER wb AS prev_d,
             first_value(value_raw IGNORE NULLS) OVER wf AS next_v,
             first_value(CASE WHEN value_raw IS NOT NULL THEN day END
                         IGNORE NULLS) OVER wf AS next_d
      FROM j
      WINDOW wb AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           ROUND(value_raw, 6) AS value_raw,
           ROUND(CASE WHEN value_raw IS NOT NULL THEN value_raw
                      WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
                      ELSE prev_v + (next_v - prev_v)
                           * (date_diff('day', prev_d, day) * 1e0
                              / date_diff('day', prev_d, next_d))
                 END, 6) AS value_interp,
           value_raw IS NULL AS is_gap
    FROM k
    """,
)
def gap_fill_daily_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar resample + LINEAR INTERPOLATION
    (operators/timeseries.resample_daily_interp): the trend-modelling
    sibling of gap_fill_daily_locf on the same genuinely-sparse series
    (value >= 200 keeps ~30-40% of (type, day) buckets empty). Each gap
    lerps between its nearest bracketing observations via two
    mirror-image ignore-nulls windows — no self-join, no per-gap
    search; leading/trailing gaps (one bracket missing) stay null by
    contract. Windows run over the |types| x |days| spine, never raw
    events. The datediff fraction and lerp are spelled identically in
    the DuckDB oracle (1e0 literal keeps it in DOUBLE)."""
    from dataengineeringproject_spark.operators.timeseries import (
        resample_daily_interp,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") >= 200)
    out = resample_daily_interp(ev, "event_type", "ts", F.avg("value"))
    return out.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("value_raw", 6).alias("value_raw"),
        F.round("value_raw_interp", 6).alias("value_interp"),
        "is_gap",
    )


# --- in-plan OLS trend + day-of-week seasonal anomalies (r5) ------------------
# Shared convention: the daily mean is carried as EXACT integer
# micro-units (xu = round(round(sum(value), 2) / n * 1e6)) so every
# downstream regression/seasonal sum is an order-independent integer
# aggregate and the closed-form doubles derived from them are
# bit-identical across engines.

_TREND_EPOCH = "2024-01-01"  # x-origin; slope is invariant to the offset


def _daily_xu_sql() -> str:
    """DuckDB CTE fragment: daily mean per (event_type, day) in integer
    micro-units."""
    return """
    d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(round(round(sum(value), 2) / count(*) * 1e6) AS BIGINT) AS xu
      FROM events GROUP BY 1, 2
    )"""


def _daily_xu(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.round(F.round(F.sum("value"), 2) / F.count(F.lit(1)) * F.lit(1e6))
        .cast("long")
        .alias("xu")
    )


# Shared by trend_slope_daily and streaming_trend_slope (which holds
# its converged per-(type, day) state to the SAME value hash).
TREND_SLOPE_ORACLE = f"""
    WITH {_daily_xu_sql()},
    s AS (
      SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(xu) AS sy,
             sum(x * xu) AS sxy, sum(x * x) AS sxx
      FROM (SELECT event_type, xu,
                   datediff('day', DATE '{_TREND_EPOCH}', day) AS x FROM d)
      GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0) / 1e6, 6)
             AS slope_per_day,
           round((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0) * sx)
                 / n / 1e6, 6) AS intercept
    FROM s
    """


def trend_finish(d: DataFrame) -> DataFrame:
    """OLS closed form over a daily frame (event_type, day DATE,
    xu LONG micro-units) — the batch query and the streaming read-back
    share this finisher so both hold to TREND_SLOPE_ORACLE.

    A one-observation series has denominator n·Σx²−(Σx)² = 0: the
    slope/intercept come out NULL (try_divide, mirrored as NULLIF in
    the oracle) — 'trend undefined', not a crash. Spark 4 runs ANSI by
    default, so a bare `/` would THROW DIVIDE_BY_ZERO there (caught by
    tests/test_edge_branches.py; the shipped testdata never reaches
    the branch, production data can)."""
    d2 = d.select(
        "event_type", "xu",
        F.datediff("day", F.lit(_TREND_EPOCH).cast("date")).cast("long").alias("x"),
    )
    s = d2.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("xu").alias("sy"),
        F.sum(F.col("x") * F.col("xu")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = F.try_divide(num, den)
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.round(slope / F.lit(1e6), 6).alias("slope_per_day"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx"))
            / F.col("n")
            / F.lit(1e6),
            6,
        ).alias("intercept"),
    )


@register("trend_slope_daily", oracle=TREND_SLOPE_ORACLE)
def trend_slope_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of the daily mean — ordinary least
    squares as a closed-form over FIVE integer aggregates (n, Σx, Σy,
    Σxy, Σx²), the in-database regression idiom: one map-side-combined
    pass over the daily pre-aggregate, no iteration, no driver math.
    y rides in exact micro-units and x is days since {_TREND_EPOCH}
    (slope is offset-invariant; the intercept is the fitted level AT
    the epoch), so both engines derive slope = (nΣxy − ΣxΣy) /
    (nΣx² − (Σx)²) from identical integers. At 100 TB the daily frame
    this runs on is |types| × |days| rows — the regression cost is the
    pre-aggregate's, which is the already-proven daily_agg shuffle."""
    return trend_finish(_daily_xu(spark, sf_dir))


_SEAS_Z = 2.0  # anomaly bar in residual sigmas

# Shared by seasonal_dow_anomaly and streaming_seasonal_dow (the
# streaming twin converges the same per-(type, day) state).
SEASONAL_DOW_ORACLE = f"""
    WITH {_daily_xu_sql()},
    b AS (
      SELECT event_type, dayofweek(day) AS dow,
             CAST(sum(xu) AS DOUBLE) / count(*) AS bu
      FROM d GROUP BY 1, 2
    ),
    r AS (
      SELECT d.event_type, d.day, d.xu, b.bu,
             CAST(round(d.xu - b.bu) AS BIGINT) AS ru
      FROM d JOIN b ON b.event_type = d.event_type
                   AND b.dow = dayofweek(d.day)
    ),
    sg AS (
      SELECT event_type,
             sqrt(CAST(sum(ru * ru) AS DOUBLE) / count(*)
                  - (CAST(sum(ru) AS DOUBLE) / count(*))
                    * (CAST(sum(ru) AS DOUBLE) / count(*))) AS sigma
      FROM r GROUP BY 1
    )
    SELECT r.event_type, strftime(r.day, '%Y-%m-%d') AS day,
           round(r.xu / 1e6, 6) AS daily_mean,
           round(r.bu / 1e6, 6) AS seasonal_mean,
           round(r.ru / NULLIF(sg.sigma, 0), 6) AS z,
           COALESCE(abs(r.ru / NULLIF(sg.sigma, 0)) >= {_SEAS_Z}e0,
                    FALSE) AS is_anomaly
    FROM r JOIN sg USING (event_type)
    """


def seasonal_finish(d: DataFrame) -> DataFrame:
    """Weekday-baseline residual z-scores over a daily frame
    (event_type, day DATE, xu LONG micro-units) — shared by the batch
    query and the streaming read-back, both held to
    SEASONAL_DOW_ORACLE."""
    d = d.withColumn("dow", F.dayofweek("day") - F.lit(1))
    # The baseline/sigma sides re-aggregate the SAME frame they join
    # back onto; re-aliasing their key columns mints fresh attributes
    # so the self-join resolves even when `d` reads from a streaming
    # memory-sink view (same fix as psi_finish — batch parquet lineage
    # dedups automatically, MemoryPlan lineage does not).
    b = (
        d.groupBy("event_type", "dow")
        .agg((F.sum("xu").cast("double") / F.count(F.lit(1))).alias("bu"))
        .select(
            F.col("event_type").alias("b_et"),
            F.col("dow").alias("b_dow"),
            "bu",
        )
    )
    r = d.join(
        F.broadcast(b),
        (F.col("event_type") == F.col("b_et")) & (F.col("dow") == F.col("b_dow")),
    ).select(
        "event_type", "day", "xu", "bu",
        F.round(F.col("xu") - F.col("bu")).cast("long").alias("ru"),
    )
    mean_ru = F.sum("ru").cast("double") / F.count(F.lit(1))
    sg = r.groupBy("event_type").agg(
        F.sqrt(
            F.sum(F.col("ru") * F.col("ru")).cast("double")
            / F.count(F.lit(1))
            - mean_ru * mean_ru
        ).alias("sigma")
    ).select(F.col("event_type").alias("s_et"), "sigma")
    # try_divide: sigma is 0 when every residual in a type is identical
    # (constant series) — z is then NULL, is_anomaly false, instead of
    # an ANSI DIVIDE_BY_ZERO abort (Spark 4 default; see trend_finish).
    z = F.try_divide(F.col("ru"), F.col("sigma"))
    return r.join(
        F.broadcast(sg), F.col("event_type") == F.col("s_et")
    ).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.col("xu") / F.lit(1e6), 6).alias("daily_mean"),
        F.round(F.col("bu") / F.lit(1e6), 6).alias("seasonal_mean"),
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) >= F.lit(_SEAS_Z), F.lit(False)).alias(
            "is_anomaly"
        ),
    )


@register("seasonal_dow_anomaly", oracle=SEASONAL_DOW_ORACLE)
def seasonal_dow_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal baseline + residual z-score anomalies per
    event_type: the seasonality-aware twin of outlier_mad_robust_zscore
    (which assumes a flat baseline). Baseline = mean daily level per
    (type, weekday); residuals are re-quantized to exact integer
    micro-units so the per-type sigma comes from order-independent
    integer sums; z = residual/sigma flags |z| >= {_SEAS_Z}. Weekday
    convention: DuckDB dayofweek (0 = Sunday) == Spark dayofweek − 1.
    Physical shape: two map-side-combined aggregates over the daily
    frame (baseline keyed (type, dow) — <= |types|×7 rows, broadcast
    back; sigma keyed type), one broadcast join each — nothing scales
    with raw event volume past the daily pre-aggregate."""
    return seasonal_finish(_daily_xu(spark, sf_dir))


@register(
    "trend_theil_sen",
    oracle=f"""
    WITH {_daily_xu_sql()},
    p AS (
      SELECT a.event_type,
             CAST(b.xu - a.xu AS DOUBLE)
             / CAST(datediff('day', a.day, b.day) AS DOUBLE) / 1e6 AS sl
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    r AS (
      SELECT event_type, sl,
             row_number() OVER (PARTITION BY event_type ORDER BY sl) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM p
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           round(sl, 6) AS slope_per_day
    FROM r WHERE rn = (n + 1) // 2
    """,
)
def trend_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event_type: the LOWER MEDIAN of all
    pairwise day-to-day slopes of the daily mean — the estimator that
    shrugs off the outlier days OLS chases (trend_slope_daily is the
    parametric twin; a drift dashboard shows both and alarms when they
    diverge, because that gap IS the outlier influence). Slopes are
    doubles from exact integer micro-unit differences, so every pair
    value is engine-identical; the median is rank-selected (row_number
    = (n+1)/2 over the slope order), not interpolated, so no engine's
    percentile convention can move it. Pair count is days-per-type
    choose 2 — bounded by the CALENDAR, not event volume (a year is
    ~66k pairs per type), generated by a self-join of the tiny daily
    frame; the only shuffle past the daily pre-aggregate is the
    per-type median sort of that bounded pair set."""
    d = _daily_xu(spark, sf_dir)
    a = d.select("event_type", F.col("day").alias("da"), F.col("xu").alias("xa"))
    b = d.select("event_type", F.col("day").alias("db"), F.col("xu").alias("xb"))
    p = (
        a.join(b, "event_type")
        .filter(F.col("da") < F.col("db"))
        .select(
            "event_type",
            (
                (F.col("xb") - F.col("xa")).cast("double")
                / F.datediff("db", "da").cast("double")
                / F.lit(1e6)
            ).alias("sl"),
        )
    )
    from pyspark.sql import Window

    wo = Window.partitionBy("event_type").orderBy("sl")
    wc = Window.partitionBy("event_type")
    r = p.select(
        "event_type", "sl",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return r.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.round("sl", 6).alias("slope_per_day"),
    )


_MK_SCHEMA = "event_type string, n_days long, s_stat long, var_s double, z double"


@register(
    "trend_mann_kendall",
    oracle=f"""
    WITH {_daily_xu_sql()},
    p AS (
      SELECT a.event_type,
             CASE WHEN b.xu > a.xu THEN 1
                  WHEN b.xu < a.xu THEN -1 ELSE 0 END AS sg
      FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
    ),
    s AS (SELECT event_type, CAST(sum(sg) AS BIGINT) AS s_stat
          FROM p GROUP BY 1),
    n AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
    t AS (SELECT event_type, xu, count(*) AS tc FROM d GROUP BY 1, 2),
    tt AS (SELECT event_type,
                  sum(tc * (tc - 1) * (2 * tc + 5)) AS tie_term
           FROM t GROUP BY 1),
    v AS (
      SELECT n.event_type, n.n,
             (n.n * (n.n - 1) * (2 * n.n + 5) - tt.tie_term) AS num
      FROM n JOIN tt USING (event_type)
    )
    SELECT v.event_type, CAST(v.n AS BIGINT) AS n_days,
           CAST(COALESCE(s.s_stat, 0) AS BIGINT) AS s_stat,
           v.num / 18 AS var_s,
           CASE WHEN v.num > 0 AND COALESCE(s.s_stat, 0) > 0
                  THEN (s.s_stat - 1) / sqrt(v.num / 18)
                WHEN v.num > 0 AND COALESCE(s.s_stat, 0) < 0
                  THEN (s.s_stat + 1) / sqrt(v.num / 18)
                WHEN v.num > 0 THEN 0e0
                ELSE NULL END AS z
    FROM v LEFT JOIN s USING (event_type)
    """,
)
def trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test per event_type — the nonparametric
    hypothesis-test sibling of trend_theil_sen (Theil–Sen estimates the
    slope, MK says whether a monotone trend EXISTS): S = Σ_{{i<j}}
    sign(x_j − x_i) over the daily means in day order, tie-corrected
    variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, and the
    continuity-corrected z = (S∓1)/√Var(S) (NULL when Var = 0: fewer
    than 2 distinct days).

    Deliberately implemented as grouped **applyInPandas** — the
    repo's registered exemplar of the ONE Python-exec shape the fleet
    plan audit permits (Arrow-batched FlatMapGroupsInPandas; zero
    row-at-a-time BatchEvalPython). The grouped frame is the DAILY
    pre-aggregate — calendar-bounded (a year is ~366 rows per type),
    so the O(n²) pair loop inside the UDF is O(days²), never event
    volume, and the only shuffle Python sees is |types| tiny groups.
    All statistics are exact-integer micro-unit arithmetic until the
    final /18 and sqrt, so the doubles are bit-identical to the
    oracle's."""
    import pandas as pd

    d = _daily_xu(spark, sf_dir)

    def _mk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from collections import Counter

        x = [int(v) for v in pdf.sort_values("day")["xu"]]
        n = len(x)
        s = sum(
            (x[j] > x[i]) - (x[j] < x[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie_term = sum(
            t * (t - 1) * (2 * t + 5) for t in Counter(x).values()
        )
        num = n * (n - 1) * (2 * n + 5) - tie_term
        var_s = num / 18
        if num > 0:
            import math

            z = (
                (s - 1) / math.sqrt(var_s)
                if s > 0
                else ((s + 1) / math.sqrt(var_s) if s < 0 else 0.0)
            )
        else:
            z = None
        return pd.DataFrame(
            [
                {
                    "event_type": pdf["event_type"].iloc[0],
                    "n_days": n,
                    "s_stat": s,
                    "var_s": var_s,
                    "z": z,
                }
            ]
        )

    return d.groupBy("event_type").applyInPandas(_mk, _MK_SCHEMA)


@register(
    "session_peak_concurrency",
    oracle=f"""
    WITH t AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL {_GAP_MIN} MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT *, sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM t
    ),
    sess AS (
      SELECT user_id, min(ts) AS st,
             max(ts) + INTERVAL {_GAP_MIN} MINUTE AS en
      FROM s GROUP BY user_id, session_no
    ),
    b AS (
      SELECT CAST(date_trunc('day', st) AS DATE) AS day,
             unnest([st, en]) AS ts, unnest([1, -1]) AS d
      FROM sess
    ),
    run AS (
      SELECT day, ts, d,
             sum(d) OVER (PARTITION BY day ORDER BY ts, d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM b
    ),
    pk AS (SELECT day, max(c) AS peak FROM run GROUP BY 1),
    ns AS (SELECT CAST(date_trunc('day', st) AS DATE) AS day,
                  count(*) AS n_sessions FROM sess GROUP BY 1)
    SELECT strftime(ns.day, '%Y-%m-%d') AS day,
           CAST(ns.n_sessions AS BIGINT) AS n_sessions,
           CAST(pk.peak AS BIGINT) AS peak_concurrent,
           strftime(min(run.ts), '%Y-%m-%d %H:%M:%S') AS peak_at
    FROM pk JOIN run ON run.day = pk.day AND run.c = pk.peak
    JOIN ns ON ns.day = pk.day
    GROUP BY 1, 2, 3
    """,
)
def session_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line pattern: each
    session (built by the same {_GAP_MIN}-min session_window as
    session_window_agg) emits a +1 boundary at its start and a −1 at
    its end; the running sum over (ts, d)-ordered boundaries IS the
    live concurrency curve, its per-day max the capacity-planning
    number. End boundaries sort BEFORE starts at the same instant
    (d = −1 < +1), making session ends exclusive — back-to-back
    sessions never double-count. Both boundaries ride the session's
    START-day partition, so the sort is per-day bounded (sessions per
    day, not corpus): the same calendar-partitioned shape that lets a
    100 TB event history compute the curve day-parallel. peak_at is
    the earliest instant the peak is reached (min over tie rows —
    order within identical (ts, d) keys cannot change the max or the
    min). The interval-overlap analysis family's aggregate form: the
    pairwise overlap join materializes O(pairs), the sweep line is
    O(boundaries log boundaries) and answers the question dashboards
    actually ask."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    sess = ev.groupBy(
        "user_id", F.session_window("ts", f"{_GAP_MIN} minutes").alias("win")
    ).agg(F.count(F.lit(1)).alias("n"))
    sess = sess.select(
        F.date_trunc("day", "win.start").cast("date").alias("day"),
        F.col("win.start").alias("st"),
        F.col("win.end").alias("en"),
    )
    b = sess.select(
        "day",
        F.explode(
            F.array(
                F.struct(F.col("st").alias("ts"), F.lit(1).alias("d")),
                F.struct(F.col("en").alias("ts"), F.lit(-1).alias("d")),
            )
        ).alias("e"),
    ).select("day", "e.ts", "e.d")
    w = (
        Window.partitionBy("day")
        .orderBy("ts", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = b.withColumn("c", F.sum("d").over(w))
    pk = run.groupBy("day").agg(F.max("c").alias("peak"))
    ns = sess.groupBy("day").agg(F.count(F.lit(1)).alias("n_sessions"))
    pk2 = pk.select(F.col("day").alias("p_day"), "peak")
    at = (
        run.join(
            F.broadcast(pk2),
            (F.col("day") == F.col("p_day")) & (F.col("c") == F.col("peak")),
        )
        .groupBy("day", "peak")
        .agg(F.min("ts").alias("peak_at"))
    )
    return ns.join(at, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_sessions").cast("long").alias("n_sessions"),
        F.col("peak").cast("long").alias("peak_concurrent"),
        F.date_format("peak_at", "yyyy-MM-dd HH:mm:ss").alias("peak_at"),
    )


_OVL_TOPK = 50
# Per-(day, hour-bucket) session-concurrency cap (VERDICT r11 item 2:
# this was the fleet's only heavy query whose candidate count scales
# with concurrency SQUARED and had no structural ceiling — measured
# 59.6x time at 100x data, ~6e10 joined candidates from max-occupancy
# 6,244 sessions/bucket). The cap keeps, per bucket, the _OVL_BUCKCAP
# sessions with the greatest overlap POTENTIAL — session length, since
# a pair's overlap_sec = min(en)-max(st) can never exceed either
# member's length — under the deterministic total order (length DESC,
# user_id ASC, st ASC), the _AA_MIDCAP/_TC_DFABS convention. Candidates
# are then bounded by buckets x cap^2 (linear in time span, constant in
# concurrency): measured occupancy max 243/bucket at sf0.1 (below the
# cap -> all provided testdata byte-identical), 2,124 at 10x, 6,244 at
# 100x where the cap bounds the join to ~2e8 candidates (~300x fewer).
# The cap is SEMANTIC (a pair counts only if both sessions rank within
# the cap in the bucket of their later start) and mirrored in the
# oracle; dropped-session mass at scale is the query's honesty
# metric, recorded in probe_scale100_r12.json (script:
# tools/probe_scale100.py, last in commit 0cbd52b).
_OVL_BUCKCAP = 256


@register(
    "session_overlap_top_pairs",
    oracle=f"""
    WITH t AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL {_GAP_MIN} MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT *, sum(is_new) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM t
    ),
    sess AS (
      SELECT user_id, min(ts) AS st,
             max(ts) + INTERVAL {_GAP_MIN} MINUTE AS en,
             CAST(date_trunc('day', min(ts)) AS DATE) AS day
      FROM s GROUP BY user_id, session_no
    ),
    e AS (
      SELECT day, user_id, st, en,
             CAST(floor(epoch(en)) AS BIGINT)
               - CAST(floor(epoch(st)) AS BIGINT) AS len,
             unnest(generate_series(
               CAST(floor(epoch(st)) AS BIGINT) // 3600,
               CAST(floor(epoch(en)) AS BIGINT) // 3600)) AS hb
      FROM sess
    ),
    k AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY day, hb
                 ORDER BY len DESC, user_id ASC, st ASC) AS rn
        FROM e) WHERE rn <= {_OVL_BUCKCAP}
    ),
    p AS (
      SELECT a.user_id AS ua, b.user_id AS ub,
             a.st AS sa_st, b.st AS sb_st,
             CAST(floor(epoch(least(a.en, b.en)))
                  - floor(epoch(greatest(a.st, b.st))) AS BIGINT) AS overlap_sec
      FROM k a JOIN k b
        ON a.day = b.day AND a.hb = b.hb AND a.user_id < b.user_id
       AND a.st < b.en AND b.st < a.en
       AND a.hb = CAST(floor(epoch(greatest(a.st, b.st))) AS BIGINT) // 3600
    )
    SELECT ua, ub, strftime(sa_st, '%Y-%m-%d %H:%M:%S') AS sa_start,
           strftime(sb_st, '%Y-%m-%d %H:%M:%S') AS sb_start, overlap_sec
    FROM p
    ORDER BY overlap_sec DESC, ua, ub, sa_st, sb_st LIMIT {_OVL_TOPK}
    """,
)
def session_overlap_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_OVL_TOPK} longest co-present session pairs between
    DIFFERENT users — the co-presence signal abuse/fraud teams rank
    (account pairs that are always online together): the pairwise form
    of the interval-overlap family whose aggregate form is
    session_peak_concurrency's sweep line. The self-join is BLOCKED on
    (start-day, hour-bucket) with a per-bucket top-{_OVL_BUCKCAP}
    concurrency cap ranked by session length — the overlap-potential
    bound, see _OVL_BUCKCAP (same-day-start is the deliberate
    convention — a pair's overlap is attributed to the day both
    sessions began, cross-midnight tails under the {_GAP_MIN}-min gap
    are negligible and documented). Overlap is floor-epoch-second
    arithmetic (engine-exact integers) and the top-K is a
    TakeOrderedAndProject heap under the total order (sec, users,
    starts)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    sess = (
        ev.groupBy(
            "user_id", F.session_window("ts", f"{_GAP_MIN} minutes").alias("win")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("win.start").alias("st"),
            F.col("win.end").alias("en"),
            F.date_trunc("day", "win.start").cast("date").alias("day"),
        )
    )
    # Hour-bucket blocking (r10 scale-trend finding: the original
    # start-DAY blocking was the fleet's only scalable row at the 10x
    # linear boundary — Σday-block² grows with daily session VOLUME).
    # Each session explodes to the hour buckets it spans (gap-bounded
    # sessions span ~1-2 buckets), sides equi-join on (day, hour), and
    # each overlapping pair is generated EXACTLY ONCE — in the bucket
    # containing greatest(st), an hour both sessions necessarily span —
    # so no post-join distinct. r12 (VERDICT r11 item 2): each bucket
    # keeps only its top-_OVL_BUCKCAP sessions by overlap potential
    # (length DESC, user_id, st — see _OVL_BUCKCAP), so candidates are
    # bounded by buckets x cap^2 regardless of concurrency density; the
    # cap is semantic and the oracle mirrors it row-for-row.
    hours = F.sequence(
        F.expr("cast(st as long) div 3600"),
        F.expr("cast(en as long) div 3600"),
    )
    e = sess.select(
        "day", "user_id", "st", "en",
        (F.col("en").cast("long") - F.col("st").cast("long")).alias("len"),
        F.explode(hours).alias("hb"),
    )
    wcap = Window.partitionBy("day", "hb").orderBy(
        F.desc("len"), F.asc("user_id"), F.asc("st")
    )
    k = e.withColumn("rn", F.row_number().over(wcap)).filter(
        F.col("rn") <= _OVL_BUCKCAP
    )
    # One materialization of the capped per-(session, bucket) frame
    # (<= cap rows per bucket): both join sides consume it, and without
    # the checkpoint each side re-runs the session_window aggregation
    # over raw events PLUS the explode+rank (the signature_neardup/
    # global_row_number ReuseExchange failure family).
    k = k.localCheckpoint()
    a = k.select(
        F.col("day"), F.col("hb"), F.col("user_id").alias("ua"),
        F.col("st").alias("a_st"), F.col("en").alias("a_en"),
    )
    b = k.select(
        F.col("day"), F.col("hb"), F.col("user_id").alias("ub"),
        F.col("st").alias("b_st"), F.col("en").alias("b_en"),
    )
    p = (
        a.join(b, ["day", "hb"])
        .filter(
            (F.col("ua") < F.col("ub"))
            & (F.col("a_st") < F.col("b_en"))
            & (F.col("b_st") < F.col("a_en"))
            & (
                F.col("hb")
                == F.expr(
                    "cast(greatest(a_st, b_st) as long) div 3600"
                )
            )
        )
        .select(
            "ua", "ub",
            F.col("a_st").alias("sa_st"),
            F.col("b_st").alias("sb_st"),
            (
                F.least("a_en", "b_en").cast("long")
                - F.greatest("a_st", "b_st").cast("long")
            ).alias("overlap_sec"),
        )
    )
    return (
        p.orderBy(
            F.desc("overlap_sec"), F.asc("ua"), F.asc("ub"),
            F.asc("sa_st"), F.asc("sb_st"),
        )
        .limit(_OVL_TOPK)
        .select(
            "ua", "ub",
            F.date_format("sa_st", "yyyy-MM-dd HH:mm:ss").alias("sa_start"),
            F.date_format("sb_st", "yyyy-MM-dd HH:mm:ss").alias("sb_start"),
            "overlap_sec",
        )
    )


_CUSUM_BASE_CUT = "2024-01-11"  # baseline window: days strictly before
_CUSUM_H_SIGMA = 3.0            # alarm threshold in baseline sigmas


# Shared by cusum_level_shift and streaming_cusum_level_shift (third
# consumer of the per-(type, day) streaming state).
CUSUM_ORACLE = f"""
    WITH {_daily_xu_sql()},
    base AS (
      SELECT event_type,
             CAST(sum(xu) AS DOUBLE) / count(*) AS mu,
             sqrt(CAST(sum(xu * xu) AS DOUBLE) / count(*)
                  - (CAST(sum(xu) AS DOUBLE) / count(*))
                    * (CAST(sum(xu) AS DOUBLE) / count(*))) AS sigma
      FROM d WHERE day < DATE '{_CUSUM_BASE_CUT}' GROUP BY 1
    ),
    c AS (
      SELECT d.event_type, d.day, d.xu, base.mu, base.sigma,
             sum(CAST(round(d.xu - base.mu) AS BIGINT)) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu
      FROM d JOIN base USING (event_type)
      WHERE d.day >= DATE '{_CUSUM_BASE_CUT}'
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round(xu / 1e6, 6) AS daily_mean,
           round(cu / 1e6, 6) AS cusum,
           abs(cu) > {_CUSUM_H_SIGMA}e0 * sigma AS alarm
    FROM c
    """


def cusum_finish(d: DataFrame) -> DataFrame:
    """CUSUM over a daily frame (event_type, day DATE, xu LONG) —
    shared by the batch query and the streaming read-back, both held
    to CUSUM_ORACLE."""
    from pyspark.sql import Window

    cut = F.lit(_CUSUM_BASE_CUT).cast("date")
    base = (
        d.filter(F.col("day") < cut)
        .groupBy("event_type")
        .agg(
            (F.sum("xu").cast("double") / F.count(F.lit(1))).alias("mu"),
            F.sqrt(
                F.sum(F.col("xu") * F.col("xu")).cast("double")
                / F.count(F.lit(1))
                - (F.sum("xu").cast("double") / F.count(F.lit(1)))
                * (F.sum("xu").cast("double") / F.count(F.lit(1)))
            ).alias("sigma"),
        )
        .select(F.col("event_type").alias("b_et"), "mu", "sigma")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        d.filter(F.col("day") >= cut)
        .join(F.broadcast(base), F.col("event_type") == F.col("b_et"))
        .withColumn(
            "cu",
            F.sum(F.round(F.col("xu") - F.col("mu")).cast("long")).over(w),
        )
    )
    return c.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.col("xu") / F.lit(1e6), 6).alias("daily_mean"),
        F.round(F.col("cu") / F.lit(1e6), 6).alias("cusum"),
        (F.abs(F.col("cu")) > F.lit(_CUSUM_H_SIGMA) * F.col("sigma")).alias(
            "alarm"
        ),
    )


@register("cusum_level_shift", oracle=CUSUM_ORACLE)
def cusum_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detector — the statistical-process-control
    member of the monitoring family (drift_* compare distributions,
    seasonal_dow_anomaly flags single days; CUSUM accumulates SMALL
    persistent shifts a per-day z-score never trips): baseline mean μ
    and σ are frozen from the pre-{_CUSUM_BASE_CUT} window (exact
    integer sums), and the monitored window accumulates round(x − μ)
    as an EXACT INTEGER running sum per type — the cumulative sum is
    order-exact by construction, no float drift across the
    accumulation. Alarm when |CUSUM| exceeds {_CUSUM_H_SIGMA}σ of the
    baseline. At 100 TB this runs on the daily pre-aggregate like the
    whole trend family; the running window partitions per type over
    calendar-bounded rows."""
    return cusum_finish(_daily_xu(spark, sf_dir))


_ACF_MAX_LAG = 7


@register(
    "acf_daily_by_type",
    oracle=f"""
    WITH {_daily_xu_sql()},
    mu AS (
      SELECT event_type, CAST(sum(xu) AS DOUBLE) / count(*) AS mu
      FROM d GROUP BY 1
    ),
    r AS (
      SELECT d.event_type, d.day,
             CAST(round(d.xu - mu.mu) AS BIGINT) AS ru
      FROM d JOIN mu USING (event_type)
    ),
    den AS (
      SELECT event_type, sum(ru * ru) AS ss FROM r GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
    num AS (
      SELECT a.event_type, lags.lag,
             count(*) AS n_pairs, sum(a.ru * b.ru) AS sp
      FROM r a
      CROSS JOIN lags
      JOIN r b ON b.event_type = a.event_type
              AND b.day = a.day + lags.lag * INTERVAL 1 DAY
      GROUP BY 1, 2
    )
    SELECT num.event_type, CAST(num.lag AS BIGINT) AS lag,
           CAST(num.n_pairs AS BIGINT) AS n_pairs,
           round(CAST(num.sp AS DOUBLE) / den.ss, 6) AS acf
    FROM num JOIN den USING (event_type)
    """,
)
def acf_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily mean at lags 1..{_ACF_MAX_LAG} per
    event_type — the diagnostic that PICKS the right monitor from this
    family (significant lag-7 → use the weekday baseline; slow decay →
    trend/CUSUM; white → per-day z-scores suffice). Residuals are the
    same rounded integer micro-unit deviations the seasonal/CUSUM
    queries use, so numerator and denominator are exact integer sums
    (calendar-bounded — the day frame caps the products well inside
    int64); the lag pairing is a calendar self-join on day + lag, so
    missing days drop pairs instead of misaligning them (the classic
    off-by-one of positional shifts on gappy series). Output is
    types × lags rows off the daily pre-aggregate."""
    d = _daily_xu(spark, sf_dir)
    mu = d.groupBy("event_type").agg(
        (F.sum("xu").cast("double") / F.count(F.lit(1))).alias("mu")
    ).select(F.col("event_type").alias("m_et"), "mu")
    r = d.join(F.broadcast(mu), F.col("event_type") == F.col("m_et")).select(
        "event_type", "day",
        F.round(F.col("xu") - F.col("mu")).cast("long").alias("ru"),
    )
    den = r.groupBy("event_type").agg(
        F.sum(F.col("ru") * F.col("ru")).alias("ss")
    )
    lags = local_df(
        spark, [(k,) for k in range(1, _ACF_MAX_LAG + 1)], "lag BIGINT"
    )
    a = r.select("event_type", "day", F.col("ru").alias("ra"))
    b = r.select(
        F.col("event_type").alias("b_et"),
        F.col("day").alias("b_day"),
        F.col("ru").alias("rb"),
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b_et") == F.col("event_type"))
            & (
                F.col("b_day")
                == F.expr("date_add(day, CAST(lag AS INT))")
            ),
        )
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("ra") * F.col("rb")).alias("sp"),
        )
    )
    return num.join(den, "event_type").select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(F.col("sp").cast("double") / F.col("ss"), 6).alias("acf"),
    )


@register(
    "pacf_daily_by_type",
    oracle=f"""
    WITH {_daily_xu_sql()},
    mu AS (
      SELECT event_type, CAST(sum(xu) AS DOUBLE) / count(*) AS mu
      FROM d GROUP BY 1
    ),
    r AS (
      SELECT d.event_type, d.day,
             CAST(round(d.xu - mu.mu) AS BIGINT) AS ru
      FROM d JOIN mu USING (event_type)
    ),
    den AS (SELECT event_type, sum(ru * ru) AS ss FROM r GROUP BY 1),
    num AS (
      SELECT a.event_type, k.lag, sum(a.ru * b.ru) AS sp
      FROM r a
      CROSS JOIN (SELECT unnest(range(1, 4)) AS lag) k
      JOIN r b ON b.event_type = a.event_type
              AND b.day = a.day + k.lag * INTERVAL 1 DAY
      GROUP BY 1, 2
    ),
    rr AS (
      SELECT den.event_type,
             max(CASE WHEN lag = 1 THEN CAST(sp AS DOUBLE) / ss END) AS r1,
             max(CASE WHEN lag = 2 THEN CAST(sp AS DOUBLE) / ss END) AS r2,
             max(CASE WHEN lag = 3 THEN CAST(sp AS DOUBLE) / ss END) AS r3
      FROM num JOIN den USING (event_type) GROUP BY 1
    ),
    dl AS (
      SELECT event_type, r1, r2, r3,
             r1 AS a11,
             (r2 - r1 * r1) / NULLIF(1e0 - r1 * r1, 0) AS a22
      FROM rr
    ),
    dl2 AS (
      SELECT *, a11 - a22 * a11 AS a21 FROM dl
    ),
    p AS (
      SELECT event_type, 1 AS lag, a11 AS pacf FROM dl2
      UNION ALL SELECT event_type, 2, a22 FROM dl2
      UNION ALL
      SELECT event_type, 3,
             (r3 - a21 * r2 - a22 * r1)
             / NULLIF(1e0 - a21 * r1 - a22 * r2, 0)
      FROM dl2
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, round(pacf, 6) AS pacf
    FROM p
    """,
)
def pacf_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1–3 via the Durbin–Levinson
    closed forms over the SAME integer-exact autocorrelations as
    acf_daily_by_type — the other half of the Box–Jenkins diagnostic
    pair (ACF tails + PACF cutoff at p ⇒ AR(p); the reverse ⇒ MA):
    φ11 = r1, φ22 = (r2 − r1²)/(1 − r1²), φ33 from the k = 3
    recursion. Every r_k is a ratio of exact integer sums, and the
    recursion is scalar per-row arithmetic mirrored operation-for-
    operation in both engines (NULL on the degenerate unit-root
    denominators via NULLIF/try_divide). Output is types × 3 rows off
    the daily pre-aggregate."""
    d = _daily_xu(spark, sf_dir)
    mu = d.groupBy("event_type").agg(
        (F.sum("xu").cast("double") / F.count(F.lit(1))).alias("mu")
    ).select(F.col("event_type").alias("m_et"), "mu")
    r = d.join(F.broadcast(mu), F.col("event_type") == F.col("m_et")).select(
        "event_type", "day",
        F.round(F.col("xu") - F.col("mu")).cast("long").alias("ru"),
    )
    den = r.groupBy("event_type").agg(
        F.sum(F.col("ru") * F.col("ru")).alias("ss")
    )
    lags = local_df(spark, [(1,), (2,), (3,)], "lag BIGINT")
    a = r.select("event_type", "day", F.col("ru").alias("ra"))
    b = r.select(
        F.col("event_type").alias("b_et"),
        F.col("day").alias("b_day"),
        F.col("ru").alias("rb"),
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b_et") == F.col("event_type"))
            & (F.col("b_day") == F.expr("date_add(day, CAST(lag AS INT))")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("ra") * F.col("rb")).alias("sp"))
    )
    def rk(k: int):
        return F.max(
            F.when(
                F.col("lag") == k, F.col("sp").cast("double") / F.col("ss")
            )
        )

    rr = (
        num.join(den, "event_type")
        .groupBy("event_type")
        .agg(rk(1).alias("r1"), rk(2).alias("r2"), rk(3).alias("r3"))
    )
    a11 = F.col("r1")
    a22 = F.try_divide(
        F.col("r2") - F.col("r1") * F.col("r1"),
        F.lit(1.0) - F.col("r1") * F.col("r1"),
    )
    dl2 = rr.select(
        "event_type", "r1", "r2", "r3",
        a11.alias("a11"), a22.alias("a22"),
    ).withColumn("a21", F.col("a11") - F.col("a22") * F.col("a11"))
    p1 = dl2.select(
        "event_type", F.lit(1).cast("long").alias("lag"),
        F.col("a11").alias("pacf"),
    )
    p2 = dl2.select(
        "event_type", F.lit(2).cast("long").alias("lag"),
        F.col("a22").alias("pacf"),
    )
    p3 = dl2.select(
        "event_type", F.lit(3).cast("long").alias("lag"),
        F.try_divide(
            F.col("r3") - F.col("a21") * F.col("r2")
            - F.col("a22") * F.col("r1"),
            F.lit(1.0) - F.col("a21") * F.col("r1")
            - F.col("a22") * F.col("r2"),
        ).alias("pacf"),
    )
    return p1.unionAll(p2).unionAll(p3).select(
        "event_type", "lag", F.round("pacf", 6).alias("pacf")
    )


_EWC_ALPHA = 0.3
_EWC_L = 3.0


@register(
    "ewma_control_chart",
    oracle=f"""
    WITH {_daily_xu_sql()},
    base AS (
      SELECT event_type,
             CAST(sum(xu) AS DOUBLE) / count(*) / 1e6 AS mu,
             sqrt(CAST(sum(xu * xu) AS DOUBLE) / count(*)
                  - (CAST(sum(xu) AS DOUBLE) / count(*))
                    * (CAST(sum(xu) AS DOUBLE) / count(*))) / 1e6 AS sigma
      FROM d WHERE day < DATE '{_CUSUM_BASE_CUT}' GROUP BY 1
    ),
    m AS (
      SELECT d.event_type, d.day, d.xu / 1e6 AS x, base.mu, base.sigma,
             row_number() OVER (PARTITION BY d.event_type
                                ORDER BY d.day) AS t
      FROM d JOIN base USING (event_type)
      WHERE d.day >= DATE '{_CUSUM_BASE_CUT}'
    ),
    e AS (
      SELECT event_type, day, x, mu, sigma, t,
             pow(1e0 - {_EWC_ALPHA}e0, t)
             * (mu + sum({_EWC_ALPHA}e0
                         * pow(1e0 / (1e0 - {_EWC_ALPHA}e0), t) * x)
                  OVER (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
               AS ewma_raw
      FROM m
    ),
    lim AS (
      SELECT event_type, day, x, t, ewma_raw, mu,
             {_EWC_L}e0 * sigma
             * sqrt({_EWC_ALPHA}e0 / (2e0 - {_EWC_ALPHA}e0)
                    * (1e0 - pow(1e0 - {_EWC_ALPHA}e0, 2 * t))) AS band
      FROM e
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           round(x, 6) AS daily_mean,
           round(ewma_raw, 6) AS ewma,
           round(mu + band, 6) AS ucl,
           round(mu - band, 6) AS lcl,
           (ewma_raw > mu + band OR ewma_raw < mu - band) AS alarm
    FROM lim
    """,
)
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (α = {_EWC_ALPHA}, L = {_EWC_L}) — CUSUM's
    SPC sibling: the smoothed statistic s_t = α·x_t + (1−α)·s_(t−1)
    seeded at the frozen baseline mean, charted against the
    TIME-VARYING limits μ ± L·σ·sqrt(α/(2−α)·(1−(1−α)^2t)) that widen
    from the seed to the asymptote — tighter than CUSUM for moderate
    shifts arriving early in the window. The recurrence is linearized
    into ONE running-sum window by the same rescale trick as
    ewma_daily_by_type (exponent bounded by days-per-type, so no
    overflow on a calendar-bounded monitor window); baseline μ/σ come
    from exact integer sums; prefix-window sums evaluate in day order
    on both engines. Alarm when the smoothed statistic exits the
    band — the chart a dashboard actually draws."""
    from pyspark.sql import Window

    d = _daily_xu(spark, sf_dir)
    cut = F.lit(_CUSUM_BASE_CUT).cast("date")
    base = (
        d.filter(F.col("day") < cut)
        .groupBy("event_type")
        .agg(
            (
                F.sum("xu").cast("double") / F.count(F.lit(1)) / F.lit(1e6)
            ).alias("mu"),
            (
                F.sqrt(
                    F.sum(F.col("xu") * F.col("xu")).cast("double")
                    / F.count(F.lit(1))
                    - (F.sum("xu").cast("double") / F.count(F.lit(1)))
                    * (F.sum("xu").cast("double") / F.count(F.lit(1)))
                )
                / F.lit(1e6)
            ).alias("sigma"),
        )
        .select(F.col("event_type").alias("b_et"), "mu", "sigma")
    )
    wt = Window.partitionBy("event_type").orderBy("day")
    m = (
        d.filter(F.col("day") >= cut)
        .join(F.broadcast(base), F.col("event_type") == F.col("b_et"))
        .select(
            "event_type", "day",
            (F.col("xu") / F.lit(1e6)).alias("x"),
            "mu", "sigma",
        )
        .withColumn("t", F.row_number().over(wt))
    )
    a = _EWC_ALPHA
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    term = F.lit(a) * F.pow(F.lit(1.0 / (1.0 - a)), F.col("t")) * F.col("x")
    ewma = F.pow(F.lit(1.0 - a), F.col("t")) * (
        F.col("mu") + F.sum(term).over(wrun)
    )
    band = (
        F.lit(_EWC_L)
        * F.col("sigma")
        * F.sqrt(
            F.lit(a / (2.0 - a))
            * (F.lit(1.0) - F.pow(F.lit(1.0 - a), 2 * F.col("t")))
        )
    )
    e = m.withColumn("ewma_raw", ewma).withColumn("band", band)
    return e.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("x", 6).alias("daily_mean"),
        F.round("ewma_raw", 6).alias("ewma"),
        F.round(F.col("mu") + F.col("band"), 6).alias("ucl"),
        F.round(F.col("mu") - F.col("band"), 6).alias("lcl"),
        (
            (F.col("ewma_raw") > F.col("mu") + F.col("band"))
            | (F.col("ewma_raw") < F.col("mu") - F.col("band"))
        ).alias("alarm"),
    )


_PGRAM_PERIODS = [7.0, 3.5, 2.0]  # days


@register(
    "periodogram_power_daily",
    oracle=f"""
    WITH {_daily_xu_sql()},
    mu AS (
      SELECT event_type, CAST(sum(xu) AS DOUBLE) / count(*) AS mu
      FROM d GROUP BY 1
    ),
    r AS (
      SELECT d.event_type,
             datediff('day', DATE '{_TREND_EPOCH}', d.day) AS t,
             CAST(round(d.xu - mu.mu) AS BIGINT) AS ru
      FROM d JOIN mu USING (event_type)
    ),
    p AS (SELECT unnest([{", ".join(repr(p) + "e0" for p in _PGRAM_PERIODS)}])
                 AS period),
    terms AS (
      SELECT r.event_type, p.period,
             CAST(round(r.ru * cos(2e0 * pi() * r.t / p.period) / 1e3)
                  AS BIGINT) AS cu,
             CAST(round(r.ru * sin(2e0 * pi() * r.t / p.period) / 1e3)
                  AS BIGINT) AS su
      FROM r CROSS JOIN p
    ),
    s AS (
      SELECT event_type, period, sum(cu) AS sc, sum(su) AS ss2,
             count(*) AS n
      FROM terms GROUP BY 1, 2
    ),
    den AS (SELECT event_type, sum(ru * ru) AS sse FROM r GROUP BY 1)
    SELECT s.event_type, s.period,
           round((CAST(sc AS DOUBLE) * sc + CAST(ss2 AS DOUBLE) * ss2)
                 * 1e6 / (s.n * CAST(den.sse AS DOUBLE)), 6)
             AS rel_power
    FROM s JOIN den USING (event_type)
    """,
)
def periodogram_power_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram power of the daily mean at candidate periods
    (7 / 3.5 / 2 days) per event_type — the SPECTRAL member of the
    time-series diagnostics (ACF says 'correlated at lag 7', the
    periodogram says 'a weekly oscillation carries X of the
    variance'): rel_power = (Σru·cos(2πt/P))² + (Σru·sin(2πt/P))²
    normalized by n·Σru² (Schuster periodogram over the centered
    integer residuals, t anchored at the shared trend epoch so both
    engines evaluate identical phases). Cos/sin projections are
    quantized to kilo-unit integers per term so the Goertzel-style
    sums are order-exact; the candidate-period frame is a tiny
    unnest — one pass over the daily frame computes every period. A
    dominant 7-day line justifies the weekday baseline; power at
    un-harmonic periods flags sampling artifacts."""
    d = _daily_xu(spark, sf_dir)
    mu = d.groupBy("event_type").agg(
        (F.sum("xu").cast("double") / F.count(F.lit(1))).alias("mu")
    ).select(F.col("event_type").alias("m_et"), "mu")
    r = d.join(F.broadcast(mu), F.col("event_type") == F.col("m_et")).select(
        "event_type",
        F.datediff("day", F.lit(_TREND_EPOCH).cast("date")).alias("t"),
        F.round(F.col("xu") - F.col("mu")).cast("long").alias("ru"),
    )
    pframe = local_df(
        spark, [(p,) for p in _PGRAM_PERIODS], "period DOUBLE"
    )
    import math as _math

    ang = F.lit(2.0 * _math.pi) * F.col("t") / F.col("period")
    terms = r.crossJoin(F.broadcast(pframe)).select(
        "event_type", "period",
        F.round(F.col("ru") * F.cos(ang) / F.lit(1e3)).cast("long").alias("cu"),
        F.round(F.col("ru") * F.sin(ang) / F.lit(1e3)).cast("long").alias("su"),
    )
    s = terms.groupBy("event_type", "period").agg(
        F.sum("cu").alias("sc"),
        F.sum("su").alias("ss2"),
        F.count(F.lit(1)).alias("n"),
    )
    den = r.groupBy("event_type").agg(
        F.sum(F.col("ru") * F.col("ru")).alias("sse")
    )
    return s.join(den, "event_type").select(
        "event_type", "period",
        F.round(
            (
                F.col("sc").cast("double") * F.col("sc")
                + F.col("ss2").cast("double") * F.col("ss2")
            )
            * F.lit(1e6)
            / (F.col("n") * F.col("sse").cast("double")),
            6,
        ).alias("rel_power"),
    )
