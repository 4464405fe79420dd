"""Reference-parity pipeline: the v1-intent weather ETL
(SURVEY.md §7.2.7) as one lazy DataFrame program.

Stage map (reference → here):
- extract  (v5_group_project_dag.py:36-58)  → sources.ingest + a CSV/DataFrame input
- clean    (v5:68-101)  → `clean_stage`: E1 date parse, E2 month, P7
  drop of unparseable dates, P5 clamps, P6 median fill; no P4
  date-dedup — v5's dedup before aggregation destroys the daily
  averages (SURVEY.md §2.8.1); v1 aggregates full hourly data, which
  matches the declared intent.
- transform (v5:158-222) → `transform_stage`: A1 daily means + E4/A3
  wind-strength day-mode; A2 monthly means + A4 precip mode-or-null.
- validate (v5:236-278) → `validate_stage`: expect gates with the
  reference's exact ValueError messages.
- load     (v5:291-365) → sources.sinks (parquet/CSV/SQLite).

The whole pipeline is ONE Catalyst plan per output: scan → project
(parse/clamp) → fill → two grouped aggregations. The only driver
barriers are the 8 median scalars and the validation counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataengineeringproject_spark.functions.datetime_fns import month_str, parse_formatted_date
from dataengineeringproject_spark.functions.units import kmh_to_ms
from dataengineeringproject_spark.functions.wind import classify_wind
from dataengineeringproject_spark.operators.aggregates import agg_mode, grouped_means
from dataengineeringproject_spark.operators.cleaning import (
    WEATHER_CLAMPS,
    clamp_to_null,
    drop_unparseable,
    fill_with_median,
)
from dataengineeringproject_spark.operators.validation import (
    expect_in_range,
    expect_no_nulls,
)
from dataengineeringproject_spark.schemas import WEATHER_NUMERIC_COLS

DAILY_MEASURES = {
    "Temperature (C)": "daily_avg_temperature",
    "Apparent Temperature (C)": "daily_avg_apparent_temperature",
    "Humidity": "daily_avg_humidity",
    "Wind Speed (km/h)": "daily_avg_wind_speed",
    "Visibility (km)": "daily_avg_visibility",
    "Pressure (millibars)": "daily_avg_pressure",
}

MONTHLY_MEASURES = {
    "Temperature (C)": "monthly_avg_temperature",
    "Apparent Temperature (C)": "monthly_avg_apparent_temperature",
    "Humidity": "monthly_avg_humidity",
    "Visibility (km)": "monthly_avg_visibility",
    "Pressure (millibars)": "monthly_avg_pressure",
}


def clean_stage(df: DataFrame) -> DataFrame:
    """E1+E2 parse, P7 drop of unparseable dates (the reference's intent;
    its own drop is a no-op bug), P5 clamp, P6 median-fill (in the
    reference's order: clamp FIRST so medians see the cleaned domain,
    v5:79-94)."""
    out = df.withColumn("date", parse_formatted_date("Formatted Date")).withColumn(
        "Month", month_str(F.col("date"))
    )
    out = drop_unparseable(out, ["date"])
    out = clamp_to_null(out, WEATHER_CLAMPS)
    return fill_with_median(out, WEATHER_NUMERIC_COLS)


def transform_stage(cleaned: DataFrame) -> dict[str, DataFrame]:
    """Daily + monthly aggregate tables (v5:158-222, v1 semantics).

    In the reference this is transform-broadcast + drop_duplicates; here
    each table is ONE groupBy().agg() (same result, one shuffle each,
    SURVEY.md §2.4). Wind strength: classify hourly km/h speeds (the
    reference's classify_wind converts to m/s internally, v5:113-116),
    then per-day deterministic mode (pandas mode()[0] tie→min, A3).
    """
    hourly = cleaned.withColumn(
        "wind_strengths", classify_wind(kmh_to_ms("Wind Speed (km/h)"))
    )

    daily_means = grouped_means(
        hourly.select("date", *DAILY_MEASURES), ["date"], list(DAILY_MEASURES)
    )
    for src, dst in DAILY_MEASURES.items():
        daily_means = daily_means.withColumnRenamed(f"avg_{src}", dst)
    wind_mode = agg_mode(
        hourly, ["date"], "wind_strengths", on_tie="min", alias="wind_strength"
    )
    daily = (
        daily_means.join(wind_mode, "date", "left")
        .withColumnRenamed("date", "Formatted Date")
        .orderBy("Formatted Date")
    )

    monthly_means = grouped_means(
        hourly.select("Month", *MONTHLY_MEASURES), ["Month"], list(MONTHLY_MEASURES)
    )
    for src, dst in MONTHLY_MEASURES.items():
        monthly_means = monthly_means.withColumnRenamed(f"avg_{src}", dst)
    precip_mode = agg_mode(
        hourly, ["Month"], "Precip Type", on_tie="null", alias="mode_precipitation_type"
    )
    monthly = monthly_means.join(precip_mode, "Month", "left").orderBy("Month")

    return {"daily": daily, "monthly": monthly}


def validate_stage(daily: DataFrame, monthly: DataFrame) -> None:
    """The reference's validation gates with its exact messages
    (v5:243-267). Raises ValidationError (a ValueError) on violation."""
    expect_no_nulls(
        daily,
        ["Formatted Date", *DAILY_MEASURES.values(), "wind_strength"],
        "Validation failed: Missing critical data",
    )
    expect_no_nulls(
        monthly,
        ["Month", *MONTHLY_MEASURES.values(), "mode_precipitation_type"],
        "Validation failed: Missing critical data",
    )
    expect_in_range(
        daily, "daily_avg_temperature", -50, 50,
        "Validation failed: Daily temperature value outside of expected range",
    )
    expect_in_range(
        daily, "daily_avg_humidity", 0, 1,
        "Validation failed: Daily humidity value outside of expected range",
    )
    expect_in_range(
        daily, "daily_avg_wind_speed", 0, 408,
        "Validation failed: Daily wind speed value outside of expected range",
    )
    expect_in_range(
        monthly, "monthly_avg_temperature", -50, 50,
        "Validation failed: Monthly temperature value outside of expected range",
    )
    expect_in_range(
        monthly, "monthly_avg_humidity", 0, 1,
        "Validation failed: Monthly humidity value outside of expected range",
    )


def run_pipeline(raw: DataFrame) -> dict[str, DataFrame]:
    """extract → clean → transform → validate, returning the two
    aggregate tables; the caller picks a sink (sources/sinks.py)."""
    tables = transform_stage(clean_stage(raw))
    validate_stage(tables["daily"], tables["monthly"])
    return tables
