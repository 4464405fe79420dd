"""Reference-parity golden test (SURVEY.md §5.2): the engine pipeline
vs an independent pandas implementation of v1-intent semantics, on a
fixture engineered to hit every edge (clamp bounds, Beaufort
boundaries, mode ties, unparseable dates, median fill).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.weather_fixture import make_weather_fixture, pandas_golden


@pytest.fixture(scope="module")
def fixture_df():
    return make_weather_fixture()


@pytest.fixture(scope="module")
def results(spark, fixture_df):
    from dataengineeringproject_spark.plans.weather import run_pipeline
    from dataengineeringproject_spark.schemas import WEATHER_HISTORY

    raw = spark.createDataFrame(fixture_df, schema=WEATHER_HISTORY)
    tables = run_pipeline(raw)
    golden = pandas_golden(fixture_df)
    return tables, golden


def _assert_frame_match(spark_df, golden: pd.DataFrame, key: str):
    got = spark_df.toPandas().sort_values(key).reset_index(drop=True)
    want = golden.sort_values(key).reset_index(drop=True)
    assert list(got[key].astype(str)) == list(want[key].astype(str))
    for col in want.columns:
        if col == key:
            continue
        g, w = got[col], want[col]
        if w.dtype.kind == "f":
            assert np.allclose(
                g.astype(float), w.astype(float), rtol=1e-9, equal_nan=True
            ), f"{col} mismatch"
        else:
            assert [x if pd.notna(x) else None for x in g] == [
                x if pd.notna(x) else None for x in w
            ], f"{col} mismatch"


def test_daily_matches_golden(results):
    tables, golden = results
    _assert_frame_match(tables["daily"], golden["daily"], "Formatted Date")


def test_monthly_matches_golden(results):
    tables, golden = results
    _assert_frame_match(tables["monthly"], golden["monthly"], "Month")


def test_daily_row_count_is_distinct_dates(results, fixture_df):
    tables, _ = results
    n_days = tables["daily"].count()
    valid = fixture_df["Formatted Date"].str.match(r"\d{4}-\d{2}-\d{2} ")
    assert n_days == fixture_df.loc[valid, "Formatted Date"].str[:10].nunique()


_MISSING = "Validation failed: Missing critical data"
_RANGE = "Validation failed: {} value outside of expected range"

# One breaking edit per gate of validate_stage, in the reference's gate
# order (v5:243-267): (table, column, value that fails the gate).
_GATE_BREAKS = {
    "daily_null": ("daily", "daily_avg_pressure", None),
    "monthly_null": ("monthly", "mode_precipitation_type", None),
    "daily_temperature": ("daily", "daily_avg_temperature", 99.0),
    "daily_humidity": ("daily", "daily_avg_humidity", 2.0),
    "daily_wind": ("daily", "daily_avg_wind_speed", 500.0),
    "monthly_temperature": ("monthly", "monthly_avg_temperature", -99.0),
    "monthly_humidity": ("monthly", "monthly_avg_humidity", -0.5),
}
_GATE_MESSAGES = {
    "daily_null": _MISSING,
    "monthly_null": _MISSING,
    "daily_temperature": _RANGE.format("Daily temperature"),
    "daily_humidity": _RANGE.format("Daily humidity"),
    "daily_wind": _RANGE.format("Daily wind speed"),
    "monthly_temperature": _RANGE.format("Monthly temperature"),
    "monthly_humidity": _RANGE.format("Monthly humidity"),
}


@pytest.fixture(scope="module")
def valid_tables(results):
    """The pipeline's two tables (run_pipeline has validated them),
    materialized so each gate case re-reads them cheaply."""
    tables, _ = results
    return {name: df.localCheckpoint() for name, df in tables.items()}


def _validation_message(valid_tables, *gates: str) -> str:
    """Break `gates` at once and return the message validate_stage raises."""
    from dataengineeringproject_spark.operators.validation import ValidationError
    from dataengineeringproject_spark.plans.weather import validate_stage
    from pyspark.sql import functions as F

    tables = dict(valid_tables)
    for gate in gates:
        table, col, value = _GATE_BREAKS[gate]
        dtype = dict(tables[table].dtypes)[col]
        tables[table] = tables[table].withColumn(col, F.lit(value).cast(dtype))
    with pytest.raises(ValidationError) as err:
        validate_stage(tables["daily"], tables["monthly"])
    return str(err.value)


def test_validation_gates_raise_reference_messages(valid_tables):
    """Each of the seven gates, broken alone, raises the reference's
    exact message."""
    for gate, msg in _GATE_MESSAGES.items():
        assert _validation_message(valid_tables, gate) == msg, gate


@pytest.mark.parametrize(
    "gates, msg",
    [
        (("monthly_temperature", "daily_wind"), _RANGE.format("Daily wind speed")),
        (("monthly_humidity", "daily_humidity"), _RANGE.format("Daily humidity")),
        (("daily_humidity", "daily_temperature"), _RANGE.format("Daily temperature")),
        (("daily_temperature", "monthly_null"), _MISSING),
        (("monthly_humidity", "daily_null"), _MISSING),
    ],
    ids=["two_range_gates", "daily_before_monthly", "daily_range_order",
         "null_before_range", "daily_null_before_monthly_range"],
)
def test_validation_gates_fire_in_reference_order(valid_tables, gates, msg):
    """With two gates broken, the earlier gate in the reference's order
    (nulls, then daily temperature/humidity/wind, then monthly
    temperature/humidity) decides the message."""
    assert _validation_message(valid_tables, *gates) == msg


def test_wind_boundaries_land_in_lower_bucket(spark):
    """E4 boundary semantics: exactly 1.5 m/s → Calm, 32.6 → Storm."""
    from dataengineeringproject_spark.functions.wind import classify_wind
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1.5,), (3.3,), (32.6,), (32.7,), (-1.0,), (0.0,), (None,), (float("nan"),)],
        "ms double",
    )
    got = [r[0] for r in df.select(classify_wind("ms")).collect()]
    assert got == ["Calm", "Light Air", "Storm", "Violent Storm", None, "Calm", None, None]
