"""Explicit schemas — the engine's contract (SURVEY.md §1.2: inference
is a fallback, never the contract).

`WEATHER_HISTORY` mirrors the reference's one input table
(v2_group_project_dag.py:281-298 DDL; column names carry the dataset's
spaces and the `Loud Cover` typo, v2_group_project_dag.py:77).
Testdata schemas mirror /root/testdata (TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Reference input table (weatherHistory.csv), 12 columns.
WEATHER_HISTORY = T.StructType(
    [
        T.StructField("Formatted Date", T.StringType()),
        T.StructField("Summary", T.StringType()),
        T.StructField("Precip Type", T.StringType()),
        T.StructField("Temperature (C)", T.DoubleType()),
        T.StructField("Apparent Temperature (C)", T.DoubleType()),
        T.StructField("Humidity", T.DoubleType()),
        T.StructField("Wind Speed (km/h)", T.DoubleType()),
        T.StructField("Wind Bearing (degrees)", T.DoubleType()),
        T.StructField("Visibility (km)", T.DoubleType()),
        T.StructField("Loud Cover", T.DoubleType()),
        T.StructField("Pressure (millibars)", T.DoubleType()),
        T.StructField("Daily Summary", T.StringType()),
    ]
)

# Measure columns cleaned/clamped/filled by the reference pipeline
# (v5_group_project_dag.py:79-94).
WEATHER_NUMERIC_COLS = [
    "Temperature (C)",
    "Apparent Temperature (C)",
    "Humidity",
    "Wind Speed (km/h)",
    "Wind Bearing (degrees)",
    "Visibility (km)",
    "Loud Cover",
    "Pressure (millibars)",
]

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Tiny literal DataFrame as a pure-JVM plan (range→explode of a
    struct-array literal) instead of `spark.createDataFrame(py_list)`.

    createDataFrame from a Python list builds a Python-RDD-backed plan:
    every one of its `defaultParallelism` partitions spawns a Python
    worker at execution time just to unpickle (usually) zero rows.
    Measured on local[32]: a 3-row broadcast build ran 32 worker
    launches ≈ 2-3 s PER EXECUTION — dominating several headline
    queries — versus ~0 for this literal plan, which also
    constant-folds into broadcasts. Use for any small driver-side
    lookup/parameter table on a query's hot path; `schema` is the
    usual "name type, name2 type2" DDL string.
    """
    from pyspark.sql import functions as F

    if not rows:
        raise ValueError("local_df requires at least one row "
                         "(use createDataFrame for empty frames)")
    if any(ch in schema for ch in "(<"):
        raise ValueError(
            "local_df's simple DDL split handles only unparameterized "
            f"scalar types; got {schema!r} — use createDataFrame"
        )
    fields = [tuple(s.strip().rsplit(" ", 1)) for s in schema.split(",")]
    structs = [
        F.struct(
            *[
                F.lit(v).cast(t).alias(n)
                for (n, t), v in zip(fields, row, strict=True)
            ]
        )
        for row in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one testdata table. Parquet + explicit column use
    downstream gives Catalyst pushdown + pruning for free (§4).

    `events.ts` has shipped in two physical layouts across testdata
    generations, and this function normalizes BOTH to a session-TZ
    `TimestampType` so downstream code sees one contract:

    - TIMESTAMP(NANOS): Spark lacks a type for it; with
      `spark.sql.legacy.parquet.nanosAsLong` it scans as a long we
      convert to a microsecond TimestampType (testdata is generated at
      µs precision, so the division is exact).
    - TIMESTAMP(MICROS, isAdjustedToUTC=0): scans as TIMESTAMP_NTZ,
      which Spark refuses to cast to BIGINT and rejects in
      `unix_micros`/watermarks. The session timezone is pinned UTC
      just above, so `cast("timestamp")` reinterprets the same wall
      clock as the same UTC instant — value-identical to the DuckDB
      oracle's UTC-naive reading.
    """
    # Runtime-settable pins, needed even on sessions we didn't build
    # (the driver passes its own SparkSession into queries()): UTC so
    # date bucketing agrees with the UTC-naive DuckDB oracle regardless
    # of the caller's session timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Same rationale for shuffle parallelism: the driver's vanilla
    # session defaults to 200 shuffle partitions, pure scheduling
    # overhead at test scale on local[N]. Runtime-settable, so pin it
    # to the core budget; a real cluster job sizes this per-job (or
    # leaves a high count for AQE to coalesce).
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        import os

        spark.conf.set(
            "spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "32")
        )
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: ns-since-epoch (~1.7e18) exceeds
            # double's 53-bit mantissa, so `/ 1000` + cast would be
            # off by ±1 µs.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
