"""S2: scans. Explicit schemas are the contract (SURVEY.md §1.2);
inference is a fallback for exploration only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """CSV scan with a header row (group_project_dag.py:119). With an
    explicit schema the scan skips the inference pass (one read instead
    of two)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The at-scale default: columnar, predicate pushdown, partition
    pruning (BASELINE.json north star)."""
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning properties as parquet
    (vectorized reader, predicate pushdown); supported so the engine
    ingests from Hive-era ORC lakes without conversion."""
    return spark.read.orc(path)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of all footers
    (mergeSchema) so files written before a column existed scan as null
    for it. The default read takes one footer's schema — cheaper (no
    footer fan-in) but silently drops late-added columns; use THIS
    reader for bronze zones with evolving producers, and keep explicit
    schemas downstream."""
    return spark.read.option("mergeSchema", True).parquet(path)
