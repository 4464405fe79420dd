"""Incremental gold-table maintenance: the CDC-style `foreachBatch`
MERGE pattern (SURVEY.md §8.2.5).

The batch A1 daily aggregate becomes a continuously-maintained gold
table: each micro-batch computes per-day PARTIALS (sum, count) and
merges them into the stored table — avg is derived (sum/count), never
merged directly, because averages don't compose but sums do. This is
the standard re-aggregation-free upsert: work per batch is
O(|batch| + |touched days|), not O(|history|).

Exactly-once: `foreachBatch` gives at-least-once per batch id on
restart, so the gold table is a snapshot-form sink of
`streaming.commit`: each merge writes the whole table as version
`gold_path/v=<batch_id>`, readers resolve the highest version whose
`_SUCCESS` marker exists, and a replayed batch (batch_id <= that
version) is a no-op — what Delta's `txnAppId`/`txnVersion` does, here
explicit because the sink is plain parquet. The previous version is
never touched until the new one is fully committed, so a crash
mid-write leaves the prior table intact (a naive overwrite-in-place
deletes the old data before committing the new — one crash destroys
the table). Superseded versions are removed after the commit.

Scale posture: the gold table is day-grain — bounded by calendar days,
tiny relative to input — so read-merge-rewrite is cheap. At 100 TB
the same `foreachBatch` body targets Delta/Iceberg `MERGE INTO`
(partition-pruned to touched days) instead of a version rewrite; the
partial-aggregate shape and the idempotency guard carry over unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataengineeringproject_spark.streaming.commit import (
    commit_version,
    latest_version,
)

GOLD_SCHEMA = T.StructType(
    [
        T.StructField("day", T.StringType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("avg_value", T.DoubleType()),
        T.StructField("last_batch_id", T.LongType()),
    ]
)


def _daily_partials(batch_df: DataFrame) -> DataFrame:
    return (
        batch_df.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.sum("value").alias("b_sum"),
            F.count(F.lit(1)).alias("b_n"),
        )
    )


def _gold_version(spark: SparkSession, version: str | None) -> DataFrame:
    if version is None:
        return spark.createDataFrame([], GOLD_SCHEMA)
    return spark.read.schema(GOLD_SCHEMA).parquet(version)


def read_daily_gold(spark: SparkSession, gold_path: str) -> DataFrame:
    """Read the current gold table: the highest complete version, or an
    empty frame if no version has ever committed."""
    return _gold_version(spark, latest_version(gold_path))


def merge_daily_gold(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, gold_path: str
) -> None:
    """Merge one micro-batch's daily partials into the parquet gold
    table (upsert by day; idempotent on batch replay; versioned write —
    the prior version survives a crash mid-commit)."""

    def write(prev: str | None, new: str) -> None:
        gold = _gold_version(spark, prev)
        partial = _daily_partials(batch_df)
        merged = (
            gold.join(partial, "day", "full_outer")
            .select(
                "day",
                (
                    F.coalesce("sum_value", F.lit(0.0))
                    + F.coalesce("b_sum", F.lit(0.0))
                ).alias("sum_value"),
                (
                    F.coalesce("n_events", F.lit(0))
                    + F.coalesce("b_n", F.lit(0))
                ).cast("long").alias("n_events"),
            )
            .withColumn("avg_value", F.col("sum_value") / F.col("n_events"))
            .withColumn("last_batch_id", F.lit(batch_id).cast("long"))
        )
        merged.write.mode("overwrite").parquet(new)

    commit_version(gold_path, batch_id, write)


def daily_gold_upsert_query(
    events: DataFrame, gold_path: str, checkpoint_dir: str
):
    """Wire a streaming events DataFrame into the gold-table merge.
    Returns the started StreamingQuery (caller awaits)."""
    spark = events.sparkSession

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_daily_gold(spark, batch_df, batch_id, gold_path)

    return (
        events.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
