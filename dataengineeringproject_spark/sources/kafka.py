"""Kafka source/sink (north star: BASELINE.json "Spark batch/streaming
with Kafka + Parquet").

The streaming pipeline shape is: Kafka topic → from_json(value) →
the same transformations the file-drop source feeds (streaming/daily.py)
→ a checkpointed sink. The source builder produces the first half of
that plan; it is exercised end-to-end in environments with the
spark-sql-kafka connector on the classpath. Without the connector jar
(or a broker), `.load()` raises Spark's missing-data-source error — the
builder is still the engine's Kafka contract, and the JSON row codec
(`decode_json_rows`/`encode_json_rows`) is unit-tested against static
DataFrames, which is where the semantics live.

Scale posture: one Kafka partition maps to one Spark task —
`minPartitions` can fan out further.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataengineeringproject_spark.streaming.daily import EVENTS_STREAM_SCHEMA


def read_kafka_json_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """readStream from a Kafka topic, decoding the JSON value into the
    events columns (EVENTS_STREAM_SCHEMA) plus kafka metadata (topic,
    partition, offset, kafka_ts)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return decode_json_rows(raw, EVENTS_STREAM_SCHEMA)


def decode_json_rows(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """value:binary JSON → typed columns (the testable half of the Kafka
    source — works identically on a static DataFrame with the same
    (value, topic, partition, offset, timestamp) columns)."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("j"),
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        F.col("timestamp").alias("kafka_ts"),
    ).select("j.*", "topic", "partition", "offset", "kafka_ts")


def encode_json_rows(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Typed columns → (key, value) JSON for a Kafka sink."""
    value = F.to_json(F.struct(*df.columns)).alias("value")
    if key_col is None:
        return df.select(value)
    return df.select(F.col(key_col).cast("string").alias("key"), value)
