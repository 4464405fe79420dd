"""Streaming daily aggregates — the A1/A3 pipeline as a continuous
query (SURVEY.md §2.7, §7.2.9).

Batch `groupBy(to_date(ts))` becomes `groupBy(window(ts, "1 day"))`
with a watermark bounding state. Four operators:

- `daily_means_stream`: A1 as pure built-ins (1-day watermark + tumbling
  window + avg) — incrementally computable, append output after the
  watermark passes, state size = open windows × groups.

- `daily_mode_stream`: A3 (deterministic mode, tie→min) is NOT
  incrementally expressible with built-in aggregates (it needs
  count-per-value then argmax). Implemented with
  `applyInPandasWithState`: state = the per-(day) value→count dict;
  each micro-batch folds its rows in and emits the current argmax.
  This is the custom-stateful-operator pattern the engine uses for any
  two-level streaming aggregate.

- `dedup_daily_counts_stream`: `dropDuplicatesWithinWatermark` on the
  event key (40-day horizon) before a daily sum + count.

- `sliding_means_stream`: 2-day windows sliding by 1 day.

Source: any file-drop directory or Kafka topic; tests drive a parquet
directory with availableNow + a memory sink.

Scale posture: state is keyed by day — bounded by the watermark
horizon; the mode state per key is |distinct categories|, tiny. At
Kafka scale the same code runs with `spark.readStream.format("kafka")`
upstream of the same transformations.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-drop source (the streaming analog of S1's landing zone).
    Swap for `format("kafka")` + from_json(value) in production.
    max_files_per_trigger bounds micro-batch size (and, with
    availableNow, forces multi-batch runs so watermarks advance)."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def daily_means_stream(events: DataFrame) -> DataFrame:
    """A1 as a watermarked tumbling-window aggregate (append-capable)."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
            "avg_value",
            "n_events",
        )
    )


_MODE_OUT_SCHEMA = "day string, mode_event_type string, n_seen long"
_MODE_STATE_SCHEMA = "types array<string>, counts array<long>"


def _mode_fn(
    key: tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold micro-batch rows into the per-day value→count state and emit
    the current deterministic mode (max count, tie→lexicographically
    smallest — pandas mode()[0] semantics, SURVEY.md §2.4 A3)."""
    if state.exists:
        types, counts = state.get
        acc: dict[str, int] = dict(zip(list(types), list(counts)))
    else:
        acc = {}
    for pdf in pdfs:
        for v in pdf["event_type"].dropna():
            acc[v] = acc.get(v, 0) + 1
    state.update((list(acc.keys()), list(acc.values())))
    if acc:
        best = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        total = sum(acc.values())
    else:
        best, total = None, 0
    yield pd.DataFrame(
        {"day": [key[0]], "mode_event_type": [best], "n_seen": [total]}
    )


def daily_mode_stream(events: DataFrame) -> DataFrame:
    """A3 as a custom stateful operator (two-level aggregate ⇒
    applyInPandasWithState; built-ins can't express argmax-of-counts
    incrementally). Update output mode: each batch re-emits the current
    mode per touched day."""
    keyed = events.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"), "event_type"
    ).groupBy("day")
    return keyed.applyInPandasWithState(
        _mode_fn,
        outputStructType=_MODE_OUT_SCHEMA,
        stateStructType=_MODE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_daily_counts_stream(events: DataFrame) -> DataFrame:
    """Exactly-once-per-event daily rollup over an at-least-once source:
    `dropDuplicatesWithinWatermark` on the event key absorbs redelivered
    records (Kafka at-least-once, file-source replays) before the
    windowed aggregate. State = one entry per event_id inside the
    watermark horizon — the watermark is the retention contract: a
    duplicate arriving more than 40 days after the original is NOT
    absorbed (its state was evicted), which is exactly the at-least-once
    → effectively-once guarantee Kafka consumers document. The test
    harness uses a horizon longer than the dataset span so replays are
    always absorbed and the result is deterministic."""
    deduped = events.withWatermark("ts", "40 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    # sum+count, not avg: the consumer derives avg as round(sum,2)/n —
    # a boundary-stable formulation for cross-engine comparison (a raw
    # double avg rounded at 1e-6 can flip on summation order), and the
    # mergeable form any downstream rollup needs anyway.
    return (
        deduped.groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
            "sum_value",
            "n_events",
        )
    )


def run_to_memory(
    stream: DataFrame, query_name: str, output_mode: str = "update"
) -> None:
    """Drive a streaming DataFrame to completion on all currently
    available input (availableNow) into an in-memory table named
    `query_name` — the test/dev harness path."""
    (
        stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def sliding_means_stream(events: DataFrame) -> DataFrame:
    """Sliding-window streaming aggregate: 2-day windows every 1 day, so
    each event feeds two overlapping windows (map-side expansion before
    the keyed state update). Watermark ≥ duration so a window's state
    lives until its last contributing slide has passed."""
    return (
        events.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "2 days", "1 day").alias("win"))
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "avg_value",
            "n_events",
        )
    )
