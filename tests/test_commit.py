"""The micro-batch commit protocol (`streaming.commit`) and replay of
every foreachBatch sink built on it.

A replay test drives a sink to completion, deletes the checkpoint's
last commit (so the next run re-executes that batch id, as after a
crash between the sink's write and the commit), re-drives with the
same checkpoint and output dirs, and asserts the output row multiset
did not change.
"""

from __future__ import annotations

import importlib
import os
from pathlib import Path

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from _harness import drop_last_commit, replay_registry_query, rows
from dataengineeringproject_spark.streaming.commit import (
    SUCCESS,
    append_batch,
    commit_version,
    drive_landing,
    latest_version,
    read_log,
)

SF = "/root/testdata/sf0.001"


def _junk(d: Path) -> None:
    """A batch dir left by a write that died before its commit."""
    d.mkdir(parents=True)
    (d / "part-junk.parquet").write_bytes(b"not parquet")


def _write(df):
    return lambda prev, new: df.write.mode("overwrite").parquet(new)


def test_uncommitted_dir_is_invisible_and_does_not_block_retry(spark, tmp_path):
    log, snap = str(tmp_path / "log"), str(tmp_path / "snap")
    append_batch(spark.range(3), log, 0)
    commit_version(snap, 0, _write(spark.range(3)))
    _junk(tmp_path / "log" / "batch_id=1")
    _junk(tmp_path / "snap" / "v=1")

    assert rows(read_log(spark, log, "id bigint")) == rows(spark.range(3))
    assert latest_version(snap) == str(tmp_path / "snap" / "v=0")

    append_batch(spark.range(3, 5), log, 1)
    commit_version(snap, 1, _write(spark.range(5)))
    assert rows(read_log(spark, log, "id bigint")) == rows(spark.range(5))
    assert latest_version(snap) == str(tmp_path / "snap" / "v=1")
    assert rows(spark.read.parquet(latest_version(snap))) == rows(spark.range(5))


def test_committed_batch_is_skipped(spark, tmp_path):
    log, snap = str(tmp_path / "log"), str(tmp_path / "snap")
    append_batch(spark.range(3), log, 0)
    append_batch(spark.range(100), log, 0)
    assert rows(read_log(spark, log, "id bigint")) == rows(spark.range(3))

    commit_version(snap, 1, _write(spark.range(3)))
    called = []
    for replayed in (0, 1):  # at or below the newest committed version
        commit_version(snap, replayed, lambda prev, new: called.append(new))
    assert called == []
    assert rows(spark.read.parquet(latest_version(snap))) == rows(spark.range(3))


def test_batches_are_ordered_by_batch_id_not_mtime(spark, tmp_path):
    for batch_id in (10, 2):  # v=2 written last: newest mtime, older batch
        d = tmp_path / f"v={batch_id}"
        d.mkdir()
        (d / SUCCESS).touch()
        os.utime(d, (batch_id, 10**9 - batch_id))
    (tmp_path / "v=x").mkdir()
    (tmp_path / "not_a_version").mkdir()
    assert latest_version(str(tmp_path)) == str(tmp_path / "v=10")
    assert latest_version(str(tmp_path / "missing")) is None

    log = str(tmp_path / "log")
    for batch_id in (10, 2, 0):
        append_batch(spark.range(batch_id, batch_id + 1), log, batch_id)
    assert sorted(r.id for r in read_log(spark, log, "id bigint", below=3).collect()) == [0, 2]
    assert read_log(spark, log, "id bigint", below=0).count() == 0


def test_retention_keeps_the_version_a_replay_reads(spark, tmp_path):
    """Storage stays at one committed snapshot, and a crash inside a
    multi-table step leaves the version its retry reads in place."""
    root = str(tmp_path)
    (tmp_path / "not_a_version").mkdir()
    for batch_id in range(3):
        commit_version(root, batch_id, _write(spark.range(batch_id + 1)))
    assert sorted(p.name for p in tmp_path.iterdir()) == ["not_a_version", "v=2"]

    def crash_after_first_table(prev, new):
        spark.range(1).write.parquet(f"{new}/last")
        raise RuntimeError("crash before the second table")

    with pytest.raises(RuntimeError):
        commit_version(root, 3, crash_after_first_table)
    assert latest_version(root) == str(tmp_path / "v=2")

    seen = []

    def both_tables(prev, new):
        seen.append(prev)
        spark.range(1).write.parquet(f"{new}/last")
        spark.read.parquet(prev).write.parquet(f"{new}/cnt")

    commit_version(root, 3, both_tables)
    assert seen == [str(tmp_path / "v=2")]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["not_a_version", "v=3"]
    assert sorted(p.name for p in (tmp_path / "v=3").iterdir()) == [SUCCESS, "cnt", "last"]
    assert rows(spark.read.parquet(f"{latest_version(root)}/cnt")) == rows(spark.range(3))


# --- replay of every sink -----------------------------------------------------


def _landing(spark, tmp_path, n_files: int) -> str:
    from dataengineeringproject_spark.schemas import load_table

    land = str(tmp_path / "land")
    ev = load_table(spark, SF, "events")
    for i in range(n_files):
        ev.filter(F.col("event_id") % n_files == i).coalesce(1).write.mode(
            "append"
        ).parquet(land)
    return land


def _replay(drive, read, ckpt: str):
    drive()
    first = rows(read())
    drop_last_commit(ckpt)
    drive()
    return first, rows(read())


def test_shared_driver_replay_is_idempotent(spark, tmp_path):
    land, out, ckpt = (str(tmp_path / n) for n in ("land", "out", "ckpt"))
    for i in range(3):
        spark.range(5 * i, 5 * i + 5).coalesce(1).write.mode("append").parquet(land)
    seen = []

    def step(batch_df, batch_id):
        seen.append(batch_id)
        append_batch(batch_df, out, batch_id)

    drive = lambda: drive_landing(spark, land, "id bigint", step, ckpt)  # noqa: E731
    first, again = _replay(drive, lambda: read_log(spark, out, "id bigint"), ckpt)
    assert seen == [0, 1, 2, 2]
    assert first == again == rows(spark.range(15))


def test_gold_upsert_replay_is_idempotent(spark, tmp_path):
    from dataengineeringproject_spark.streaming.daily import read_events_stream
    from dataengineeringproject_spark.streaming.upsert import (
        daily_gold_upsert_query,
        read_daily_gold,
    )

    land = _landing(spark, tmp_path, 2)
    gold, ckpt = str(tmp_path / "gold"), str(tmp_path / "ckpt")
    first, again = _replay(
        lambda: daily_gold_upsert_query(
            read_events_stream(spark, land, max_files_per_trigger=1), gold, ckpt
        ).awaitTermination(),
        lambda: read_daily_gold(spark, gold),
        ckpt,
    )
    assert first == again and sum(r[2] for r in first) == 1000


def test_dead_letter_replay_is_idempotent(spark, tmp_path):
    from dataengineeringproject_spark.operators.validation import (
        validate_stream_dead_letter,
    )
    from dataengineeringproject_spark.streaming.daily import (
        EVENTS_STREAM_SCHEMA,
        read_events_stream,
    )

    land = _landing(spark, tmp_path, 2)
    valid, dead, ckpt = (str(tmp_path / n) for n in ("valid", "dead", "ckpt"))
    dead_schema = T.StructType(
        [*EVENTS_STREAM_SCHEMA.fields, T.StructField("__violated", T.StringType())]
    )
    first, again = _replay(
        lambda: validate_stream_dead_letter(
            read_events_stream(spark, land, max_files_per_trigger=1),
            F.col("value").between(0, 75),
            valid, dead, ckpt,
        ).awaitTermination(),
        lambda: read_log(spark, valid, EVENTS_STREAM_SCHEMA).unionByName(
            read_log(spark, dead, dead_schema), allowMissingColumns=True
        ),
        ckpt,
    )
    assert first == again and sum(first.values()) == 1000


@pytest.mark.parametrize(
    "module, query, runner",
    [
        ("llm_text", "streaming_dedup_incremental_minhash", "_run_incr_stream"),
        ("advanced", "streaming_cdc_scd1_upsert", "_run_cdc_stream"),
        ("advanced", "streaming_event_transitions", "_run_etr_stream"),
        ("llm_vectors", "streaming_ivf_index_append", "_run_ivf_stream"),
    ],
)
def test_registry_stream_replay_is_idempotent(spark, monkeypatch, module, query, runner):
    """The release gate's replay is test_r11_advice's."""
    mod = importlib.import_module(f"dataengineeringproject_spark.queries.{module}")
    first, again = replay_registry_query(spark, monkeypatch, mod, query, runner, SF)
    assert first == again and first
