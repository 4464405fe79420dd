"""One commit protocol for every `foreachBatch` sink, and the one driver
that runs a landing-zone stream through such a sink.

`foreachBatch` is at-least-once: a restart re-runs the last batch whose
offsets were logged but whose commit was not, with the same id and
input, so a sink is exactly-once only if that replay changes nothing
(Armbrust et al., SIGMOD 2018). Every sink keys its output by batch id
and uses one commit test: a batch dir is committed when it holds
`_SUCCESS`, which Spark's file committer writes last. A dir without it
(a write that died) is invisible to readers and overwritten on retry.

- Log form (`append_batch`, `read_log`): one `<root>/batch_id=<id>` dir
  per batch, skipped on replay once committed. A step that folds prior
  output reads the committed batches below its own id.
- Snapshot form (`commit_version`, `latest_version`): batch <id> writes
  the whole state as `<root>/v=<id>` (all of a step's tables in that
  one dir, committed together) from the newest committed version; a
  batch at or below that version is a replay and commits nothing. A
  commit removes every other version, so storage is one snapshot and
  the version an uncommitted batch's retry reads is never removed.
"""

from __future__ import annotations

import contextlib
import shutil
from collections.abc import Callable, Iterator
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SUCCESS = "_SUCCESS"


def _committed(root: str, key: str) -> list[tuple[int, Path]]:
    """Committed `<root>/<key>=<id>` dirs ordered by id (commit order,
    never mtime: clock skew on a shared filesystem must not reorder
    versions)."""
    found = []
    for p in Path(root).glob(f"{key}=*"):
        try:
            batch_id = int(p.name.split("=", 1)[1])
        except ValueError:
            continue
        if (p / SUCCESS).exists():
            found.append((batch_id, p))
    return sorted(found)


def append_batch(df: DataFrame, root: str, batch_id: int) -> None:
    """Log form: write `df` as batch `batch_id` of the log at `root`,
    unless that batch already committed (a replay)."""
    out = Path(root) / f"batch_id={batch_id}"
    if not (out / SUCCESS).exists():
        df.write.mode("overwrite").parquet(str(out))


def read_log(
    spark: SparkSession,
    root: str,
    schema: StructType | str,
    below: int | None = None,
) -> DataFrame:
    """The committed batches of the log at `root` (those with id <
    `below` if given) as one frame; empty with `schema` before any
    batch commits."""
    paths = [
        str(p)
        for batch_id, p in _committed(root, "batch_id")
        if below is None or batch_id < below
    ]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def latest_version(root: str) -> str | None:
    """Snapshot form, read side: the newest committed version dir."""
    versions = _committed(root, "v")
    return str(versions[-1][1]) if versions else None


def commit_version(
    root: str, batch_id: int, write: Callable[[str | None, str], None]
) -> None:
    """Snapshot form: `write(prev, new)` writes batch `batch_id`'s state
    tables under `new` (= `<root>/v=<batch_id>`) from the newest
    committed version `prev` (None before the first). Skipped when a
    version at or above `batch_id` already committed."""
    versions = _committed(root, "v")
    if versions and versions[-1][0] >= batch_id:
        return
    new = Path(root) / f"v={batch_id}"
    shutil.rmtree(new, ignore_errors=True)
    write(str(versions[-1][1]) if versions else None, str(new))
    (new / SUCCESS).touch()
    for p in Path(root).glob("v=*"):
        if p != new:
            shutil.rmtree(p, ignore_errors=True)


@contextlib.contextmanager
def pinned_shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Scoped shuffle-partition pin: stateful streaming allocates one
    state store per shuffle partition and cannot AQE-coalesce them, so
    32+ stores for a 30-key state is pure overhead. The previous value
    is restored on exit for later batch queries in the session."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def drive_landing(
    spark: SparkSession,
    land: str,
    schema: StructType,
    step: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> None:
    """Run `step(batch_df, batch_id)` over every parquet file now in the
    landing dir `land`, one file per micro-batch in arrival order, and
    wait; progress lives in `checkpoint`, so a re-run resumes there.
    Micro-batches are small: the step runs under the 8-partition pin."""
    with pinned_shuffle_partitions(spark, 8):
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
            .writeStream.foreachBatch(step)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
