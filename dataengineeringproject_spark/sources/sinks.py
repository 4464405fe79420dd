"""S3/S4/S5: sinks (SURVEY.md §2.1).

Scale posture: partitioned parquet is the primary sink (north star).
The reference's single-CSV and SQLite sinks are SMALL-OUTPUT contracts
— the reference only ever loads the daily/monthly aggregate tables
(~hundreds of rows, v5_group_project_dag.py:360-361) — and are
implemented as such, with an explicit row-count guard so nobody
accidentally points them at a fact table.
"""

from __future__ import annotations

import glob
import os
import shutil
import sqlite3
import tempfile

from pyspark.sql import DataFrame

# Above this, the small-output sinks refuse: they exist for aggregate
# tables, not data movement. Parquet is the scale path.
SMALL_SINK_MAX_ROWS = 5_000_000


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Primary sink; overwrites `path`. `partition_by` on the natural
    query key (e.g. a date column) buys partition pruning for
    downstream readers."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_single_csv(df: DataFrame, path: str) -> str:
    """S3: the reference's single-file CSV contract with a header row
    (group_project_dag.py:180,186 `to_csv(index=False)`). Spark writes a
    directory of parts; we coalesce(1) and rename the single part to
    `path`. Only valid for small outputs — guarded."""
    _guard_small(df, "write_single_csv")
    tmp = tempfile.mkdtemp(prefix="csv_sink_")
    try:
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def write_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    mode: str = "append",
) -> int:
    """S4+S5: SQLite load with auto-DDL and autoincrement surrogate PK,
    the reference's load task (v5_group_project_dag.py:303-361: CREATE
    TABLE IF NOT EXISTS with `id INTEGER PRIMARY KEY AUTOINCREMENT`,
    then append). Surrogate ids are assigned by the sink, not computed
    by the engine (SURVEY.md §1.2).

    Driver-side on purpose: SQLite is a single-writer embedded file —
    there is no distributed write to do. Guarded to small outputs; a
    cluster-scale relational sink would be `df.write.jdbc` against a
    real database."""
    _guard_small(df, "write_sqlite")
    pdf = df.toPandas()
    con = sqlite3.connect(db_path)
    try:
        cols = ", ".join(f'"{c}" {_sqlite_type(t)}' for c, t in df.dtypes)
        pk = '"id" INTEGER PRIMARY KEY AUTOINCREMENT, '
        if mode == "overwrite":
            con.execute(f'DROP TABLE IF EXISTS "{table}"')
        con.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({pk}{cols})')
        placeholders = ", ".join("?" for _ in pdf.columns)
        collist = ", ".join(f'"{c}"' for c in pdf.columns)
        con.executemany(
            f'INSERT INTO "{table}" ({collist}) VALUES ({placeholders})',
            ([_coerce(v) for v in row] for row in pdf.itertuples(index=False)),
        )
        con.commit()
        return len(pdf)
    finally:
        con.close()


def _sqlite_type(spark_type: str) -> str:
    if spark_type in ("int", "bigint", "smallint", "tinyint", "boolean"):
        return "INTEGER"
    if spark_type in ("double", "float"):
        return "FLOAT"
    if spark_type.startswith("decimal"):
        return "NUMERIC"
    if spark_type in ("date", "timestamp", "timestamp_ntz"):
        return "DATETIME"
    return "VARCHAR"


def _coerce(v):
    """SQLite-bindable value: null-normalize NaN/NaT, dates → ISO text
    (sqlite3's implicit date adapters are deprecated in Python ≥3.12)."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, (dt.date, dt.datetime, pd.Timestamp)):
        return str(v)
    if isinstance(v, np.generic):
        return v.item()
    return v


def _guard_small(df: DataFrame, sink: str) -> None:
    n = df.limit(SMALL_SINK_MAX_ROWS + 1).count()
    if n > SMALL_SINK_MAX_ROWS:
        raise ValueError(
            f"{sink} is a small-output sink (≤{SMALL_SINK_MAX_ROWS} rows); "
            "use write_parquet for large results"
        )


def write_orc(df: DataFrame, path: str) -> str:
    """ORC sink (overwrites `path`) — the parquet twin for
    ORC-standardized lakes."""
    df.write.mode("overwrite").orc(path)
    return path


def compact_parquet_dir(
    spark,
    src: str,
    dest: str,
    target_mb: int = 128,
    balance: bool = False,
) -> int:
    """Small-file compaction — the maintenance pass every long-lived
    table needs: streaming sinks and incremental loads leave thousands
    of KB-scale files, and at 100 TB the per-file open/footer/listing
    cost comes to dominate scans long before the bytes do. Rewrites
    `src` as ceil(total_bytes / target_mb) similarly-sized files at
    `dest` and returns the output file count.

    `balance=False` (default) uses coalesce — a shuffle-free merge of
    existing partitions, the right call for the common many-tiny-files
    case. `balance=True` uses repartition for size-balanced output at
    the cost of one shuffle — the right call when inputs are skewed
    (a few huge files among the shards).

    File sizing walks the directory with os.scandir (local / NFS /
    fuse paths); on HDFS/S3 deployments the identical walk goes through
    the Hadoop FileSystem listing API — the compaction plan itself is
    path-scheme-independent.
    """
    total = 0
    for root, _dirs, files in os.walk(src):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_out = max(1, -(-total // (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    df = df.repartition(n_out) if balance else df.coalesce(n_out)
    df.write.mode("overwrite").parquet(dest)
    return len(glob.glob(os.path.join(dest, "*.parquet")))
