"""Local mimic of the driver's DuckDB differential check: run a
registered Spark query and its oracle SQL on the same parquet tables,
normalize, and compare (row count + column names + order-insensitive
values). Keeps us honest before the driver's CORRECTNESS_r{N}.json does.
"""

from __future__ import annotations

import datetime as dt
import math
import shutil
import tempfile
from collections import Counter
from pathlib import Path

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, 9)
    if isinstance(v, (dt.datetime, pd.Timestamp)):
        return str(v)
    if isinstance(v, dt.date):
        return str(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    try:
        import numpy as np

        if isinstance(v, np.ndarray):
            return tuple(_norm_cell(x) for x in v.tolist())
        if isinstance(v, np.generic):
            return _norm_cell(v.item())
    except ImportError:
        pass
    return v


def normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def compare(spark, name: str, sf_dir: str) -> tuple[bool, str]:
    from dataengineeringproject_spark import registry

    q = registry.queries()[name]
    sql = registry.oracle_sql().get(name)
    spark_pdf = q(spark, sf_dir).toPandas()
    if sql is None:
        return len(spark_pdf) >= 0, f"rows-only: {len(spark_pdf)} rows"
    with duckdb_conn(sf_dir) as con:
        duck_pdf = con.execute(sql).df()
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return False, f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return False, f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}"
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        return False, f"values differ; first diffs: {diffs}"
    return True, f"match: {len(spark_pdf)} rows"


def drop_last_commit(checkpoint: str) -> int:
    """Make a stream's next run replay its last batch, as after a crash
    between the sink's write and the checkpoint commit: delete the
    checkpoint's last `commits/<n>` file and its `.<n>.crc`."""
    commits = Path(checkpoint) / "commits"
    n = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(n)).unlink()
    (commits / f".{n}.crc").unlink(missing_ok=True)
    return n


def rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def replay_registry_query(spark, monkeypatch, module, query: str, runner: str,
                          sf_dir: str) -> tuple[Counter, Counter]:
    """Run registered `query` of `module` through its unmemoized stream
    `runner` twice with the same checkpoint and output dirs, dropping
    the last checkpoint commit in between; returns the query's output
    row multiset after the first run and after the replay."""
    getattr(module, query)(spark, sf_dir).count()  # stage landing zones
    dirs: dict[str, str] = {}

    def fixed_dir(prefix: str) -> str:
        if prefix not in dirs:
            dirs[prefix] = tempfile.mkdtemp(prefix=prefix)
        return dirs[prefix]

    monkeypatch.setattr(module, "scratch_dir", fixed_dir)
    monkeypatch.setattr(module, runner, getattr(module, runner).__wrapped__)
    try:
        first = rows(getattr(module, query)(spark, sf_dir))
        (ckpt,) = [d for p, d in dirs.items() if "ckpt" in p]
        drop_last_commit(ckpt)
        return first, rows(getattr(module, query)(spark, sf_dir))
    finally:
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)
