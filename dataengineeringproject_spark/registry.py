"""Query registry: every implemented operator from SURVEY.md §2 (and the
north-star extensions) exposed as a (spark_fn, oracle_sql) pair for the
driver's DuckDB differential harness.

Conventions (driver contract, __spark_entry__.py):
- spark_fn(spark, sf_dir) -> DataFrame; oracle SQL runs on DuckDB views
  named after the testdata tables.
- Column names are aliased IDENTICALLY on both sides (the driver sorts
  columns by name before hashing).
- Float aggregate outputs are rounded the same on both sides so
  summation-order differences between engines can't flip the value
  hash: ROUND(x, 6) for unit-scale values, ROUND(x, 2) for large sums.
- Integer aggregates are cast to BIGINT on both sides (DuckDB sum(int)
  is HUGEINT; Spark's is LONG).
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import inspect
import json
import os
import shutil
import tempfile
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}
# Machine-readable scale posture per query (VERDICT r4 item 2).
#   "scalable"   (default): the physical plan survives a 100 TB /
#                1000-executor scale-up (blocked/bucketed/broadcast —
#                never all-pairs, never a global sort of raw rows).
#   "diagnostic": correct and oracle-checked, but deliberately exact /
#                 O(n log n)-sorted / O(block²) — kept as ground truth
#                 or recall baseline for a scalable twin, NOT the
#                 at-scale deployment shape. bench.py surfaces these
#                 so a slow diagnostic row is never read as a
#                 scalability regression.
_SCALE_CLASS: dict[str, str] = {}

# Age-tiered driver-row freshness rotation (VERDICT r3 item 2): the
# driver's per-round correctness sweep checks at most ~50 queries in
# the order queries() returns, so `_sweep_order` puts the stalest signal
# first: queries with no green row in any CORRECTNESS_r<N>.json (new, or
# never passed), then by newest green round, oldest first. Registration
# order holds within each round.
_REPO = Path(__file__).resolve().parents[1]


@functools.cache
def _last_green_round(root: Path = _REPO) -> dict[str, int]:
    """name -> newest round N whose CORRECTNESS_r<N>.json row is green:
    it hash-matched, or (a rows-only exemption) row-counted with no
    error. Rounds are compared by number, so r9 < r10 unpadded."""
    rounds: dict[int, Path] = {}
    for f in root.glob("CORRECTNESS_r*.json"):
        rnd = f.stem.removeprefix("CORRECTNESS_r")
        if rnd.isdigit():
            rounds[int(rnd)] = f
    last: dict[str, int] = {}
    for rnd in sorted(rounds):
        for name, row in json.loads(rounds[rnd].read_text()).items():
            if row.get("hash_match") or (
                row.get("rows_match") and row.get("err") is None
            ):
                last[name] = rnd
    return last


def _sweep_order(names: list[str], root: Path = _REPO) -> list[str]:
    """Never-green queries first, then stalest newest-green round first;
    the sort is stable, so registration order holds within each tier."""
    last = _last_green_round(root)
    return sorted(names, key=lambda n: last.get(n, 0))


def register(
    name: str,
    oracle: str | None = None,
    scale_class: str = "scalable",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and optionally its oracle SQL).

    scale_class tags the 100 TB posture ("scalable" | "diagnostic",
    see _SCALE_CLASS above); diagnostic exact variants keep their
    scalable twin named in the docstring.
    """
    if scale_class not in ("scalable", "diagnostic"):
        raise ValueError(f"unknown scale_class {scale_class!r}")

    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        _SCALE_CLASS[name] = scale_class
        return fn

    return deco


# One-time staging hooks (persisted-index materialization): a few
# queries model the STEADY-STATE production shape of a maintained side
# table (LSH signature index, CDC base snapshot) and materialize it to
# parquet on first use. Benchmarks must run these hooks in WARMUP so
# the timed run measures the per-batch query, not the one-time index
# build.
_PRESTAGE: list[Callable[[SparkSession, str], object]] = []


def source_fingerprint(sf_dir: str, table: str) -> tuple:
    """Cache key for staged side tables: (sf_dir, mtime_ns, size) of
    the source parquet, so regenerating a dataset at the same path
    within one process invalidates the staged copy (ADVICE r13).
    Works for single-file, flat-directory, and nested/partitioned
    parquet layouts — the directory walk is recursive (ADVICE r14: a
    top-level-only listing missed in-place rewrites of nested part
    files that leave the subdir mtime untouched), stats each entry
    once, and fails with a clear message when the source is absent."""
    p = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(p):
            sig = []
            for root, dirs, files in os.walk(p):
                dirs.sort()
                for f in sorted(files):
                    if f.startswith("_"):
                        continue
                    st = os.stat(os.path.join(root, f))
                    rel = os.path.relpath(os.path.join(root, f), p)
                    sig.append((rel, st.st_mtime_ns, st.st_size))
            return (sf_dir, table, tuple(sig))
        st = os.stat(p)
        return (sf_dir, table, st.st_mtime_ns, st.st_size)
    except FileNotFoundError as ex:
        raise FileNotFoundError(
            f"source parquet for table {table!r} not found under "
            f"{sf_dir!r} (expected {p}); staged side tables need the "
            f"source dataset present"
        ) from ex


def fingerprint_token(ck: tuple) -> str:
    """Short stable hex token of a source_fingerprint cache key, for
    content-addressing staged CATALOG TABLE names (ADVICE r14: names
    derived from an in-process counter are safe with the in-memory
    catalog, but two processes sharing a persistent metastore would
    both claim `..._0` and clobber each other's table; a fingerprint
    hash makes the name process-independent and generation-unique)."""
    return hashlib.md5(repr(ck).encode()).hexdigest()[:12]


_SCRATCH: list[str] = []
# Dirs that live until exit whatever producer made them (process_dir).
_PROCESS_DIRS: list[str] = []
# One list per running `staged` producer, innermost last: a scratch dir
# belongs to the producer that is running when it is made, so an outer
# producer's re-stage never removes a nested producer's live artifact.
_PRODUCING: list[list[str]] = []


def process_dir(prefix: str) -> str:
    """A fresh temp dir removed only at interpreter exit, never by a
    re-stage: for files the live SparkContext serves for the rest of the
    process (the package zip Python workers import), which must not
    belong to whichever `staged` producer happens to be running."""
    d = tempfile.mkdtemp(prefix=prefix)
    _PROCESS_DIRS.append(d)
    return d


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir, removed at interpreter exit so repeated driver
    sweeps don't accumulate /tmp copies of staged tables and stream
    outputs. Every staged artifact, landing zone, checkpoint and stream
    output dir is made here, so cleanup is one hook for the package.
    A dir made inside a `staged` producer is removed earlier, when a
    source rewrite supersedes that producer's call."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(d)
    if _PRODUCING:
        _PRODUCING[-1].append(d)
    return d


def _remove_dirs(dirs: list[str]) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
        _SCRATCH.remove(d)


@atexit.register
def _remove_scratch() -> None:
    _remove_dirs(list(_SCRATCH))
    for d in _PROCESS_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def staged(*tables: str):
    """Memoize a staging producer fn(spark, sf_dir, *args, **kw).

    One entry per (sf_dir, extra arguments), defaults applied so a call
    that spells out a default hits the same entry. The entry holds the
    source_fingerprint(sf_dir, t) of each named source table: repeated
    calls reuse the staged artifact, and a dataset regenerated at the
    same path is re-staged instead of served stale (ADVICE r13), after
    which the superseded call's scratch dirs are removed. functools.wraps
    keeps fn's __name__ (prestage hook and bench keys) and exposes the
    unmemoized producer as __wrapped__, for a caller whose own check
    finds the artifact gone (e.g. a catalog table in a new session)."""

    def deco(fn):
        sig = inspect.signature(fn)
        # (sf_dir, extra args) -> (fingerprints, result, dirs it made)
        memo: dict[tuple, tuple[tuple, object, list[str]]] = {}

        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str, *args, **kw):
            bound = sig.bind(spark, sf_dir, *args, **kw)
            bound.apply_defaults()
            slot = (sf_dir, tuple(bound.arguments.values())[2:])
            fps = tuple(source_fingerprint(sf_dir, t) for t in tables)
            old = memo.get(slot)
            if old is not None and old[0] == fps:
                return old[1]
            _PRODUCING.append([])
            try:
                result = fn(spark, sf_dir, *args, **kw)
            finally:
                made = _PRODUCING.pop()
            memo[slot] = (fps, result, made)
            if old is not None:
                _remove_dirs(old[2])
            return result

        return wrapper

    return deco


def register_prestage(
    fn: Callable[[SparkSession, str], object],
) -> Callable[[SparkSession, str], object]:
    """Register a one-time staging hook (idempotent per source
    generation: hooks are `staged` producers, or call one)."""
    _PRESTAGE.append(fn)
    return fn


def prestage(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Run every staging hook for sf_dir (each caches internally).

    Returns per-hook wall seconds so bench artifacts can record
    staging cost alongside per-query rows (ADVICE r13: staged
    producers move dominant cost out of the timed run; the artifact
    must carry it so staged queries' rows aren't read as end-to-end
    costs). Cached (already-staged) hooks record ~0."""
    _load_all()
    timings: dict[str, float] = {}
    for fn in _PRESTAGE:
        t0 = time.perf_counter()
        fn(spark, sf_dir)
        timings[fn.__name__] = time.perf_counter() - t0
    return timings


def scale_classes() -> dict[str, str]:
    """name -> "scalable" | "diagnostic" for every registered query."""
    _load_all()
    return dict(_SCALE_CLASS)


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {n: _QUERIES[n] for n in _sweep_order(list(_QUERIES))}


def oracle_sql() -> dict[str, str]:
    return {n: _ORACLE[n] for n in queries() if n in _ORACLE}


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from dataengineeringproject_spark import queries as _q  # noqa: F401

    _q.load()
