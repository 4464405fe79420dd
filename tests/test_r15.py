"""Round-15 unit tests: recursive/nested source fingerprints,
content-addressed staged table names, the BEHAVIORAL
fingerprint-keyed staging check (ADVICE r14: the r14 test only
grepped for the string 'source_fingerprint' in producer source — a
docstring mention would have satisfied it), and the best-effort
bench drift control."""

from __future__ import annotations

import os
from datetime import datetime

import pytest

from dataengineeringproject_spark.registry import (
    fingerprint_token,
    source_fingerprint,
)


def test_source_fingerprint_nested_layout(tmp_path):
    """Partitioned/nested parquet layouts: rewriting a NESTED part
    file in place (subdir mtime untouched) must change the key
    (ADVICE r14: the top-level-only listing missed this)."""
    sf = tmp_path / "sf"
    d = sf / "events.parquet" / "day=2024-01-01"
    d.mkdir(parents=True)
    part = d / "part-0.parquet"
    part.write_bytes(b"aaaa")
    k1 = source_fingerprint(str(sf), "events")
    # same size, same parent-dir mtime — only the nested file's mtime
    # moves, exactly the in-place rewrite case
    dir_stat = os.stat(d)
    part.write_bytes(b"bbbb")
    os.utime(d, ns=(dir_stat.st_mtime_ns, dir_stat.st_mtime_ns))
    k2 = source_fingerprint(str(sf), "events")
    assert k1 != k2


def test_source_fingerprint_missing_source(tmp_path):
    """A missing source parquet fails with a message naming the table
    and directory, not a bare FileNotFoundError (ADVICE r14)."""
    with pytest.raises(FileNotFoundError, match="documents.*not found"):
        source_fingerprint(str(tmp_path), "documents")


def test_fingerprint_token_content_addressed():
    """Table-name tokens are deterministic per key and distinct across
    keys, so two processes sharing a metastore never claim the same
    name for different source generations (ADVICE r14)."""
    k1 = ("sf", "documents", 1, 100)
    k2 = ("sf", "documents", 2, 100)
    assert fingerprint_token(k1) == fingerprint_token(k1)
    assert fingerprint_token(k1) != fingerprint_token(k2)
    assert len(fingerprint_token(k1)) == 12
    assert all(c in "0123456789abcdef" for c in fingerprint_token(k1))


def _docs_fixture(spark, n):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc {i}", "s") for i in range(n)],
        "doc_id long, text string, source string",
    )


def _events_fixture(spark, n):
    return spark.createDataFrame(
        [
            (i, datetime(2024, 1, 1 + i), i % 3, "click", float(i), None)
            for i in range(n)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


@pytest.mark.parametrize(
    "module, producer, table, fixture, n_ids",
    [
        (
            "llm_text", "_staged_tokset", "documents", _docs_fixture,
            lambda spark, p: spark.read.parquet(p).select("doc_id").distinct().count(),
        ),
        (
            "sources_q", "_staged_csv_events", "events", _events_fixture,
            lambda spark, p: spark.read.option("header", "true").csv(p).count(),
        ),
        (
            "streaming_q", "_staged_events", "events", _events_fixture,
            lambda spark, p: spark.read.parquet(p).count(),
        ),
    ],
    ids=["_staged_tokset", "_staged_csv_events", "_staged_events"],
)
def test_staged_producer_restages_on_source_rewrite(
    spark, tmp_path, module, producer, table, fixture, n_ids
):
    """BEHAVIORAL fingerprint-keyed staging (ADVICE r14): stage
    against a tmp fixture, rewrite the source parquet, and assert the
    producer returns a NEW staged artifact — not the stale cache — and
    that the superseded generation's scratch dirs are removed."""
    import importlib

    from dataengineeringproject_spark import registry

    fn = getattr(
        importlib.import_module(f"dataengineeringproject_spark.queries.{module}"),
        producer,
    )
    sf = str(tmp_path)
    src = fixture(spark, 8)
    src.coalesce(1).write.mode("overwrite").parquet(f"{sf}/{table}.parquet")
    before = set(registry._SCRATCH)
    p1 = fn(spark, sf)
    gen1 = set(registry._SCRATCH) - before
    assert any(p1.startswith(d) for d in gen1)
    assert fn(spark, sf) == p1  # unchanged source -> cached
    src.limit(4).coalesce(1).write.mode("overwrite").parquet(
        f"{sf}/{table}.parquet"
    )
    p2 = fn(spark, sf)
    assert p2 != p1
    assert n_ids(spark, p2) == 4
    gen2 = set(registry._SCRATCH) - before
    assert not any(os.path.exists(d) for d in gen1)
    assert gen2 and not gen2 & gen1
    assert all(os.path.isdir(d) for d in gen2)


def test_staged_restage_keeps_nested_producers_dirs(tmp_path):
    """A scratch dir belongs to the innermost running producer: when an
    outer producer re-stages on its own source rewrite, a nested
    producer whose source is unchanged keeps its live dir, and the outer
    producer's superseded dir is removed. A process_dir (the package zip
    the live SparkContext serves) belongs to no producer and stays."""
    from dataengineeringproject_spark.registry import process_dir, scratch_dir, staged

    (tmp_path / "events.parquet").write_bytes(b"e")
    (tmp_path / "documents.parquet").write_bytes(b"d")

    @staged("events")
    def inner(spark, sf_dir):
        return scratch_dir("test_inner_")

    @staged("documents")
    def outer(spark, sf_dir):
        return inner(spark, sf_dir), scratch_dir("test_outer_"), process_dir("test_proc_")

    sf = str(tmp_path)
    i1, o1, p1 = outer(None, sf)
    (tmp_path / "documents.parquet").write_bytes(b"dd")
    i2, o2, p2 = outer(None, sf)
    assert i2 == i1 and os.path.isdir(i1)
    assert o2 != o1 and os.path.isdir(o2)
    assert not os.path.exists(o1)
    assert p2 != p1 and os.path.isdir(p1) and os.path.isdir(p2)


def test_queries_leave_scratch_dirs_and_cleanup_to_registry():
    """Regrowth guard: staged artifacts and stream outputs get their
    dirs from registry.scratch_dir and their cleanup from its single
    atexit hook — no query module makes temp dirs or exit hooks of its
    own, and no other package module registers an exit hook."""
    import ast
    from pathlib import Path

    import dataengineeringproject_spark as pkg

    root = Path(pkg.__file__).parent
    for f in sorted(root.rglob("*.py")):
        names = set()
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Import):
                names |= {a.name for a in node.names}
            elif isinstance(node, ast.ImportFrom):
                names |= {node.module} | {a.name for a in node.names}
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
        rel = f.relative_to(root).as_posix()
        if rel != "registry.py":
            assert "atexit" not in names, rel
        if rel.startswith("queries/"):
            assert "mkdtemp" not in names, rel


def test_package_zip_dir_removed_at_exit(tmp_path):
    """The package zip that ensure_package_on_workers ships for a
    mapInPandas lives in a `deps_pkg_*` dir that the registry's exit
    hook removes: a process that ran one leaves none behind."""
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    code = (
        "import os, sys\n"
        "from dataengineeringproject_spark.session import "
        "ensure_package_on_workers, get_spark\n"
        "spark = get_spark('deps_pkg_probe', shuffle_partitions=2)\n"
        "ensure_package_on_workers(spark)\n"
        "n = spark.range(10).mapInPandas(lambda it: it, 'id long').count()\n"
        "assert n == 10, n\n"
        "print(sorted(d for d in os.listdir(sys.argv[1]) "
        "if d.startswith('deps_pkg_')))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=str(root))
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "deps_pkg_" in out.stdout  # the zip dir existed while running
    assert not [p.name for p in tmp_path.glob("deps_pkg_*")]


def test_staged_fuz_keys_table_name_content_addressed(spark, tmp_path):
    """The bucketed fuzzy key table's CATALOG NAME embeds the source
    fingerprint token, and a source rewrite yields a different name
    (ADVICE r14: counter-derived names collide across processes)."""
    from dataengineeringproject_spark.queries.curation import _staged_fuz_keys

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog {i}", "s") for i in range(6)],
        "doc_id long, text string, source string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    n1 = _staged_fuz_keys(spark, sf)
    tok1 = n1.rsplit("_", 1)[-1]
    assert n1 == f"deps_fuz_keys_bk_{tok1}" and len(tok1) == 12
    docs.limit(3).coalesce(1).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet"
    )
    n2 = _staged_fuz_keys(spark, sf)
    assert n2 != n1
    assert spark.table(n2).select("doc_id").distinct().count() <= 3


def test_drift_control_best_effort(spark):
    """bench._drift_control must land null/err fields, not crash, when
    a probe's prerequisites are missing (ADVICE r14: a box without
    sf0.001 or daily_agg crashed every bench run pre-artifact)."""
    import bench

    out = bench._drift_control(spark, {})  # no daily_agg registered
    assert out["pandas_groupby_1m_sec"] is not None
    assert out["spark_daily_agg_sf0001_sec"] is None
    assert "spark_daily_agg_sf0001_err" in out


def test_sstr_gram_parts_thresholds(tmp_path):
    """Input-sized gram-shuffle partitioning (VERDICT r14 item 3):
    below the regime boundary the estimator returns None (stock plan
    preserved); above it, partitions scale with on-disk bytes."""
    from dataengineeringproject_spark.queries.llm_text import (
        _SSTR_WINDOWS_PER_BYTE,
        _SSTR_WINDOWS_PER_PART,
        _sstr_gram_parts,
    )

    class FakeConf:
        def get(self, k):
            assert k == "spark.sql.shuffle.partitions"
            return "32"

    class FakeSpark:
        conf = FakeConf()

    small = tmp_path / "small"
    small.mkdir()
    (small / "documents.parquet").write_bytes(b"x" * 1024)
    assert _sstr_gram_parts(FakeSpark(), str(small)) is None

    big = tmp_path / "big"
    big.mkdir()
    nbytes = 64 * 1024 * 1024
    with open(big / "documents.parquet", "wb") as f:
        f.truncate(nbytes)
    n = _sstr_gram_parts(FakeSpark(), str(big))
    assert n == int(nbytes * _SSTR_WINDOWS_PER_BYTE // _SSTR_WINDOWS_PER_PART)
    assert n > 32

    assert _sstr_gram_parts(FakeSpark(), str(tmp_path / "missing")) is None


def test_substr_plan_stock_below_regime(spark):
    """At provided-testdata scales the substring plan must stay the
    stock AQE-coalesced shape: no REPARTITION_BY_NUM exchange (the
    input-sized repartition engages only past the regime boundary)."""
    from dataengineeringproject_spark import registry

    import re

    df = registry.queries()["dedup_substring_exact"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # ensure_min_parallelism's doc_id repartition is expected; the
    # GRAM-grain exchanges must stay ENSURE_REQUIREMENTS (coalescible)
    gram_pins = [
        ln
        for ln in plan.splitlines()
        if "REPARTITION_BY_NUM" in ln
        and re.search(r"hashpartitioning\([^)]*gram#", ln)
    ]
    assert gram_pins == []
