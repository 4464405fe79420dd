"""Round-14 unit tests: staged-cache fingerprints (ADVICE r13),
prestage timing surface, and the probe's ARI implementation."""

from __future__ import annotations

import os
import shutil

import pytest

from dataengineeringproject_spark.registry import source_fingerprint


def test_source_fingerprint_changes_on_regeneration(tmp_path):
    """Regenerating a dataset at the SAME path must change the cache
    key (the ADVICE r13 stale-staged-parquet foot-gun)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    p = sf / "documents.parquet"
    p.write_bytes(b"one")
    k1 = source_fingerprint(str(sf), "documents")
    p.write_bytes(b"two!")  # different size
    k2 = source_fingerprint(str(sf), "documents")
    assert k1 != k2
    # same size, different mtime
    p.write_bytes(b"one")
    os.utime(p, ns=(1, 1))
    k3 = source_fingerprint(str(sf), "documents")
    os.utime(p, ns=(2, 2))
    k4 = source_fingerprint(str(sf), "documents")
    assert k3 != k4


def test_source_fingerprint_directory_layout(tmp_path):
    """Directory-style parquet datasets fingerprint their part files
    (ignoring _SUCCESS markers) and react to a changed part."""
    sf = tmp_path / "sf"
    d = sf / "events.parquet"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"aaaa")
    (d / "_SUCCESS").write_bytes(b"")
    k1 = source_fingerprint(str(sf), "events")
    (d / "part-0.parquet").write_bytes(b"bbbbbb")
    k2 = source_fingerprint(str(sf), "events")
    assert k1 != k2
    shutil.rmtree(d)


def test_prestage_returns_per_hook_timings(spark):
    """registry.prestage returns {hook_name: wall_sec} so bench
    artifacts can record staging cost (ADVICE r13)."""
    from dataengineeringproject_spark import registry

    t = registry.prestage(spark, "/root/testdata/sf0.001")
    assert t and all(
        isinstance(k, str) and isinstance(v, float) for k, v in t.items()
    )
    assert "_staged_tokset" in t
