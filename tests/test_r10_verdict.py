"""Round-10 regression pins for the VERDICT/ADVICE r9 items.

1. bench.py times EVERY registered query (VERDICT r9 item 3: 159
   registered queries previously had no bench row) — HEADLINE first in
   its historical order, then the rest by name, no duplicates.
2. streaming_corpus_release_gate is registered with a full value-hash
   oracle next to its batch twin (VERDICT r9 item 6).
"""

from __future__ import annotations

import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_bench_set_covers_every_registered_query():
    import bench
    from dataengineeringproject_spark import registry

    qs = registry.queries()
    names = bench._bench_set(qs)
    assert len(names) == len(set(names)), "duplicate bench rows"
    assert set(names) == set(qs), "bench must cover the full fleet"
    headline = [n for n in bench.HEADLINE if n in qs]
    assert names[: len(headline)] == headline, (
        "HEADLINE order must be preserved for cross-round comparability"
    )
    rest = names[len(headline):]
    assert rest == sorted(rest)


def test_headline_names_are_all_registered():
    """A HEADLINE typo would silently drop the row (the `if n in qs`
    guard); pin that every listed name is actually registered."""
    import bench
    from dataengineeringproject_spark import registry

    missing = [n for n in bench.HEADLINE if n not in registry.queries()]
    assert missing == [], missing


def test_streaming_release_gate_registered_with_oracle():
    """VERDICT r9 item 6: the streaming release gate is a first-class
    registered query with a FULL value-hash oracle (arrival-order
    keeper), tagged scalable, and its batch twin's registration is
    untouched."""
    from dataengineeringproject_spark import registry

    qs = registry.queries()
    assert "streaming_corpus_release_gate" in qs
    assert "corpus_release_gate_e2e" in qs
    osql = registry.oracle_sql()
    assert "streaming_corpus_release_gate" in osql
    # arrival-order keeper: the oracle must rank by slice then doc_id
    assert "row_number()" in osql["streaming_corpus_release_gate"]
    from dataengineeringproject_spark.queries.llm_text import (
        _GATE_STREAM_SLICES,
    )

    assert (
        f"doc_id % {_GATE_STREAM_SLICES} ASC, doc_id ASC"
        in osql["streaming_corpus_release_gate"]
    )
    # the batch gate keeps the global-min keeper rule
    assert "min(doc_id)" in osql["corpus_release_gate_e2e"]
    classes = registry.scale_classes()
    assert classes["streaming_corpus_release_gate"] == "scalable"


def test_streaming_release_gate_cross_slice_dup_found_once(spark, tmp_path):
    """A passing doc admitted in slice 0 must turn every later-slice
    doc with the same fingerprint into exact_dup — state crosses
    micro-batches via the keeper index, and totals balance."""
    import pandas as pd

    from dataengineeringproject_spark import registry
    from dataengineeringproject_spark.queries.llm_text import (
        _GATE_STREAM_SLICES,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while a calm river "
        "flows past the old stone bridge and children watch from the "
        "green meadow under bright morning light"
    )
    # doc_ids 0..5 cover every slice; identical text -> same dupkey.
    # 30 tokens, no repeated 3-grams, stopword-rich, punct-free: passes
    # every funnel rule (including with doc 0's injected PII suffix).
    rows = [(i, "en", "web", base, len(base)) for i in range(6)]
    pd.DataFrame(
        rows, columns=["doc_id", "lang", "source", "text", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    got = registry.queries()["streaming_corpus_release_gate"](
        spark, str(tmp_path)
    ).toPandas()
    by_status = dict(zip(got["status"], got["n_docs"]))
    assert by_status.get("admitted") == 1, got
    assert by_status.get("exact_dup") == 5, got
    assert int(got["n_docs"].sum()) == 6
    assert _GATE_STREAM_SLICES >= 2  # the test exercises >1 micro-batch


def test_bench_out_has_row_per_registered_query_when_fresh():
    """If bench_out.json is a full-fleet record (metric
    all_queries_total), it must contain one row per registered query.
    Skipped while the file still holds a pre-r10 headline-only run."""
    import pytest

    out = REPO / "bench_out.json"
    if not out.exists():
        pytest.skip("no bench_out.json yet")
    rec = json.loads(out.read_text())
    if rec.get("metric") != "all_queries_total":
        pytest.skip("bench_out.json predates the full-fleet bench")
    from dataengineeringproject_spark import registry
    import bench

    registered = set(registry.queries())
    recorded = set(rec["queries"])
    # every recorded row is a real query; queries registered AFTER the
    # bench ran may legitimately be missing until the next run, but the
    # record must never be narrower than the historical HEADLINE set
    assert recorded <= registered
    assert recorded >= {n for n in bench.HEADLINE if n in registered}
    assert rec.get("headline_total") is not None
