"""tools/ab.py's pairing and summary, on synthetic child results (no
Spark, no git, no child processes)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", Path(__file__).resolve().parent.parent / "tools" / "ab.py")
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _run(pair, side, ok=True, target="w", **metrics):
    r = {"pair": pair, "side": side, "target": target, "ok": ok, "metrics": metrics}
    return r if ok else {**r, "metrics": {}, "error": "exit 1: boom"}


def test_run_order_alternates_and_tags_runs():
    calls = []

    def run_one(pair, side):
        calls.append((pair, side))
        return [{"target": "w", "ok": True, "metrics": {"s": 1.0}}]

    runs = ab.run_pairs(4, run_one)
    assert calls == [(0, "base"), (0, "change"), (1, "change"), (1, "base"),
                     (2, "base"), (2, "change"), (3, "change"), (3, "base")]
    assert [(r["pair"], r["side"]) for r in runs] == calls


def test_medians_quartiles_ratio_and_wins():
    base = [5.0, 1.0, 4.0, 2.0, 3.0]  # sorted: q1 2, median 3, q3 4
    change = [1.5, 0.5, 2.5, 1.0, 2.0]  # sorted 0.5..2.5: q1 1, median 1.5, q3 2
    runs = [_run(i, "base", s=b) for i, b in enumerate(base)]
    runs += [_run(i, "change", s=c) for i, c in enumerate(change)]
    res = ab.summarize(runs, {})
    m = res["metrics"]["w"]["s"]
    assert m["base"] == {"median": 3.0, "q1": 2.0, "q3": 4.0, "n": 5}
    assert m["change"] == {"median": 1.5, "q1": 1.0, "q3": 2.0, "n": 5}
    assert m["ratio"] == pytest.approx(0.5)
    assert (m["change_wins"], m["base_wins"], m["ties"]) == (5, 0, 0)
    assert res["ok"] and res["failed"] == [] and res["hash_identical"] is None


def test_even_count_quartiles_and_single_run():
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0]) == (1.75, 2.5, 3.25)
    assert ab.quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_ties_count_for_neither_side_and_direction_is_honoured():
    runs = [_run(0, "base", s=2.0, r=10.0), _run(0, "change", s=2.0, r=12.0),
            _run(1, "change", s=3.0, r=9.0), _run(1, "base", s=1.0, r=11.0)]
    m = ab.summarize(runs, {"r": "higher"})["metrics"]["w"]
    assert (m["s"]["change_wins"], m["s"]["base_wins"], m["s"]["ties"]) == (0, 1, 1)
    # higher is better for r: the change wins pair 0, the base pair 1
    assert (m["r"]["change_wins"], m["r"]["base_wins"], m["r"]["ties"]) == (1, 1, 0)


def test_failed_child_is_reported_not_averaged():
    runs = [_run(0, "base", s=1.0), _run(0, "change", s=9.0),
            _run(1, "change", ok=False), _run(1, "base", s=3.0)]
    res = ab.summarize(runs, {})
    assert not res["ok"]
    assert res["failed"] == [{"pair": 1, "side": "change", "target": "w",
                              "error": "exit 1: boom"}]
    m = res["metrics"]["w"]["s"]
    assert m["change"]["n"] == 1 and m["base"]["n"] == 2
    # only pair 0 has both sides
    assert (m["change_wins"], m["base_wins"], m["ties"]) == (0, 1, 0)


def test_one_side_all_failed_is_not_ok():
    runs = [_run(0, "base", s=1.0), _run(0, "change", ok=False)]
    res = ab.summarize(runs, {})
    assert not res["ok"] and "change" not in res["metrics"]["w"]["s"]
    assert "ratio" not in res["metrics"]["w"]["s"]


def _q(pair, side, h, rows=30, target="sf0.1"):
    return {**_run(pair, side, target=target, wall_s=1.0), "hash": h, "rows": rows}


def test_each_fixture_is_summarized_apart():
    # one pair, two fixtures: the sf0.01 runs must not overwrite the sf0.1 ones
    runs = [{**_run(p, s, target=t, wall_s=w), "hash": t, "rows": 1}
            for p, s, t, w in [(0, "base", "sf0.1", 20.0), (0, "base", "sf0.01", 5.0),
                               (0, "change", "sf0.1", 18.0), (0, "change", "sf0.01", 6.0),
                               (1, "change", "sf0.1", 16.0), (1, "change", "sf0.01", 7.0),
                               (1, "base", "sf0.1", 22.0), (1, "base", "sf0.01", 5.0)]]
    m = ab.summarize(runs, {})["metrics"]
    assert sorted(m) == ["sf0.01", "sf0.1"]
    big, small = m["sf0.1"]["wall_s"], m["sf0.01"]["wall_s"]
    assert (big["base"]["median"], big["change"]["median"]) == (21.0, 17.0)
    assert (small["base"]["median"], small["change"]["median"]) == (5.0, 6.5)
    assert big["base"]["n"] == small["change"]["n"] == 2
    assert (big["change_wins"], big["base_wins"]) == (2, 0)
    assert (small["change_wins"], small["base_wins"]) == (0, 2)


def test_output_hashes_identical_across_sides():
    runs = [_q(0, "base", "aa"), _q(0, "change", "aa"),
            _q(0, "base", "bb", target="sf0.01"), _q(0, "change", "bb", target="sf0.01")]
    res = ab.summarize(runs, {})
    assert res["hash_identical"] is True and res["ok"]
    assert res["outputs"]["sf0.1"] == {"base": [{"hash": "aa", "rows": 30}],
                                       "change": [{"hash": "aa", "rows": 30}]}


def test_output_hash_mismatch_is_reported():
    runs = [_q(0, "base", "aa"), _q(0, "change", "cc", rows=29),
            _q(1, "change", "cc", rows=29), _q(1, "base", "aa")]
    res = ab.summarize(runs, {})
    assert res["hash_identical"] is False and not res["ok"]
    assert res["outputs"]["sf0.1"]["change"] == [{"hash": "cc", "rows": 29}]
    # a side whose own runs disagree is a mismatch too
    runs = [_q(0, "base", "aa"), _q(0, "change", "aa"), _q(1, "change", "aa"),
            _q(1, "base", "dd")]
    assert ab.summarize(runs, {})["hash_identical"] is False
