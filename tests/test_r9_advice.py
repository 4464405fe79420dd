"""Round-9 regression pins for the VERDICT/ADVICE r8 fixes.

1. link_prediction_adamic_adar: the adjacency-weight frame filters
   degree-1 middle nodes BEFORE computing 1/ln(deg) — previously
   ln(1)=0 made Spark emit Infinity -> Long.MaxValue on rows DuckDB
   NULLed (benign only because a degree-1 node can't close a wedge,
   and fragile under ANSI mode or any reuse of adjw).
2. operators.relational.global_row_number: the distributed global
   rank (repartitionByRange + per-range row_number + broadcast prefix
   offsets) is value-identical to the single-task Window.orderBy
   row_number on a total ordering — the scalable shape
   zorder_file_skipping now uses for file assignment.
3. knn_classifier_eval is tagged scale_class="diagnostic" (its
   test x train dimension-keyed join is all-pairs) and its scalable
   LSH-bucket twin knn_classifier_eval_lsh is registered scalable
   with an oracle — the exact/index pair is the recall trade study.
4. The correctness-sweep order is derived from the CORRECTNESS_r*.json
   files: never-green queries first, then stalest newest-green round
   first (fixture rules, plus the live order of queries()).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


def _lineitem_fixture(spark, tmp_path, rows):
    """Write a minimal lineitem.parquet so the REGISTERED query runs
    end-to-end through load_table (ADVICE r9: no hand-copied internals
    that silently drift on refactor)."""
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    return str(tmp_path)


def test_adamic_adar_filters_degree_one_middles(spark, tmp_path):
    """End-to-end on a minimal co-occurrence corpus: orders {1: (10,
    20), 2: (20, 30), 3: (40, 50)} -> edges 10-20, 20-30, 40-50; only
    node 20 has degree >= 2, so the ONLY scorable candidate is (10, 30)
    through middle 20 with weight 1/ln(2). Degree-1 middles must
    contribute nothing, and no score may be astronomically large (the
    pre-r9 Long.MaxValue symptom was adamic_adar ~ 9.2e9)."""
    import math

    from dataengineeringproject_spark import registry

    sf_dir = _lineitem_fixture(
        spark, tmp_path, [(1, 10), (1, 20), (2, 20), (2, 30), (3, 40), (3, 50)]
    )
    got = registry.queries()["link_prediction_adamic_adar"](
        spark, sf_dir
    ).collect()
    assert len(got) == 1, got
    r = got[0]
    assert (r.rank, r.node_a, r.node_b, r.common_neighbors) == (1, 10, 30, 1)
    want = round(round(1e9 / math.log(2)) / 1e9, 6)
    assert abs(r.adamic_adar - want) < 1e-9
    assert r.adamic_adar < 100, "no Infinity->MaxValue weights"


def test_adamic_adar_midcap_truncation_is_deterministic(spark, tmp_path):
    """A hub middle with MORE than _AA_MIDCAP neighbors: orders
    {i: (spoke i, hub 999)} for i = 1..cap+8. The per-middle fan-in
    cap must keep exactly the _AA_MIDCAP smallest spoke ids (ORDER BY
    u ASC — deterministic), so no dropped spoke may appear in any
    candidate pair, and the top-k is the lexicographically smallest
    kept pairs with equal scores weighted by the hub's TRUE degree."""
    import math

    from dataengineeringproject_spark import registry
    from dataengineeringproject_spark.queries.graph_q import (
        _AA_MIDCAP,
        _LP_TOPK,
    )

    n_spokes = _AA_MIDCAP + 8
    rows = []
    for i in range(1, n_spokes + 1):
        rows += [(i, i), (i, 999)]
    got = registry.queries()["link_prediction_adamic_adar"](
        spark, _lineitem_fixture(spark, tmp_path, rows)
    ).collect()
    assert len(got) == _LP_TOPK
    kept = set(range(1, _AA_MIDCAP + 1))
    for r in got:
        assert r.node_a in kept and r.node_b in kept, (
            f"dropped spoke leaked into candidates: {r}"
        )
        assert r.common_neighbors == 1
    # equal scores -> tie-break (na asc, nb asc): (1,2), (1,3), ...
    assert [(r.node_a, r.node_b) for r in got] == [
        (1, b) for b in range(2, _LP_TOPK + 2)
    ]
    # weight uses the hub's TRUE degree (n_spokes), not the capped one
    want = round(round(1e9 / math.log(n_spokes)) / 1e9, 6)
    assert all(abs(r.adamic_adar - want) < 1e-9 for r in got)


def test_global_row_number_matches_single_window(spark):
    from dataengineeringproject_spark.operators.relational import (
        global_row_number,
    )

    df = spark.range(0, 1000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("tie")
    ).repartition(16)
    order = [F.asc("k"), F.asc("tie")]
    got = global_row_number(df, order, "rn").toPandas()
    want = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(*order))
    ).toPandas()
    key = ["k", "tie"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert (got["rn"] == want["rn"]).all()
    assert got["rn"].min() == 1 and got["rn"].max() == 1000


def test_global_row_number_duplicate_keys_with_tiebreak(spark):
    """ADVICE r9: heavily duplicated ordering keys (100 rows per key)
    so equal keys DO straddle range-partition boundaries — the exact
    hazard the operator documents. With the explicit `tiebreak`
    column restoring totality, ranks must match the single-window
    row_number exactly."""
    from dataengineeringproject_spark.operators.relational import (
        global_row_number,
    )

    df = spark.range(0, 2000).select(
        (F.col("id") % 20).alias("k"), F.col("id").alias("u")
    ).repartition(16)
    got = global_row_number(
        df, [F.asc("k")], "rn", tiebreak=F.asc("u")
    ).toPandas()
    want = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.asc("k"), F.asc("u")))
    ).toPandas()
    key = ["k", "u"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert (got["rn"] == want["rn"]).all()
    assert got["rn"].min() == 1 and got["rn"].max() == 2000


def test_global_row_number_guards(spark):
    """Internal-name collisions fail fast with a clear message."""
    import pytest

    from dataengineeringproject_spark.operators.relational import (
        global_row_number,
    )

    bad = spark.range(3).select(F.col("id"), F.lit(0).alias("__pid"))
    with pytest.raises(ValueError, match="__pid"):
        global_row_number(bad, [F.asc("id")])


def test_knn_scale_classes_and_twin_registered():
    from dataengineeringproject_spark import registry

    classes = registry.scale_classes()
    assert classes["knn_classifier_eval"] == "diagnostic"
    assert classes["knn_classifier_eval_lsh"] == "scalable"
    assert "knn_classifier_eval_lsh" in registry.oracle_sql()


def test_sweep_order_derived_from_correctness_files(tmp_path):
    """The sweep tiers come from CORRECTNESS_r<N>.json rows: green is
    hash_match, or rows_match with no error; the newest green round
    wins by number (r10 over r9, though "r10" sorts first as a name);
    never-green queries lead; registration order holds within a tier."""
    import json

    from dataengineeringproject_spark import registry

    ok = {"rows_match": True, "hash_match": True, "err": None}
    rows_only = {"rows_match": True, "err": None}
    failed = {"rows_match": True, "hash_match": False, "err": "boom"}
    corr = tmp_path / "corr"
    corr.mkdir()
    (corr / "CORRECTNESS_r9.json").write_text(json.dumps(
        {"a": ok, "b": rows_only, "c": failed, "d": ok}
    ))
    (corr / "CORRECTNESS_r10.json").write_text(json.dumps(
        {"a": failed, "b": failed, "d": rows_only}
    ))
    (corr / "CORRECTNESS_r10_c8.json").write_text("{}")
    assert registry._last_green_round(corr) == {"a": 9, "b": 9, "d": 10}
    names = ["d", "a", "c", "e", "b"]
    assert registry._sweep_order(names, corr) == ["c", "e", "a", "b", "d"]

    empty = tmp_path / "empty"
    empty.mkdir()
    assert registry._last_green_round(empty) == {}
    assert registry._sweep_order(names, empty) == names


def test_queries_sweep_stalest_green_round_first():
    """Live order over the repo's own CORRECTNESS files: queries() is
    non-decreasing in derived newest-green round, and oracle_sql()
    lists the same names in the same order. Holds for any set of
    CORRECTNESS files, so a new one never turns it red."""
    from dataengineeringproject_spark import registry

    order = list(registry.queries())
    last = registry._last_green_round()
    rounds = [last.get(n, 0) for n in order]
    assert rounds == sorted(rounds)
    assert list(registry.oracle_sql()) == order
