"""Round-16 optimization-round tests: pin the internals the r16
optimizations changed (OPTIMIZATION_r16.md).

1. link_prediction_adamic_adar's two in-set expansions must equal the
   self-joins they replaced:
   - per-order basket pair expansion == the a x b self-join on
     l_orderkey (+ distinct);
   - per-middle capped-list pair expansion (degree via
     count-over-window) == deg aggregate + row_number cap + wedge
     self-join.
2. graph_khop_reach's bottom-up branch must carry NO broadcast hint on
   the |P|-sized deg frame (ADVICE r15 medium: driver OOM at 100 TB);
   the auto switch's DECISION is asserted on the saturated fixture in
   test_r15_opt.py (strengthened there, ADVICE r15 low).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_aa_basket_pairs_equal_self_join(spark):
    from dataengineeringproject_spark.schemas import load_table

    li = load_table(spark, SF, "lineitem")
    s = li.select("l_orderkey", "l_partkey").distinct()
    a = s.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("sa"))
    b = s.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("sb"))
    old = (
        a.join(b, "ok")
        .filter(F.col("sa") < F.col("sb"))
        .select("sa", "sb")
        .distinct()
    )
    new = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) -> "
                    "transform(slice(items, i + 2, size(items)), "
                    "y -> struct(x AS sa, y AS sb))))"
                )
            ).alias("pr")
        )
        .select(F.col("pr.sa").alias("sa"), F.col("pr.sb").alias("sb"))
        .distinct()
    )
    assert _rows(old) == _rows(new)
    assert old.count() > 0


def test_aa_inset_middle_stage_equals_wedge_self_join(spark):
    from dataengineeringproject_spark.queries.graph_q import _AA_MIDCAP
    from dataengineeringproject_spark.schemas import load_table

    li = load_table(spark, SF, "lineitem")
    s = li.select("l_orderkey", "l_partkey").distinct()
    a = s.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("sa"))
    b = s.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("sb"))
    p = (
        a.join(b, "ok")
        .filter(F.col("sa") < F.col("sb"))
        .select("sa", "sb")
        .distinct()
    )
    adj = p.select(F.col("sa").alias("u"), F.col("sb").alias("w")).unionAll(
        p.select(F.col("sb").alias("u"), F.col("sa").alias("w"))
    )
    # old formulation: deg aggregate + window cap + self-join on w
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    wcap = Window.partitionBy("w").orderBy(F.asc("u"))
    adjc = (
        adj.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _AA_MIDCAP)
        .drop("rn")
    )
    adjw = adjc.join(
        deg.filter(F.col("d") >= 2), adjc["w"] == deg["node"]
    ).select(
        "u", "w", F.round(1e9 / F.log(F.col("d"))).cast("long").alias("au")
    )
    right = adjc.select(F.col("u").alias("nb"), F.col("w").alias("wb"))
    old = (
        adjw.select(F.col("u").alias("na"), "w", "au")
        .join(right, F.col("w") == F.col("wb"))
        .filter(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum("au").cast("long").alias("aau"),
        )
    )
    # new formulation: one by-w pass (count window = degree because adj
    # holds both directions of every distinct pair), in-set expansion
    wd = Window.partitionBy("w")
    capped = (
        adj.withColumn("rn", F.row_number().over(wcap))
        .withColumn("d", F.count(F.lit(1)).over(wd))
        .filter(F.col("rn") <= _AA_MIDCAP)
    )
    new = (
        capped.groupBy("w", "d")
        .agg(F.sort_array(F.collect_list("u")).alias("ns"))
        .filter(F.size("ns") >= 2)
        .select(
            F.round(1e9 / F.log(F.col("d"))).cast("long").alias("au"),
            F.explode(
                F.expr(
                    "flatten(transform(ns, (x, i) -> "
                    "transform(slice(ns, i + 2, size(ns)), "
                    "y -> struct(x AS na, y AS nb))))"
                )
            ).alias("pr"),
        )
        .groupBy(F.col("pr.na").alias("na"), F.col("pr.nb").alias("nb"))
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum("au").cast("long").alias("aau"),
        )
    )
    assert _rows(old) == _rows(new)
    assert old.count() > 0


def test_khop_bottomup_plan_has_no_forced_broadcast_on_deg(spark):
    """The bottom-up branch must leave the deg join strategy to AQE:
    the logical plan of the branch must contain no broadcast HINT.
    (AQE may still CHOOSE a broadcast at sf scales — that is the
    point — so we assert on the hint, not the physical operator.)"""
    import dataengineeringproject_spark.queries.graph_q as G

    def _n_hints(direction: str) -> int:
        try:
            G._KHOP_FORCE_DIRECTION = direction
            df = G.graph_khop_reach(spark, SF)
        finally:
            G._KHOP_FORCE_DIRECTION = None
        analyzed = df._jdf.queryExecution().analyzed().toString()
        return sum(
            1
            for ln in analyzed.splitlines()
            if "ResolvedHint (strategy=broadcast)" in ln
        )

    # both branches share the deliberate frontier-bounded hints (seeds,
    # s1 — duplicated across the reach_2/reach_4 subtrees by the
    # analyzer); the bottom-up branch must add NONE of its own: a
    # forced broadcast on the |P|-sized deg frame would show up as
    # extra hint nodes relative to top-down.
    assert _n_hints("bottomup") <= _n_hints("topdown")


def _plain_cc(spark, nodes, edges, max_iter=200):
    """Reference implementation: plain min-label propagation (the r15
    operator, no compression) with a high round budget."""
    both = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    both = both.distinct().localCheckpoint(eager=True)
    labels = nodes.select(
        F.col("id"), F.col("id").alias("component")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nm = (
            both.join(labels, both.src == labels.id)
            .groupBy(F.col("dst").alias("id2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(nm, labels.id == F.col("id2"), "left")
            .select(
                "id",
                F.least(
                    "component", F.coalesce("nbr_component", "component")
                ).alias("component"),
                (F.col("nbr_component") < F.col("component")).alias("__c"),
            )
            .localCheckpoint(eager=True)
        )
        n = updated.filter(F.col("__c")).limit(1).count()
        labels = updated.drop("__c")
        if n == 0:
            break
    return labels


def test_cc_chain_converges_within_log_rounds(spark):
    """A 64-node chain has diameter 64: plain propagation at the
    operator's max_iter=25 would TRUNCATE (RuntimeWarning); the
    compressed operator must fully converge (all labels 0) without
    warning — the pointer-jumping round-count guarantee."""
    import warnings

    from dataengineeringproject_spark.operators.graph import (
        connected_components,
    )

    n = 64
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        labels = connected_components(nodes, edges)
        rows = labels.collect()
    assert len(rows) == n
    assert all(r.component == 0 for r in rows)


def test_reset_stats_rejects_frames_without_jvm_handles():
    """_reset_stats rebuilds frames through classic-session internals;
    a frame without them (a Spark Connect DataFrame, here a stand-in
    lacking _jdf) must fail with an error naming Spark Connect, not an
    AttributeError from deep inside the operator."""
    from types import SimpleNamespace

    import pytest

    from dataengineeringproject_spark.operators.graph import _reset_stats

    stand_in = SimpleNamespace(sparkSession=SimpleNamespace())
    with pytest.raises(RuntimeError, match="Spark Connect"):
        _reset_stats(stand_in)


def test_cc_equals_plain_propagation_on_random_graph(spark):
    """Fixpoint identity: compression changes the ROUND COUNT, never
    the labels — compare against plain propagation on a deterministic
    pseudo-random multi-component graph."""
    from dataengineeringproject_spark.operators.graph import (
        connected_components,
    )

    n = 500
    nodes = spark.range(n).select(F.col("id"))
    # deterministic scatter edges: several mid-size components + isolates
    edges = (
        spark.range(400)
        .select(
            ((F.col("id") * 37) % n).alias("id_a"),
            ((F.col("id") * 61 + 13) % n).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    got = {
        (r.id, r.component)
        for r in connected_components(nodes, edges).collect()
    }
    want = {
        (r.id, r.component)
        for r in _plain_cc(spark, nodes, edges).collect()
    }
    assert got == want


def test_basket_triples_equal_double_self_join(spark):
    """_TRIPLE_EXPAND's per-basket 3-combinations (+ count) must equal
    the a x b x c double self-join on l_orderkey the r15 formulation
    used (association_rules_topk's w3 grain)."""
    from dataengineeringproject_spark.queries.graph_q import (
        _TRIPLE_EXPAND,
        _baskets,
    )
    from dataengineeringproject_spark.schemas import load_table

    li = load_table(spark, SF, "lineitem")
    s = li.select("l_orderkey", "l_suppkey").distinct()
    a = s.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("i1"))
    b = s.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("i2"))
    c = s.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("i3"))
    old = (
        a.join(b, "ok")
        .filter(F.col("i1") < F.col("i2"))
        .join(c, "ok")
        .filter(F.col("i2") < F.col("i3"))
        .groupBy("i1", "i2", "i3")
        .agg(F.count(F.lit(1)).alias("w3"))
    )
    new = (
        _baskets(li, "l_suppkey")
        .select(F.explode(F.expr(_TRIPLE_EXPAND)).alias("tr"))
        .groupBy(
            F.col("tr.i1").alias("i1"),
            F.col("tr.i2").alias("i2"),
            F.col("tr.i3").alias("i3"),
        )
        .agg(F.count(F.lit(1)).alias("w3"))
    )
    assert _rows(old) == _rows(new)
    assert old.count() > 0


def test_basket_weighted_pairs_equal_self_join(spark):
    """_pair_expand with a (sa, sb) count must equal the weighted
    self-join pair pass (_lift_pairs' w grain), including orders with
    a single distinct item (no pairs) and the basket-count/degree
    frames derived from the same aggregate."""
    from dataengineeringproject_spark.queries.graph_q import (
        _baskets,
        _pair_expand,
    )
    from dataengineeringproject_spark.schemas import load_table

    li = load_table(spark, SF, "lineitem")
    s = li.select("l_orderkey", "l_suppkey").distinct()
    a = s.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sa"))
    b = s.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sb"))
    old = (
        a.join(b, "ok")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    bk = _baskets(li, "l_suppkey")
    new = (
        bk.select(F.explode(_pair_expand("items", "sa", "sb")).alias("pr"))
        .groupBy(F.col("pr.sa").alias("sa"), F.col("pr.sb").alias("sb"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    assert _rows(old) == _rows(new)
    # nb (all baskets) and per-item degree must match the s-based forms
    nb_old = s.agg(F.countDistinct("l_orderkey")).collect()[0][0]
    nb_new = bk.count()
    assert nb_old == nb_new
    deg_old = s.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("c"))
    deg_new = (
        bk.select(F.explode("items").alias("l_suppkey"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    assert _rows(deg_old) == _rows(deg_new)
