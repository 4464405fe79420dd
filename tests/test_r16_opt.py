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
3. connected_components must give the plain-propagation labels on both
   of its paths: the one-task union-find (edge count at or below
   graph._LOCAL_MAX_EDGES) and the distributed min-label loop with
   label compression (forced here by patching the bound to -1).
"""

from __future__ import annotations

import pytest
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


@pytest.fixture(params=["local", "distributed"])
def cc(request, monkeypatch):
    """connected_components pinned to one path: the default bound for
    the one-task path, -1 for the distributed loop (so even an empty
    edge set takes the loop). Asserts the path the call actually took
    (only the one-task path ships the package to workers)."""
    from dataengineeringproject_spark.operators import graph

    if request.param == "distributed":
        monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", -1)
    return _path_checked(graph, monkeypatch, request.param)


def _path_checked(graph, monkeypatch, path):
    shipped = []
    real = graph.ensure_package_on_workers
    monkeypatch.setattr(
        graph,
        "ensure_package_on_workers",
        lambda spark: (shipped.append(1), real(spark)),
    )

    def run(nodes, edges, **kw):
        shipped.clear()
        out = {
            (r.id, r.component)
            for r in graph.connected_components(nodes, edges, **kw).collect()
        }
        assert bool(shipped) == (path == "local"), path
        return out

    run.path = path
    return run


def _plain_set(spark, nodes, edges):
    return {(r.id, r.component) for r in _plain_cc(spark, nodes, edges).collect()}


def test_cc_chain_converges_within_log_rounds(spark, cc):
    """A 64-node chain has diameter 64: plain propagation at the
    operator's max_iter=25 would TRUNCATE; the compressed loop must
    fully converge (all labels 0) without a RuntimeWarning — the
    pointer-jumping round-count guarantee — and strict=True must not
    raise. The one-task path always reaches its fixpoint, so it
    converges even with max_iter=1."""
    import warnings

    n = 64
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    max_iter = 1 if cc.path == "local" else 25
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = cc(nodes, edges, max_iter=max_iter, strict=True)
    assert got == {(i, 0) for i in range(n)}


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


def test_cc_equals_plain_propagation_on_random_graph(spark, cc):
    """Fixpoint identity: compression changes the ROUND COUNT and the
    one-task union-find the job count, never the labels — compare
    against plain propagation on a deterministic pseudo-random
    multi-component graph."""
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
    assert cc(nodes, edges) == _plain_set(spark, nodes, edges)


@pytest.mark.parametrize("slack, path", [(0, "local"), (-1, "distributed")])
def test_cc_path_switches_at_the_edge_bound(spark, monkeypatch, slack, path):
    """A 10-node chain has 18 distinct directed edges: a bound of 18
    keeps it on the one-task path, 17 sends it to the distributed
    loop; both give the plain-propagation labels."""
    from dataengineeringproject_spark.operators import graph

    nodes = spark.range(10).select(F.col("id"))
    edges = spark.range(9).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", 18 + slack)
    run = _path_checked(graph, monkeypatch, path)
    assert run(nodes, edges) == _plain_set(spark, nodes, edges)


def test_cc_string_ids(spark, cc):
    """String ids: the one-task path takes its output type from the
    edge frame and ranks ids as Spark's min does."""
    nodes = spark.createDataFrame(
        [(x,) for x in ["d1", "d2", "d10", "b", "a", "zz", "Z"]], "id string"
    )
    edges = spark.createDataFrame(
        [("d2", "d10"), ("d10", "b"), ("zz", "Z")], "id_a string, id_b string"
    )
    want = {
        ("d1", "d1"), ("d2", "b"), ("d10", "b"), ("b", "b"), ("a", "a"),
        ("zz", "Z"), ("Z", "Z"),
    }
    assert cc(nodes, edges) == want == _plain_set(spark, nodes, edges)


def test_cc_isolated_nodes_and_empty_edge_set(spark, cc):
    """Nodes with no edge label themselves, also when there is no edge
    at all."""
    nodes = spark.range(6).select(F.col("id"))
    edges = spark.createDataFrame([(1, 4)], "id_a long, id_b long")
    assert cc(nodes, edges) == {(0, 0), (1, 1), (2, 2), (3, 3), (4, 1), (5, 5)}
    no_edges = edges.limit(0)
    assert cc(nodes, no_edges) == {(i, i) for i in range(6)}
    assert cc(nodes, no_edges) == _plain_set(spark, nodes, no_edges)


def test_cc_self_loops_duplicates_and_null_endpoints(spark, cc):
    """Self-loops and repeated edges (both directions) change nothing;
    an edge with a null endpoint is dropped, as the loop's join drops
    it."""
    nodes = spark.range(6).select(F.col("id"))
    edges = spark.createDataFrame(
        [(1, 1), (2, 3), (2, 3), (3, 2), (5, None), (None, 4), (4, 5)],
        "id_a long, id_b long",
    )
    want = {(0, 0), (1, 1), (2, 2), (3, 2), (4, 4), (5, 4)}
    assert cc(nodes, edges) == want == _plain_set(spark, nodes, edges)


def test_min_labels_on_shuffled_chain_is_fast():
    """The one-task labeller without Spark: a 100k-node chain under a
    random id permutation (so ids along the chain are unordered and
    hooking cannot follow the chain) collapses to one component labeled
    by its min id, in well under a second."""
    import time

    import numpy as np

    from dataengineeringproject_spark.operators.graph import _min_labels

    n = 100_000
    perm = np.random.default_rng(7).permutation(n) + 10
    src, dst = perm[:-1], perm[1:]
    t0 = time.perf_counter()
    ids, comp = _min_labels(np.concatenate([src, dst]), np.concatenate([dst, src]))
    elapsed = time.perf_counter() - t0
    assert ids.tolist() == list(range(10, n + 10))
    assert (comp == 10).all()
    assert elapsed < 1.0, elapsed


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
