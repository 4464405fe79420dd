"""Graph / market-basket queries over the TPC-H order structure.

The reference has no graph surface (its 924 LoC are a linear pandas
ETL: v5_group_project_dag.py:377); this module extends the engine with
the two classic co-occurrence analyses a 100 TB corpus warehouse runs
on its relational side:

- `copurchase_lift_pairs`: market-basket association strength (lift)
  between suppliers co-occurring in orders — the A-priori-style pair
  pass where the per-basket pair explosion is bounded by basket size
  (TPC-H orders hold <= 7 lineitems, so the self-join fan-out per
  order is <= 21 pairs regardless of corpus size).
- `triangle_count_suppliers`: triangle participation counts in the
  top-K-by-lift co-occurrence subgraph — the standard degree-ordered
  (rank-orientation) triangle enumeration that bounds wedge fan-out
  by orienting every edge from its lower-(degree, id) endpoint to the
  higher one, so each triangle is generated exactly once at its
  minimum vertex.

Scale posture: the pair pass shuffles once on l_orderkey (bounded
explosion), once on the (sa, sb) pair key (map-side combined counts);
the degree table is |suppliers| rows (broadcast); the triangle stage
runs on a top-K edge frame selected by a TakeOrderedAndProject heap
(K = {_TRI_EDGES}), so its cost is fixed no matter how large the
corpus grows — the knob a deployment turns is K, not the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineeringproject_spark.registry import register
from dataengineeringproject_spark.schemas import load_table

_LIFT_TOPK = 50     # pairs reported by copurchase_lift_pairs
_TRI_EDGES = 2000   # top-by-lift edge budget for the triangle subgraph
_TRI_TOPK = 10      # suppliers reported by triangle_count_suppliers

# Shared CTE prefix: distinct (order, supplier) incidence, basket
# count, per-supplier order counts, and the lift-scored pair frame.
# Lift = P(a,b) / (P(a)·P(b)) = w·n_orders / (c_a·c_b): all inputs are
# exact integer aggregates, so the one double division is
# deterministic on both engines; rounded to 6dp before any ordering
# so an engine ulp cannot reorder the top-K boundary.
_PAIR_CTE = """
    s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS nb FROM s),
    deg AS (SELECT l_suppkey, count(*) AS c FROM s GROUP BY 1),
    p AS (
      SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS w
      FROM s a JOIN s b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    ),
    l AS (
      SELECT p.sa, p.sb, p.w,
             ROUND(p.w * n.nb * 1e0 / (da.c * db.c), 6) AS lift
      FROM p CROSS JOIN n
      JOIN deg da ON da.l_suppkey = p.sa
      JOIN deg db ON db.l_suppkey = p.sb
    )"""


def _baskets(li: DataFrame, item_col: str) -> DataFrame:
    """(l_orderkey, items) with items = the order's SORTED distinct
    item set — ONE map-side-combined aggregate replacing the
    distinct-incidence shuffle AND the a×b (×c) self-joins on
    l_orderkey everywhere a query consumes per-basket combinations
    (r16, the corpus_similarity/link_prediction in-set expansion
    pattern, guide §2.4/§3). TPC-H baskets are structurally tiny
    (≤ 7 lineitems per order), so per-basket pair/triple expansion is
    bounded; collect_set IS the per-order distinct, so no separate
    distinct pass remains. Every consumer's reference to this frame
    carries the identical aggregate, which AQE stage reuse dedupes at
    runtime (ReusedExchange — the heaps_law r15 pattern, proven for
    this family in plans/r16/)."""
    return li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set(item_col)).alias("items")
    )


def _pair_expand(arr: str, a: str, b: str) -> Column:
    """Ordered in-set pair expansion of the sorted array column `arr`:
    every (a, b) struct with a < b, as an array to explode."""
    return F.expr(
        f"flatten(transform({arr}, (x, i) -> "
        f"transform(slice({arr}, i + 2, size({arr})), "
        f"y -> struct(x AS {a}, y AS {b}))))"
    )


# ordered in-set triple expansion over the sorted per-basket item
# list: all (i1, i2, i3) with i1 < i2 < i3.
_TRIPLE_EXPAND = (
    "flatten(transform(items, (x, i) -> "
    "flatten(transform(slice(items, i + 2, size(items)), (y, j) -> "
    "transform(slice(items, i + j + 3, size(items)), "
    "z -> struct(x AS i1, y AS i2, z AS i3))))))"
)


def _lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift-scored supplier co-occurrence pairs (sa < sb): the shared
    front half of both queries below. r16: pair counts, per-supplier
    basket degree and the basket count all derive from ONE _baskets
    aggregate (pair expansion in-set; deg = items explode; singleton
    baskets contribute no pairs because the expansion of a 1-element
    list is empty — no size filter needed, and nb counts ALL
    baskets)."""
    li = load_table(spark, sf_dir, "lineitem")
    bk = _baskets(li, "l_suppkey")
    n = bk.agg(F.count(F.lit(1)).alias("nb"))
    deg = (
        bk.select(F.explode("items").alias("l_suppkey"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p = (
        bk.select(F.explode(_pair_expand("items", "sa", "sb")).alias("pr"))
        .groupBy(F.col("pr.sa").alias("sa"), F.col("pr.sb").alias("sb"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    da = deg.select(F.col("l_suppkey").alias("sa"), F.col("c").alias("ca"))
    db = deg.select(F.col("l_suppkey").alias("sb"), F.col("c").alias("cb"))
    return (
        p.join(F.broadcast(da), "sa")
        .join(F.broadcast(db), "sb")
        .crossJoin(F.broadcast(n))
        .select(
            "sa", "sb", "w",
            F.round(
                F.col("w") * F.col("nb") * F.lit(1.0)
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "copurchase_lift_pairs",
    oracle=f"""
    WITH {_PAIR_CTE}
    SELECT sa, sb, CAST(w AS BIGINT) AS support, lift
    FROM l ORDER BY lift DESC, sa, sb LIMIT {_LIFT_TOPK}
    """,
)
def copurchase_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_LIFT_TOPK} supplier pairs by co-occurrence lift: which
    suppliers appear in the same orders MORE than their individual
    popularity predicts. The market-basket pair pass: baskets are
    orders, items are suppliers; the per-basket self-join explosion is
    bounded by basket size (<= 7 lineitems in TPC-H), the pair counts
    are map-side combined on (sa, sb), the degree/basket-count sides
    are broadcast, and the final top-K is a TakeOrderedAndProject heap
    — no global sort materializes. The same plan is the A-priori L2
    candidate pass when a min-support filter precedes the lift score.
    Reference: no counterpart (the reference is a linear weather ETL);
    north-star extension per SURVEY.md §7.2."""
    return (
        _lift_pairs(spark, sf_dir)
        .orderBy(F.desc("lift"), F.asc("sa"), F.asc("sb"))
        .limit(_LIFT_TOPK)
        .select("sa", "sb", F.col("w").cast("long").alias("support"), "lift")
    )


@register(
    "triangle_count_suppliers",
    oracle=f"""
    WITH {_PAIR_CTE},
    e AS (
      SELECT sa, sb FROM l ORDER BY lift DESC, sa, sb LIMIT {_TRI_EDGES}
    ),
    tri AS (
      SELECT e1.sa AS a, e1.sb AS b, e2.sb AS c
      FROM e e1
      JOIN e e2 ON e2.sa = e1.sb
      JOIN e e3 ON e3.sa = e1.sa AND e3.sb = e2.sb
    ),
    m AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node AS suppkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM m GROUP BY 1
    ORDER BY n_triangles DESC, suppkey LIMIT {_TRI_TOPK}
    """,
)
def triangle_count_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TRI_TOPK} suppliers by triangle participation in the
    top-{_TRI_EDGES}-by-lift co-occurrence subgraph. The Spark side
    runs the degree-ordered enumeration (orient each edge from its
    lower-(degree, id) endpoint; wedges only fan out from orientation
    sources, so each triangle is produced exactly once and wedge count
    is bounded by sum of squared OUT-degrees — the classic bound that
    makes triangle counting feasible on power-law graphs). The oracle
    states the same triangles declaratively (a < b < c over the id
    order) — identical set, simpler SQL. The edge budget (top-K heap
    by rounded lift) is what holds the stage constant-cost at 100 TB:
    the pair pass upstream scales like copurchase_lift_pairs, and
    everything after the limit is a <= {_TRI_EDGES}-row broadcast."""
    e = (
        _lift_pairs(spark, sf_dir)
        .orderBy(F.desc("lift"), F.asc("sa"), F.asc("sb"))
        .limit(_TRI_EDGES)
        .select("sa", "sb")
        .cache()
    )
    # Degree inside the subgraph, then rank-orientation u -> v where
    # (deg_u, u) < (deg_v, v): every triangle has a unique minimum
    # vertex under this total order, and both its triangle edges leave
    # that vertex.
    deg = (
        e.select(F.col("sa").alias("node"))
        .unionAll(e.select(F.col("sb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("sa"), F.col("d").alias("dda"))
    db = deg.select(F.col("node").alias("sb"), F.col("d").alias("ddb"))
    ann = e.join(F.broadcast(da), "sa").join(F.broadcast(db), "sb")
    fwd = F.col("dda") < F.col("ddb")
    tie = (F.col("dda") == F.col("ddb")) & (F.col("sa") < F.col("sb"))
    o = ann.select(
        F.when(fwd | tie, F.col("sa")).otherwise(F.col("sb")).alias("u"),
        F.when(fwd | tie, F.col("sb")).otherwise(F.col("sa")).alias("v"),
    )
    o1 = o.select("u", F.col("v").alias("v1"))
    o2 = o.select("u", F.col("v").alias("v2"))
    wedges = o1.join(F.broadcast(o2), "u").filter(F.col("v1") < F.col("v2"))
    # Closing edge lookup: e stores undirected edges id-sorted
    # (sa < sb), and v1 < v2 by id already, so the semi-join key is
    # exactly (v1, v2).
    closing = e.select(F.col("sa").alias("v1"), F.col("sb").alias("v2"))
    tri = wedges.join(F.broadcast(closing), ["v1", "v2"], "left_semi")
    m = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v1").alias("node")))
        .unionAll(tri.select(F.col("v2").alias("node")))
    )
    return (
        m.groupBy(F.col("node").alias("suppkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("suppkey"))
        .limit(_TRI_TOPK)
    )


# --- k-hop BFS reach (bipartite part—supplier graph) -------------------------

_KHOP_SEED_MOD = 97  # deterministic seed set: parts with p % 97 == 0
# Test hook for the hop-4 direction switch: None = measured auto
# (the production behavior), "bottomup"/"topdown" pin a branch so the
# equivalence test can run BOTH on one fixture and compare outputs.
_KHOP_FORCE_DIRECTION: str | None = None
# set by graph_khop_reach on every call: which hop-4 branch the auto
# switch (or the force hook) selected — lets tests assert the DECISION
# on a saturated fixture instead of comparing a branch to itself
# (ADVICE r15 low).
_KHOP_LAST_DIRECTION: str | None = None


@register(
    "graph_khop_reach",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ),
    seeds AS (SELECT DISTINCT p AS seed FROM e WHERE p % {_KHOP_SEED_MOD} = 0),
    s1 AS (SELECT DISTINCT seed, e.s FROM seeds JOIN e ON e.p = seeds.seed),
    p2 AS (SELECT DISTINCT seed, e.p FROM s1 JOIN e USING (s)),
    s3 AS (SELECT DISTINCT seed, e.s FROM p2 JOIN e USING (p)),
    p4 AS (SELECT DISTINCT seed, e.p FROM s3 JOIN e USING (s)),
    c2 AS (
      SELECT seed, CAST(count(*) FILTER (WHERE p <> seed) AS BIGINT) AS reach_2
      FROM p2 GROUP BY 1
    ),
    c4 AS (
      SELECT seed, CAST(count(*) FILTER (WHERE p <> seed) AS BIGINT) AS reach_4
      FROM p4 GROUP BY 1
    )
    SELECT seed AS seed_part, reach_2, reach_4 FROM c2 JOIN c4 USING (seed)
    """,
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop BFS reach over the bipartite part—supplier graph
    (edges = distinct (l_partkey, l_suppkey) incidences): for every
    seed part (p % {_KHOP_SEED_MOD} == 0) count the OTHER parts
    reachable within 2 and within 4 hops — the supply-chain blast
    radius / substitution-pool question, and the engine's only
    multi-hop traversal (pagerank is a power iteration, triangles are
    local, connected components is a fixpoint).

    Scale shape — textbook distributed BFS: the frontier is a
    (seed, node) set deduplicated at EVERY level, so it is bounded by
    |seeds| x |nodes| regardless of path multiplicity (the naive
    path-enumeration join grows exponentially with k). The frontier —
    tiny next to the edge list — is broadcast into each expansion
    join, so the 100 TB edge table is never shuffled: each level is
    one broadcast-hash join + one distinct at frontier grain. k is a
    fixed plan constant (unrolled, no driver loop).

    r15 (measured, OPTIMIZATION_r15.md): the LAST hop is
    direction-optimizing (Beamer et al.'s top-down/bottom-up switch,
    the published BFS optimization). Measured at sf0.1 the hop-3
    frontier TOTALLY saturates (|S3(seed)| == |S| == 1000 for all 207
    seeds), so the top-down hop-4 expansion generated ~122M
    (seed, p) candidate rows (sum over s3 of deg(s)) feeding a
    multi-million-entry hash distinct per task — 34 s of the query's
    ~26-31 s cold wall, and the bench session's worst GC source.
    Bottom-up computes the same reach EXACTLY from the complement:
    C(seed) = S \\ S3(seed), a part is UNREACHED iff ALL its suppliers
    are in C(seed), and reach_4 = |P| - |U(seed)| - 1 + [seed in U].
    The DOWNSTREAM edge-expansion work is sum(|C|) x deg — zero rows
    at full saturation — while the top-down cost is |s3| x deg;
    building C itself still scans the |seeds| x |S| rectangle
    (crossJoin + anti-join) every run regardless of fill, which is the
    same frontier-bound O(|seeds| x |S|) the top-down distinct already
    carries (ADVICE r15: the earlier wording claimed zero TOTAL work).
    Bottom-up is cheaper exactly when the frontier is more than half
    full, which is the measured switch (the probes are 3 scalar counts
    on cached frames, the repo's standard two-pass pattern). Sparse frontiers keep the original top-down
    plan, with the edge side spread by s before the expansion join
    (measured 23.6 -> 15.5 s on the fallback at sf0.1: the fan-out's
    partial distinct was concentrating on the cached scan layout)."""
    li = load_table(spark, sf_dir, "lineitem")
    # The distinct edge list feeds all four expansion levels and the
    # seed filter — cache it so the lineitem scan+distinct runs once,
    # not five times (at 100 TB this is the persisted incidence table
    # every graph query shares, same staged-artifact pattern as the
    # LSH signature index).
    e = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct().cache()
    seeds = (
        e.filter(F.col("p") % _KHOP_SEED_MOD == 0)
        .select(F.col("p").alias("seed"))
        .distinct()
    )
    # Each expansion multiplies the frontier by the edge degree
    # (frontier × deg rows before its distinct) — that fan-out streams
    # through e's scan partitions and partial-aggregates map-side, so
    # it parallelizes; what does NOT is the frontier itself: a few-MB
    # distinct output that AQE happily coalesces, concentrating the
    # broadcast build and the downstream (seed, node) agg exchanges.
    # Pinning the frontier to (seed, node) hash partitions costs a
    # trivial shuffle of the SMALL frame and measured ~25% off the
    # whole query at sf0.1 (21.4 → 16.3 s cold, 13.2 → 9.9 s warm);
    # at cluster scale a saturating frontier is large enough that the
    # spread is a no-op-sized safety repartition.
    par = spark.sparkContext.defaultParallelism

    s1 = (
        e.join(F.broadcast(seeds), e.p == seeds.seed)
        .select("seed", "s")
        .distinct()
        .repartition(par, "seed", "s")
    )
    # p2 is both a REPORTED frontier and the input of the 3rd hop —
    # cache it so the s1->p2 chain isn't rebuilt for the 4-hop branch.
    # Levels 3-4 carry NO broadcast hint: a saturating frontier is
    # bounded by |seeds| x |nodes|, which can exceed what a driver
    # heap should hold — let AQE broadcast it while it is small and
    # fall back to a shuffle join when it is not.
    p2 = e.join(F.broadcast(s1), "s").select("seed", "p").distinct().cache()
    # s3 is consumed by the direction probe AND the chosen hop-4 plan —
    # cache so the probe's count doesn't rebuild the 3-hop chain.
    s3 = (
        e.join(p2.repartition(par, "seed", "p"), "p")
        .select("seed", "s")
        .distinct()
        .repartition(par, "seed", "s")
        .cache()
    )

    def _cnt(fr: DataFrame, name: str) -> DataFrame:
        return fr.groupBy("seed").agg(
            F.sum(F.when(F.col("p") != F.col("seed"), 1).otherwise(0))
            .cast("long")
            .alias(name)
        )

    # Direction-optimizing hop 4 (see docstring): three scalar probes
    # decide top-down vs bottom-up. Break-even: top-down work is
    # |s3| x avg_deg, bottom-up is (|seeds| x |S| - |s3|) x avg_deg,
    # so bottom-up wins exactly when s3 fills more than half the
    # |seeds| x |S| rectangle.
    sup_all = e.select("s").distinct()
    n_sup = sup_all.count()
    n_seed = seeds.count()
    n_s3 = s3.count()
    if _KHOP_FORCE_DIRECTION is not None:  # test hook: pin a branch
        bottom_up = _KHOP_FORCE_DIRECTION == "bottomup"
    else:
        bottom_up = 2 * n_s3 > n_seed * n_sup
    # observability hook (ADVICE r15 low): record which branch the auto
    # switch took, so tests can assert the DECISION, not just output
    # equality of whatever branch happened to run.
    global _KHOP_LAST_DIRECTION
    _KHOP_LAST_DIRECTION = "bottomup" if bottom_up else "topdown"
    if bottom_up:
        # BOTTOM-UP: count unreached parts per seed from the frontier
        # complement. Exact algebra: U(seed) = {p : suppliers(p) is a
        # subset of C(seed)}; |P4| = |P| - |U|; the oracle's p <> seed
        # filter makes reach_4 = |P4| - [seed in P4], and seed is in P
        # by construction (seeds are drawn from e), so
        # reach_4 = n_parts - |U| - 1 + [seed in U].
        n_parts = e.select("p").distinct().count()
        comp = sup_all.crossJoin(seeds).join(s3, ["seed", "s"], "left_anti")
        deg = e.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
        hits = (
            e.join(comp, "s")
            .groupBy("seed", "p")
            .agg(F.count(F.lit(1)).alias("c_in_comp"))
        )
        # NO broadcast hint on deg (r16, ADVICE r15 medium): deg has
        # one row per distinct part — |P|-sized, far beyond what a
        # driver heap should hold at the 100 TB scale this branch
        # targets. AQE broadcasts it while it is small (still a BHJ at
        # sf0.1 — plans/r16/graph_khop_reach_after.txt) and falls back
        # to a shuffled equi-join on p when it is not.
        unreached = hits.join(deg, "p").filter(
            F.col("c_in_comp") == F.col("deg")
        )
        u_per_seed = unreached.groupBy("seed").agg(
            F.count(F.lit(1)).alias("n_unreached"),
            F.max((F.col("p") == F.col("seed")).cast("int")).alias("self_in_u"),
        )
        c4 = seeds.join(u_per_seed, "seed", "left").select(
            "seed",
            (
                F.lit(n_parts)
                - F.coalesce(F.col("n_unreached"), F.lit(0))
                - F.lit(1)
                + F.coalesce(F.col("self_in_u"), F.lit(0))
            )
            .cast("long")
            .alias("reach_4"),
        )
    else:
        # TOP-DOWN (sparse frontier): original expansion, with the
        # edge side spread by join key so the fan-out's partial
        # distinct runs at full parallelism (measured 23.6 -> 15.5 s).
        p4 = (
            e.repartition(par, "s")
            .join(s3, "s")
            .select("seed", "p")
            .distinct()
        )
        c4 = _cnt(p4, "reach_4")

    return (
        _cnt(p2, "reach_2")
        .join(c4, "seed")
        .select(F.col("seed").alias("seed_part"), "reach_2", "reach_4")
    )


# --- Apriori L3: frequent supplier triples -----------------------------------

_FIS_NUM, _FIS_DEN = 4, 10000  # relative min-support 0.04% of baskets
_FIS_TOPK = 50
# Integer-exact ceil(nb * NUM / DEN): no float ever touches the
# threshold, so both engines draw the support cut identically.
_FIS_WMIN = f"(nb * {_FIS_NUM} + {_FIS_DEN - 1}) // {_FIS_DEN}"


@register(
    "frequent_itemsets_triples",
    oracle=f"""
    WITH s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS nb FROM s),
    t AS (
      SELECT a.l_suppkey AS i1, b.l_suppkey AS i2, c.l_suppkey AS i3,
             count(*) AS w
      FROM s a
      JOIN s b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      JOIN s c ON a.l_orderkey = c.l_orderkey AND b.l_suppkey < c.l_suppkey
      GROUP BY 1, 2, 3
    )
    SELECT i1, i2, i3, CAST(w AS BIGINT) AS support,
           round(w * 1e0 / nb, 6) AS rel_support
    FROM t CROSS JOIN n
    WHERE w >= {_FIS_WMIN}
    ORDER BY support DESC, i1, i2, i3 LIMIT {_FIS_TOPK}
    """,
)
def frequent_itemsets_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets (Apriori L3) over order baskets of
    suppliers at relative min-support {_FIS_NUM}/{_FIS_DEN} of baskets,
    top-{_FIS_TOPK} by support — the level-3 market-basket pass above
    `copurchase_lift_pairs`' L2. The Spark side runs the REAL Apriori
    shape: items are pruned to frequent singletons before any pair is
    formed, candidate wedges extend only FREQUENT pairs (downward
    closure), and the closing (i2, i3) edge is checked against the
    frequent-pair set — so per-basket fan-out is bounded by the
    frequent-item degree, not the raw basket size. The oracle states
    the same answer declaratively (prune-free triple count); pruning
    changes cost, never the result. The support threshold is computed
    in INTEGER arithmetic (ceil via (nb*k + den-1) div den) so no
    float rounding can move the cut. Scale shape: distinct-incidence
    shuffle, two bounded self-joins map-side combined on the triple
    key, top-K heap — and at 100 TB the min-support filter is what
    keeps L3 from exploding, exactly as in production Apriori."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.select("l_orderkey", "l_suppkey").distinct()
    nb = s.agg(F.countDistinct("l_orderkey").alias("nb"))
    wmin = F.expr(
        f"(nb * {_FIS_NUM} + {_FIS_DEN - 1}) div {_FIS_DEN}"
    )
    # Frequent singletons (support of a superset never exceeds an item's).
    f1 = (
        s.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("c") >= wmin)
        .select("l_suppkey")
    )
    sf = s.join(F.broadcast(f1), "l_suppkey").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("i")
    )
    a = sf.select(F.col("ok"), F.col("i").alias("i1"))
    b = sf.select(F.col("ok"), F.col("i").alias("i2"))
    c = sf.select(F.col("ok"), F.col("i").alias("i3"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("i1") < F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.count(F.lit(1)).alias("w2"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("w2") >= wmin)
        .select("i1", "i2")
    )
    f2a = pairs  # (i1, i2) frequent
    f2b = pairs.select(
        F.col("i1").alias("i2"), F.col("i2").alias("i3")
    )  # reused to close the (i2, i3) edge
    wedges = (
        a.join(b, "ok")
        .filter(F.col("i1") < F.col("i2"))
        .join(F.broadcast(f2a), ["i1", "i2"])
        .join(c, "ok")
        .filter(F.col("i2") < F.col("i3"))
        .join(F.broadcast(f2b), ["i2", "i3"])
    )
    t = (
        wedges.groupBy("i1", "i2", "i3")
        .agg(F.count(F.lit(1)).alias("w"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("w") >= wmin)
    )
    return (
        t.select(
            "i1", "i2", "i3",
            F.col("w").cast("long").alias("support"),
            F.round(F.col("w") * F.lit(1.0) / F.col("nb"), 6).alias(
                "rel_support"
            ),
        )
        .orderBy(F.desc("support"), F.asc("i1"), F.asc("i2"), F.asc("i3"))
        .limit(_FIS_TOPK)
    )


# --- association rules from the frequent triples ---------------------------------

_AR_TOPK = 30


@register(
    "association_rules_topk",
    oracle=f"""
    WITH s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS nb FROM s),
    deg AS (SELECT l_suppkey, count(*) AS c FROM s GROUP BY 1),
    p AS (
      SELECT a.l_suppkey AS i1, b.l_suppkey AS i2, count(*) AS w2
      FROM s a JOIN s b ON a.l_orderkey = b.l_orderkey
                       AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    ),
    t AS (
      SELECT a.l_suppkey AS i1, b.l_suppkey AS i2, c.l_suppkey AS i3,
             count(*) AS w3
      FROM s a
      JOIN s b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      JOIN s c ON a.l_orderkey = c.l_orderkey AND b.l_suppkey < c.l_suppkey
      GROUP BY 1, 2, 3
      HAVING count(*) >= (SELECT {_FIS_WMIN} FROM n)
    ),
    r AS (
      SELECT t.i1 AS ante_a, t.i2 AS ante_b, t.i3 AS conseq, t.w3,
             p.w2 FROM t JOIN p ON p.i1 = t.i1 AND p.i2 = t.i2
      UNION ALL
      SELECT t.i1, t.i3, t.i2, t.w3, p.w2
      FROM t JOIN p ON p.i1 = t.i1 AND p.i2 = t.i3
      UNION ALL
      SELECT t.i2, t.i3, t.i1, t.w3, p.w2
      FROM t JOIN p ON p.i1 = t.i2 AND p.i2 = t.i3
    )
    SELECT r.ante_a, r.ante_b, r.conseq,
           CAST(r.w3 AS BIGINT) AS support,
           round(r.w3 * 1e0 / r.w2, 6) AS confidence,
           round(r.w3 * 1e0 * n.nb / (r.w2 * deg.c), 6) AS lift
    FROM r JOIN deg ON deg.l_suppkey = r.conseq CROSS JOIN n
    ORDER BY lift DESC, ante_a, ante_b, conseq LIMIT {_AR_TOPK}
    """,
)
def association_rules_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (A, B) -> C from the frequent supplier
    triples: confidence = supp(ABC)/supp(AB) and lift =
    confidence / P(C) — the OUTPUT stage of Apriori that
    `frequent_itemsets_triples` is the candidate pass for, and the
    actual deliverable of market-basket analysis (rules you can act
    on, not itemsets). Each surviving triple yields its three rules;
    ranking uses rounded lift with full deterministic tie-breaks.

    Scale shape (r16): pair and triple supports are per-basket
    2-/3-combination in-set expansions over ONE _baskets aggregate,
    map-side combined on the pair/triple key (the three l_orderkey
    self-joins are gone — exp_basket_inset_sf01_r16.json); rule
    expansion is a 3-branch union over the (already tiny,
    min-support-bounded) triple frame with broadcast support lookups;
    top-K is a heap."""
    li = load_table(spark, sf_dir, "lineitem")
    # r16: basket in-set expansions — the pair AND triple supports
    # come from per-order 2-/3-combinations of ONE _baskets aggregate
    # (three self-joins on l_orderkey deleted; see _baskets). The
    # min-support filter is unchanged and still sits directly on the
    # triple aggregate, exactly the oracle's HAVING.
    bk = _baskets(li, "l_suppkey")
    nb = bk.agg(F.count(F.lit(1)).alias("nb"))
    wmin = F.expr(f"(nb * {_FIS_NUM} + {_FIS_DEN - 1}) div {_FIS_DEN}")
    deg = (
        bk.select(F.explode("items").alias("l_suppkey"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p = (
        bk.select(F.explode(_pair_expand("items", "sa", "sb")).alias("pr"))
        .groupBy(F.col("pr.sa").alias("i1"), F.col("pr.sb").alias("i2"))
        .agg(F.count(F.lit(1)).alias("w2"))
    )
    t = (
        bk.select(F.explode(F.expr(_TRIPLE_EXPAND)).alias("tr"))
        .groupBy(
            F.col("tr.i1").alias("i1"),
            F.col("tr.i2").alias("i2"),
            F.col("tr.i3").alias("i3"),
        )
        .agg(F.count(F.lit(1)).alias("w3"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("w3") >= wmin)
        .select("i1", "i2", "i3", "w3")
    )
    pr = lambda ca, cb: p.select(
        F.col("i1").alias(ca), F.col("i2").alias(cb), "w2"
    )
    r = (
        t.join(F.broadcast(pr("i1", "i2")), ["i1", "i2"]).select(
            F.col("i1").alias("ante_a"), F.col("i2").alias("ante_b"),
            F.col("i3").alias("conseq"), "w3", "w2",
        )
        .unionAll(
            t.join(F.broadcast(pr("i1", "i3")), ["i1", "i3"]).select(
                F.col("i1").alias("ante_a"), F.col("i3").alias("ante_b"),
                F.col("i2").alias("conseq"), "w3", "w2",
            )
        )
        .unionAll(
            t.join(F.broadcast(pr("i2", "i3")), ["i2", "i3"]).select(
                F.col("i2").alias("ante_a"), F.col("i3").alias("ante_b"),
                F.col("i1").alias("conseq"), "w3", "w2",
            )
        )
    )
    dg = deg.select(F.col("l_suppkey").alias("conseq"), "c")
    return (
        r.join(F.broadcast(dg), "conseq")
        .crossJoin(F.broadcast(nb))
        .select(
            "ante_a", "ante_b", "conseq",
            F.col("w3").cast("long").alias("support"),
            F.round(F.col("w3") * F.lit(1.0) / F.col("w2"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("w3") * F.lit(1.0) * F.col("nb")
                / (F.col("w2") * F.col("c")),
                6,
            ).alias("lift"),
        )
        .orderBy(
            F.desc("lift"), F.asc("ante_a"), F.asc("ante_b"), F.asc("conseq")
        )
        .limit(_AR_TOPK)
    )


# --- degree assortativity of the co-occurrence graph -----------------------------


@register(
    "degree_assortativity",
    oracle="""
    WITH s AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p AS (
      SELECT a.l_partkey AS sa, b.l_partkey AS sb
      FROM s a JOIN s b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT sa AS node FROM p UNION ALL SELECT sb FROM p) GROUP BY 1
    ),
    e2 AS (
      SELECT da.d AS dx, db.d AS dy
      FROM p JOIN deg da ON da.node = p.sa JOIN deg db ON db.node = p.sb
      UNION ALL
      SELECT db.d, da.d
      FROM p JOIN deg da ON da.node = p.sa JOIN deg db ON db.node = p.sb
    ),
    st AS (
      SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
             sum(dx * dy) AS sxy, sum(dx * dx) AS sxx, sum(dy * dy) AS syy
      FROM e2
    )
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           round(sx * 1e0 / n, 6) AS mean_endpoint_degree,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / NULLIF(sqrt((CAST(n AS DOUBLE) * sxx
                                - CAST(sx AS DOUBLE) * sx)
                               * (CAST(n AS DOUBLE) * syy
                                  - CAST(sy AS DOUBLE) * sy)), 0), 6)
             AS assortativity
    FROM st
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the PART co-occurrence graph:
    Pearson correlation of endpoint degrees over (both orientations
    of) every distinct edge — the network-science statistic that says
    whether hubs connect to hubs (positive, social-network-like) or to
    the periphery (negative, internet/biology-like), which in a catalog
    graph decides whether popular parts cluster into bundles or anchor
    long-tail baskets. The supplier graph is deliberately NOT used: at
    small scale it is complete (every degree equal), which makes the
    statistic undefined — parts keep real degree variance at every
    scale factor. All
    sufficient statistics are exact integers over the doubled edge
    list; the dedup'd pair pass is the same bounded per-basket
    explosion as copurchase_lift_pairs.

    Scale shape (r16): one per-basket collect_set aggregate, a
    bounded in-set pair expansion, a broadcast degree lookup, a 1-row
    reduce (the self-join formulation's extra shuffles are gone —
    exp_basket_inset_sf01_r16.json)."""
    li = load_table(spark, sf_dir, "lineitem")
    # r16: distinct co-occurring pairs via the _baskets in-set
    # expansion (one lineitem-grain aggregate instead of the
    # distinct-incidence shuffle + self-join on l_orderkey).
    p = (
        _baskets(li, "l_partkey")
        .select(F.explode(_pair_expand("items", "sa", "sb")).alias("pr"))
        .select(F.col("pr.sa").alias("sa"), F.col("pr.sb").alias("sb"))
        .distinct()
    )
    deg = (
        p.select(F.col("sa").alias("node"))
        .unionAll(p.select(F.col("sb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("sa"), F.col("d").alias("dxa"))
    db = deg.select(F.col("node").alias("sb"), F.col("d").alias("dxb"))
    j = p.join(F.broadcast(da), "sa").join(F.broadcast(db), "sb")
    e2 = j.select(
        F.col("dxa").alias("dx"), F.col("dxb").alias("dy")
    ).unionAll(j.select(F.col("dxb").alias("dx"), F.col("dxa").alias("dy")))
    st = e2.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    vx = n * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vy = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    return st.select(
        F.expr("n div 2").cast("long").alias("n_edges"),
        F.round(F.col("sx") * F.lit(1.0) / F.col("n"), 6).alias(
            "mean_endpoint_degree"
        ),
        F.round(num / F.nullif(F.sqrt(vx * vy), F.lit(0.0)), 6).alias(
            "assortativity"
        ),
    )


# --- link prediction: common neighbors + Adamic-Adar ---------------------------

_LP_TOPK = 30
# Per-middle wedge fan-in cap: only the first _AA_MIDCAP neighbors
# (by node id — deterministic, the stand-in for a strength-ranked cap)
# of each middle participate in wedge enumeration, bounding the wedge
# join at |V| * cap^2 rows STRUCTURALLY. Without it the co-occurrence
# graph's flat ~120 average degree makes sum(deg^2) = 298M wedge rows
# at sf0.1 (measured) — 125x the input, an OOM on the driver's 1g
# vanilla heap and a shuffle wall at any scale. True degree still
# feeds the 1/ln(deg) weight; the cap only limits which adjacency
# rows enumerate wedges (the standard neighbor-list cap of item-item
# CF / the triangle family).
_AA_MIDCAP = 32


@register(
    "link_prediction_adamic_adar",
    oracle=f"""
    WITH s AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p AS (
      SELECT a.l_partkey AS sa, b.l_partkey AS sb
      FROM s a JOIN s b ON a.l_orderkey = b.l_orderkey
                       AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    adj AS (
      SELECT sa AS u, sb AS w FROM p
      UNION ALL SELECT sb, sa FROM p
    ),
    deg AS (SELECT u AS node, count(*) AS d FROM adj GROUP BY 1),
    adjc AS (
      SELECT u, w FROM (
        SELECT u, w, row_number() OVER (
          PARTITION BY w ORDER BY u ASC) AS rn
        FROM adj) WHERE rn <= {_AA_MIDCAP}
    ),
    adjw AS (
      SELECT adjc.u, adjc.w,
             CAST(round(1e9 / ln(deg.d)) AS BIGINT) AS au
      FROM adjc JOIN deg ON deg.node = adjc.w
      WHERE deg.d >= 2
    ),
    wedge AS (
      SELECT a.u AS na, b.u AS nb,
             count(*) AS cn, CAST(sum(a.au) AS BIGINT) AS aau
      FROM adjw a JOIN adjc b ON a.w = b.w AND a.u < b.u
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT w.* FROM wedge w
      LEFT JOIN p ON p.sa = w.na AND p.sb = w.nb
      WHERE p.sa IS NULL
    ),
    r AS (
      SELECT *, row_number() OVER (
        ORDER BY aau DESC, cn DESC, na ASC, nb ASC) AS rank
      FROM cand
    )
    SELECT CAST(rank AS BIGINT) AS rank, na AS node_a, nb AS node_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           round(aau / 1e9, 6) AS adamic_adar
    FROM r WHERE rank <= {_LP_TOPK}
    """,
)
def link_prediction_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-occurrence graph: the
    top-{_LP_TOPK} NON-adjacent pairs by Adamic-Adar score
    (Σ 1/ln(deg(w)) over common neighbors w, tie-broken by raw common-
    neighbor count) — the classic \"which edge appears next\"
    recommender primitive, and in a catalog graph the \"these two
    parts co-occur with the same baskets but never together yet\"
    cross-sell signal. Degree-1 middles are filtered out BEFORE the
    1/ln(deg) weight is computed (ADVICE r8: a degree-1 node can never
    close a wedge, but evaluating ln(1)=0 on its adjacency rows made
    Spark emit Infinity→Long.MaxValue where DuckDB emits NULL — benign
    only until ANSI mode or a reuse of adjw), so the deg ≥ 2 invariant
    is structural in BOTH engines; each 1/ln(deg(w)) is
    nano-unit-quantized BEFORE the per-pair sum, so scores are exact
    integers with deterministic ties.

    Scale shape: the wedge enumeration (all pairs sharing a middle
    node) is bounded STRUCTURALLY at |V|·{_AA_MIDCAP}² rows by the
    per-middle fan-in cap (see _AA_MIDCAP: the uncapped Σ_w deg(w)²
    is 298M wedge rows at sf0.1 on this flat-degree co-occurrence
    graph — measured OOM on a 1g vanilla heap; the cap is the same
    neighbor-list truncation item-item CF and the triangle family
    use, deterministic and identical in the oracle). The capped
    scores are the documented approximation of full AA — true degree
    still feeds every 1/ln(deg) weight. Candidate filtering is one
    anti-join against the edge list; output is a
    WindowGroupLimit-pruned top-k.

    r16 (measured, OPTIMIZATION_r16.md / exp_aa_inset_sf01_r16.json —
    the corpus_similarity_minhash r15 in-set expansion pattern applied
    twice, guide §2.4/§3):
    - PAIR GENERATION: the a×b self-join on l_orderkey + distinct is
      now an in-set ordered-pair expansion of the per-order sorted
      distinct item set (collect_set folds the (ok, pk) distinct into
      the same aggregate; TPC-H baskets are structurally tiny, ≤ 7
      lineitems, so the expansion is bounded). Two lineitem-grain
      shuffles + a join become ONE map-side-combined aggregate.
    - MIDDLE STAGE: deg (a full by-u shuffle of adj), the row_number
      cap window and the wedge self-join on w collapse into ONE by-w
      shuffle: count-over-window degree + row_number cap in the same
      sorted pass, a ≤{_AA_MIDCAP}-element sorted neighbor list per
      middle, in-set ordered-pair expansion. au = round(1e9/ln(deg(w)))
      depends only on the middle, so it rides the same aggregate; the
      a-side's deg ≥ 2 filter is implied (a pair needs ≥ 2 capped
      neighbors). Exact equivalences pinned by tests/test_r16_opt.py;
      cold interleaved pairs + value hashes in the exp artifact."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") >= 2)
    )
    p = (
        baskets.select(F.explode(_pair_expand("items", "sa", "sb")).alias("pr"))
        .select(F.col("pr.sa").alias("sa"), F.col("pr.sb").alias("sb"))
        .distinct()
        .cache()
    )
    adj = p.select(F.col("sa").alias("u"), F.col("sb").alias("w")).unionAll(
        p.select(F.col("sb").alias("u"), F.col("sa").alias("w"))
    )
    wcap = Window.partitionBy("w").orderBy(F.asc("u"))
    wd = Window.partitionBy("w")
    capped = (
        adj.withColumn("rn", F.row_number().over(wcap))
        .withColumn("d", F.count(F.lit(1)).over(wd))
        .filter(F.col("rn") <= _AA_MIDCAP)
    )
    mid = (
        capped.groupBy("w", "d")
        .agg(F.sort_array(F.collect_list("u")).alias("ns"))
        .filter(F.size("ns") >= 2)
        .select(
            F.round(1e9 / F.log(F.col("d"))).cast("long").alias("au"),
            F.explode(_pair_expand("ns", "na", "nb")).alias("pr"),
        )
    )
    wedge = mid.groupBy(
        F.col("pr.na").alias("na"), F.col("pr.nb").alias("nb")
    ).agg(
        F.count(F.lit(1)).alias("cn"),
        F.sum("au").cast("long").alias("aau"),
    )
    cand = wedge.join(
        p,
        (wedge["na"] == p["sa"]) & (wedge["nb"] == p["sb"]),
        "left_anti",
    )
    w = Window.orderBy(
        F.desc("aau"), F.desc("cn"), F.asc("na"), F.asc("nb")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _LP_TOPK)
        .select(
            F.col("rank").cast("long").alias("rank"),
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.round(F.col("aau") / 1e9, 6).alias("adamic_adar"),
        )
    )
