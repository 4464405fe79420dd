"""The engine's SQL surface: the same testdata served through
`spark.sql` over registered views — a user who prefers SQL to the
DataFrame API runs the identical Catalyst plans (SURVEY.md §3: the
reference has no query language at all; this is the north-star
query-surface completeness item).

Views are prefixed `deps_` so registering them can never collide with
state the external driver keeps in its own session catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataengineeringproject_spark.registry import register
from dataengineeringproject_spark.schemas import TESTDATA_TABLES, load_table


def register_testdata_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testdata table as a temp view `deps_{name}`
    (idempotent; replaces stale views pointing at another sf_dir)."""
    names = []
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"deps_{t}")
        names.append(f"deps_{t}")
    return names


@register(
    "sql_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def sql_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape, expressed ENTIRELY in SQL against registered
    views — proves the SQL surface compiles to the same pushed-down,
    broadcast-dimension plans as the DataFrame API (it is the same
    Catalyst underneath)."""
    register_testdata_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name,
               ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               count(*) AS n_lines
        FROM deps_customer c
        JOIN deps_orders o ON o.o_custkey = c.c_custkey
        JOIN deps_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
        """
    )


_REC_SQL = """
WITH RECURSIVE walk(user_id, node, depth) AS (
  SELECT DISTINCT user_id, user_id, 0 FROM {ev}
  UNION ALL
  SELECT user_id, (node - 1) {div} 2, depth + 1 FROM walk WHERE node > 0
),
cnt AS (
  SELECT user_id, count(*) AS n FROM {ev} GROUP BY user_id
)
SELECT w.user_id,
       CAST(max(w.depth) AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS path_len,
       CAST(sum(coalesce(c.n, 0)) AS BIGINT) AS path_events
FROM walk w LEFT JOIN cnt c ON w.node = c.user_id
GROUP BY w.user_id
"""


@register(
    "sql_recursive_hierarchy_rollup",
    oracle=_REC_SQL.format(ev="events", div="//"),
)
def sql_recursive_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, new in Spark 4): walk each user up
    a synthetic binary-heap hierarchy (parent(n) = (n−1) div 2 — the
    org-chart/category-tree traversal shape with a guaranteed-finite,
    strictly-decreasing chain) and roll event counts up the ancestor
    path. Iteration count is the hierarchy DEPTH (log n), not its size:
    each recursion step is one equi-join of the frontier against a
    user-grain table — frontier rows shrink as chains hit the root, and
    the final rollup is one grouped aggregate. The DuckDB oracle runs
    the structurally identical recursion (integer div spelled `//`),
    so two independent recursive-CTE engines must agree. Guard: nodes
    recurse only while > 0, keeping (node−1)/2 nonnegative, where
    floor (DuckDB) and truncation (Spark) division agree."""
    register_testdata_views(spark, sf_dir)
    return spark.sql(_REC_SQL.format(ev="deps_events", div="DIV"))


@register(
    "sql_lateral_topk_orders",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
)
def sql_lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — each
    customer's two most expensive orders, the per-row-subquery SQL
    idiom users reach for before they know window functions. Catalyst
    DECORRELATES it: the inner sort+limit becomes a per-partition
    group limit over a join keyed o_custkey (explain shows the same
    WindowGroupLimit shape as topk_per_group's explicit window), so
    the SQL-comfort surface and the DataFrame API meet in one plan —
    nothing here executes a subquery per row, at any scale. Customers
    with no orders drop out (inner lateral semantics, matching
    DuckDB's)."""
    register_testdata_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM deps_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM deps_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


@register(
    "sql_pivot_event_counts",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
    FROM events GROUP BY 1
    """,
)
def sql_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT syntax on the engine's SQL surface — the same daily
    event-type matrix as pivot_daily_event_counts (DataFrame .pivot),
    written the way SQL users write it. Catalyst compiles PIVOT to the
    identical conditional-aggregation plan the oracle states
    explicitly (count FILTER per pinned column) — one map-side-
    combined aggregate keyed on day, columns fixed by the explicit IN
    list (never inferred by a distinct scan, which is the
    at-scale requirement: an unpinned pivot is a schema decided by a
    full pass over the data)."""
    register_testdata_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT * FROM (
          SELECT date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS day,
                 event_type
          FROM deps_events
        ) PIVOT (count(*) FOR event_type
                 IN ('view', 'click', 'purchase', 'signup', 'error'))
        """
    )
