"""Relational/temporal operators beyond plain joins (engine breadth,
SURVEY.md §2.5 + common OLAP patterns): sessionization and as-of join.

Both are compositions of built-in window/join operators — no UDFs —
so they stay inside whole-stage codegen and scale as ordinary
shuffle-on-key plans.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap_minutes: float = 30.0,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time
    since the key's previous event exceeds the gap. Implemented as
    lag → gap flag → running sum (the standard window idiom); ONE
    shuffle on `key`, per-partition sort on ts.

    Output: input columns + session_seq (1-based per key).
    """
    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(key).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp(ts_col) - F.unix_timestamp(prev_ts)) > gap_minutes * 60),
        1,
    ).otherwise(0)
    return df.withColumn(
        "session_seq",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
) -> DataFrame:
    """As-of join: for each left row, the single most recent right row
    with right_ts <= left_ts, matched on `on` keys.
    Spark has no native ASOF; this is the union-tag window composition:
    interleave both sides ordered by time, carry the last-seen right
    values forward, keep left rows. One shuffle on the key, one sort —
    NO range cross-join blowup, skew-safe under AQE.
    """
    lcols = left.columns
    tag = F.lit(1)
    l_tagged = left.select(
        *lcols,
        F.col(left_ts).alias("__t"),
        tag.alias("__is_left"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in right_cols],
    )
    r_tagged = right.select(
        *[F.lit(None).cast(dict(left.dtypes).get(c, "string")).alias(c) if c not in on else F.col(c) for c in lcols],
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)
    # order: time asc, right rows before left rows at equal time
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        *lcols,
        "__is_left",
        "__t",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(c)
            for c in right_cols
        ],
    )
    return carried.filter(F.col("__is_left") == 1).drop("__is_left", "__t")


def pivot_counts(
    df: DataFrame, key: str, pivot_col: str, values: Sequence[str]
) -> DataFrame:
    """Pivot with EXPLICIT value list (never let Spark collect distinct
    values at scale — that is a driver-side scan of the whole column)."""
    return df.groupBy(key).pivot(pivot_col, list(values)).count().na.fill(0)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    salt_buckets: int = 16,
    salt_on: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the fact side, replicate the dim side.

    The shape this exists for: a huge fact table whose join key is
    skewed (one tenant / one event type / the null-ish default key
    owns 30% of rows) joined to a dim table too LARGE to broadcast.
    A plain shuffle join routes every hot-key row to ONE reducer — at
    100 TB that task runs 100× longer than its peers and the stage is
    hostage to it. Salting splits each key's fact rows across
    `salt_buckets` reducers (fact salt = hash of `salt_on`, a
    well-spread fact column — NEVER the join key, whose hash is one
    constant per key) and replicates each dim row once per bucket via
    a literal-range explode, so (key, salt) co-locates exactly one dim
    copy with each fact slice. Cost: dim shuffles ×salt_buckets — the
    explicit price paid to cap the straggler, chosen when
    |dim| × salt_buckets ≪ the hot key's row count. The join result is
    row-identical to the unsalted join (the salt never reaches the
    output), which is what the registered query's oracle pins.

    AQE's skew-join handles the SORT-MERGE case adaptively at runtime;
    this operator is the declarative form that also composes under
    joins AQE won't split (e.g. when the downstream plan pins the
    partitioning) and makes the salted plan testable. `how` supports
    inner/left joins (fact-preserving shapes; a right/full join would
    need dedup of replicated unmatched dim rows)."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    on = list(on)
    salt_src = (
        F.xxhash64(F.col(salt_on)) if salt_on else F.spark_partition_id()
    )
    f = fact.withColumn("__salt", F.pmod(salt_src, F.lit(salt_buckets)))
    d = dim.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
    )
    return f.join(d, on + ["__salt"], how).drop("__salt")


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[Column],
    out: str = "rn",
    tiebreak: Column | None = None,
) -> DataFrame:
    """Distributed global 1-based row_number over a TOTAL ordering —
    the scalable replacement for `Window.orderBy(...)` with no
    partitionBy, which funnels the whole table through one task.

    Shape (the classic zipWithIndex decomposition, DataFrame-only):
    repartitionByRange on the ordering key so ranges are disjoint and
    ordered; row_number WITHIN each range (parallel, bounded by the
    range size); per-range counts (tiny: one row per partition)
    prefix-summed into start offsets and broadcast back. Because the
    ranges partition the key space in order, `offset + local rank`
    equals the single-window global rank exactly — provided
    `order_cols` is a total order (tie-break to uniqueness; equal keys
    may straddle a range boundary and would be numbered arbitrarily).

    Two shuffles (range + the window's hash on partition id) and one
    broadcast, all parallel; no stage sees more than one range.

    The range-partitioned frame is MATERIALIZED once (localCheckpoint)
    before fan-out, and correctness depends on it: the local-rank and
    the count/offset branches both consume it, and RangePartitioner
    picks its boundaries by SAMPLING — if the two branches each
    re-evaluate the exchange (ReuseExchange can fail to canonicalize
    subtrees containing their own broadcast joins — observed on
    zorder_file_skipping's intermediate at sf0.1: 343,924/600,000
    ranks wrong), they sample DIFFERENT boundaries and the offsets no
    longer describe the partitioning the ranks were computed in. The
    checkpoint pins one evaluation, same as RDD zipWithIndex's
    internal job — this operator is the explicit materialization cost
    of OPTIMIZE-style layout jobs.

    `tiebreak` (appended last to the ordering) is the caller's
    affirmation of totality: `order_cols` MUST be a total order or
    equal keys straddling a range boundary get ranks that diverge from
    the single-window result. Pass the row's unique key here rather
    than burying it in order_cols so the requirement is visible at the
    call site (ADVICE r9).

    Runtime invariant (same action, no driver round-trip): every
    ranked row must find its partition's offset — a null offset after
    the left join means the offsets branch saw a DIFFERENT
    partitioning than the rank branch (the exact resampling failure
    the checkpoint exists to prevent), and `assert_true` fails the
    job instead of silently misnumbering.
    """
    internal = ("__pid", "__lrn", "__c", "__off")
    clash = [c for c in internal if c in df.columns]
    if clash:
        raise ValueError(
            f"global_row_number: input columns collide with internal "
            f"names {clash}; rename them first"
        )
    order_cols = list(order_cols) + ([tiebreak] if tiebreak is not None else [])
    ranged = (
        df.repartitionByRange(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_local = Window.partitionBy("__pid").orderBy(*order_cols)
    local = ranged.withColumn("__lrn", F.row_number().over(w_local))
    # counts from the checkpointed frame directly — the offsets branch
    # must not evaluate the per-row rank window (ADVICE r9)
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = counts.select(
        "__pid",
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offs), "__pid", "left")
        .withColumn(
            out,
            F.when(
                F.assert_true(
                    F.col("__off").isNotNull(),
                    F.lit("global_row_number: rank/offset partitioning "
                          "diverged (materialization failed)"),
                ).isNull(),
                F.col("__off") + F.col("__lrn"),
            ),
        )
        .drop("__pid", "__lrn", "__off")
    )
