"""Physical-layout capabilities: bucketed shuffle-free joins,
partition pruning, row-group clustering, and the custom Python data
source. These are plan-shape tests — the 100 TB story is IN the plan
(an Exchange that isn't there, a partition that's never read), so the
assertions read the executed plan, not just the row counts.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from dataengineeringproject_spark.schemas import load_table
from dataengineeringproject_spark.sources import layout, pyds

from conftest import SF_SMOKE


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@contextlib.contextmanager
def _conf(spark, **kv):
    """Scoped conf override (restore on exit)."""
    keys = {k.replace("__", "."): v for k, v in kv.items()}
    prev = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_bucketed_join_runs_without_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts
    must sort-merge join with ZERO Exchange operators — the write-time
    shuffle is reused by the query. This is the fact-to-fact join shape
    at 100 TB (neither side broadcastable)."""
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    layout.write_bucketed(
        orders, "t_orders_b", ["o_orderkey"], 4, path=str(tmp_path / "ob")
    )
    layout.write_bucketed(
        lineitem, "t_lineitem_b", ["l_orderkey"], 4, path=str(tmp_path / "lb")
    )
    try:
        with _conf(
            spark,
            spark__sql__autoBroadcastJoinThreshold="-1",
            # bucket-sorted scans only report their output ordering
            # under this flag since Spark 3.0 (SPARK-28595); without it
            # the join still skips the Exchange but re-sorts.
            spark__sql__legacy__bucketedTableScan__outputOrdering="true",
        ):
            j = spark.table("t_lineitem_b").join(
                spark.table("t_orders_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            n = j.count()
            plan = _executed_plan(j)
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "SortMergeJoin" in plan
        # bucket-sorted files: the SMJ needs no explicit Sort either
        assert "Sort " not in plan.replace("SortMergeJoin", "SMJ"), plan
        # correctness: same count as the plain (shuffling) join
        plain = load_table(spark, SF_SMOKE, "lineitem").join(
            load_table(spark, SF_SMOKE, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert n == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_bucketed_groupby_runs_without_exchange(spark, tmp_path):
    """Aggregation on the bucket key also reuses the write-time
    layout: groupBy(o_custkey) over a table bucketed by o_custkey
    plans no Exchange."""
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_custkey", "o_totalprice"
    )
    layout.write_bucketed(
        orders, "t_orders_bc", ["o_custkey"], 4, path=str(tmp_path / "obc")
    )
    try:
        agg = (
            spark.table("t_orders_bc")
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("s"))
        )
        agg.count()
        plan = _executed_plan(agg)
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_bc")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """A predicate on the partition column must show up as a
    PartitionFilter (planning-time directory pruning), not a data
    filter; non-matching partitions' files are never opened."""
    ev = load_table(spark, SF_SMOKE, "events")
    path = layout.write_partitioned(ev, str(tmp_path / "evp"), ["event_type"])
    all_types = spark.read.parquet(path)
    clicks = all_types.filter(F.col("event_type") == "click")
    plan = _executed_plan(clicks)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], plan
    # row correctness vs the unpartitioned source
    expected = ev.filter(F.col("event_type") == "click").count()
    assert clicks.count() == expected
    # pruned scan reads strictly fewer files than the full layout holds
    n_clicks_files = len(
        [f for f in all_types.inputFiles() if "event_type=click" in f]
    )
    assert 0 < n_clicks_files < len(all_types.inputFiles())


def test_clustered_write_carries_rowgroup_stats(spark, tmp_path):
    """write_clustered sorts within files on the cluster column; parquet
    footers then carry tight min/max per row group. Verified via
    pyarrow metadata: with sorted rows, per-row-group [min, max] ranges
    are (near-)disjoint — the property range scans skip on."""
    pa_parquet = pytest.importorskip("pyarrow.parquet")
    ev = load_table(spark, SF_SMOKE, "events").repartition(2)
    path = layout.write_clustered(ev, str(tmp_path / "evc"), ["value"])
    import glob

    ranges = []
    for f in glob.glob(path + "/part-*.parquet"):
        md = pa_parquet.ParquetFile(f).metadata
        idx = md.schema.names.index("value")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            ranges.append((st.min, st.max))
    assert ranges and all(lo <= hi for lo, hi in ranges)
    # within each file, consecutive row-group ranges must not interleave
    # (sorted data ⇒ monotone min); a shuffled write would interleave.
    for f in glob.glob(path + "/part-*.parquet"):
        md = pa_parquet.ParquetFile(f).metadata
        idx = md.schema.names.index("value")
        mins = [
            md.row_group(rg).column(idx).statistics.min
            for rg in range(md.num_row_groups)
        ]
        assert mins == sorted(mins)


def test_synth_events_datasource(spark):
    """Custom Python data source: registered format reads back the
    declared schema, honors partition planning, and is deterministic
    across reads (same options ⇒ identical content)."""
    pyds.register(spark)
    df = (
        spark.read.format("synth_events")
        .option("numPartitions", 3)
        .option("rowsPerPartition", 200)
        .option("seed", "t1")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    assert [f.name for f in df.schema.fields] == [
        "event_id",
        "ts_us",
        "user_id",
        "event_type",
        "value",
    ]
    assert df.count() == 600
    # event_id is a dense unique key across partitions
    assert df.select("event_id").distinct().count() == 600
    s1 = df.agg(F.sum("value"), F.sum("ts_us"), F.sum("user_id")).first()
    s2 = (
        spark.read.format("synth_events")
        .option("numPartitions", 3)
        .option("rowsPerPartition", 200)
        .option("seed", "t1")
        .load()
        .agg(F.sum("value"), F.sum("ts_us"), F.sum("user_id"))
        .first()
    )
    assert s1 == s2
    # a different seed yields different content
    s3 = (
        spark.read.format("synth_events")
        .option("numPartitions", 3)
        .option("rowsPerPartition", 200)
        .option("seed", "t2")
        .load()
        .agg(F.sum("value"))
        .first()
    )
    assert s3[0] != s1[0]
    # the generated stream is usable by the engine's own operators
    daily = (
        df.withColumn("ts", F.timestamp_micros("ts_us"))
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .count()
    )
    assert daily.count() == 30


def _rowgroup_ranges(path, col):
    """Per-row-group (min, max) for `col` across all files at `path`."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in glob.glob(path + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            out.append((st.min, st.max))
    return out


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """Morton clustering must leave BOTH columns' per-row-group ranges
    substantially narrower than the global range, where a 1-D sort
    leaves the unsorted column's row groups spanning ~everything.
    Row-group size is forced small so each file holds many groups."""
    pytest.importorskip("pyarrow.parquet")
    from conftest import SF_ORACLE

    ev = (
        load_table(spark, SF_ORACLE, "events")
        .select(
            (F.col("user_id") % 1024).cast("long").alias("u"),
            (F.col("value").cast("long") % 1024).alias("v"),
        )
        .coalesce(1)
    )
    n = ev.count()
    small_rg = {"parquet.block.size": "4096"}  # many row groups per file

    z_path = str(tmp_path / "z")
    (
        ev.sortWithinPartitions(layout.morton2("u", "v", bits=10))
        .write.options(**small_rg)
        .mode("overwrite")
        .parquet(z_path)
    )
    one_d_path = str(tmp_path / "one_d")
    (
        ev.sortWithinPartitions("u")
        .write.options(**small_rg)
        .mode("overwrite")
        .parquet(one_d_path)
    )

    def avg_span(path, col):
        # mean per-row-group span, normalized by the column's global span
        rng = _rowgroup_ranges(path, col)
        assert len(rng) >= 8, f"want many row groups, got {len(rng)}"
        g = max(hi for _, hi in rng) - min(lo for lo, _ in rng)
        return sum(hi - lo for lo, hi in rng) / len(rng) / g

    # 1-D sort: sorted column tight, the OTHER column wide
    # (measured on this data: u ≈ 0.03, v ≈ 0.59)
    assert avg_span(one_d_path, "u") < 0.1
    assert avg_span(one_d_path, "v") > 0.5
    # z-order: BOTH columns tight (measured: u ≈ 0.32, v ≈ 0.08) —
    # strictly better than the 1-D layout's unsorted dimension
    assert avg_span(z_path, "u") < 0.45
    assert avg_span(z_path, "v") < 0.45
    assert avg_span(z_path, "v") < avg_span(one_d_path, "v")
    # and the data survives intact
    assert spark.read.parquet(z_path).count() == n


def test_write_zordered_sorts_each_file_by_morton_key(spark, tmp_path):
    """write_zordered (SURVEY.md API) returns its path, keeps every row,
    and writes each file's rows in non-decreasing Morton order of the
    two columns (bit i of col_a at key bit 2i, of col_b at 2i+1)."""
    pa_parquet = pytest.importorskip("pyarrow.parquet")
    import glob

    df = spark.range(200).select(
        ((F.col("id") * 37) % 64).alias("a"), ((F.col("id") * 11) % 64).alias("b")
    ).repartition(2)
    path = layout.write_zordered(df, str(tmp_path / "z"), "a", "b", bits=6)
    assert path == str(tmp_path / "z")

    def morton(a, b):
        return sum(((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1) for i in range(6))

    rows = []
    for f in glob.glob(path + "/part-*.parquet"):
        t = pa_parquet.read_table(f).to_pydict()
        keys = [morton(a, b) for a, b in zip(t["a"], t["b"])]
        assert keys == sorted(keys)
        rows += zip(t["a"], t["b"])
    assert sorted(rows) == sorted((r.a, r.b) for r in df.collect())


def test_aqe_splits_skewed_join_at_runtime(spark, tmp_path):
    """AQE skew-join is the RUNTIME complement of the declarative
    operators/relational.salted_join: with adaptive execution on and
    the skew thresholds scaled to the fixture, a sort-merge join whose
    left side concentrates ~all rows on one key must come out of
    execution with its skewed partition split (the join node is marked
    skew=true in the final adaptive plan). This pins that the engine's
    config surface actually triggers the optimization — at 100 TB this
    is the difference between a straggler task owning 30% of the fact
    table and N parallel splits of it."""
    hot = spark.range(0, 200_000).selectExpr(
        "CAST(0 AS BIGINT) AS k", "id AS payload"
    )
    cold = spark.range(0, 2_000).selectExpr("id % 50 + 1 AS k", "id AS payload")
    fact = hot.union(cold)
    dim = spark.range(0, 51).selectExpr("id AS k", "id * 10 AS dv")
    fact.write.mode("overwrite").parquet(str(tmp_path / "fact"))
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))
    f = spark.read.parquet(str(tmp_path / "fact"))
    d = spark.read.parquet(str(tmp_path / "dim"))
    with _conf(
        spark,
        spark__sql__adaptive__enabled="true",
        spark__sql__adaptive__skewJoin__enabled="true",
        spark__sql__adaptive__skewJoin__skewedPartitionFactor="2",
        spark__sql__adaptive__skewJoin__skewedPartitionThresholdInBytes="64KB",
        spark__sql__adaptive__advisoryPartitionSizeInBytes="64KB",
        spark__sql__adaptive__coalescePartitions__enabled="false",
        spark__sql__autoBroadcastJoinThreshold="-1",
    ):
        j = f.hint("merge").join(d, "k")
        # materialize THIS dataframe's own execution so the adaptive
        # plan finalizes (count() would plan a separate query)
        assert len(j.collect()) == 200_000 + 2_000
        plan = _executed_plan(j)
    assert "skew=true" in plan, plan
