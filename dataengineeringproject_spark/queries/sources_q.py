"""The custom Python data source (sources/pyds.py) exposed through the
driver contract. Because every generated cell is a pure md5 function of
(seed, partition, row, field), DuckDB can regenerate the IDENTICAL
dataset from `generate_series` + md5 — so a from-scratch custom
connector gets a full value-hash differential check, not a rows-only
exemption: two independent implementations of the generator (Python
iterator on executors vs set-based SQL) must agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineeringproject_spark.registry import (
    register,
    register_prestage,
    scratch_dir,
    staged,
)
from dataengineeringproject_spark.session import ensure_package_on_workers
from dataengineeringproject_spark.sources import pyds

_PARTS, _ROWS, _SEED, _USERS = 3, 200, "drv1", 100
_BASE_US = 1_704_067_200_000_000
_SPAN_US = 30 * 86_400_000_000


def _h_sql(field: str) -> str:
    """DuckDB twin of pyds._h: 60-bit int from md5 of the cell coords."""
    key = f"'{_SEED}|' || p || '|' || i || '|{field}'"
    return f"CAST(concat('0x', substr(md5({key}), 1, 15)) AS BIGINT)"


_TYPES_SQL = "['click', 'error', 'purchase', 'signup', 'view']"


@register(
    "synth_source_events",
    oracle=f"""
    WITH parts AS (SELECT unnest(generate_series(0, {_PARTS - 1})) AS p),
    coords AS (
      SELECT p, unnest(generate_series(0, {_ROWS - 1})) AS i FROM parts
    )
    SELECT CAST(p * {_ROWS} + i AS BIGINT) AS event_id,
           CAST({_BASE_US} + {_h_sql("ts")} % {_SPAN_US} AS BIGINT) AS ts_us,
           CAST({_h_sql("user")} % {_USERS} AS BIGINT) AS user_id,
           {_TYPES_SQL}[{_h_sql("type")} % 5 + 1] AS event_type,
           ({_h_sql("value")} % 1000000) / 1000.0 AS value
    FROM coords
    """,
)
def synth_source_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the `synth_events` custom source ({_PARTS} planned input
    partitions × {_ROWS} rows, generated on executors with no driver
    involvement and no input files at all — `sf_dir` is unused by
    design). The oracle REGENERATES the dataset in pure SQL from the
    same (seed, partition, row) → md5 definition, making this a
    differential test of the connector itself."""
    # the DataSource class pickles by reference — workers must be able
    # to import the package (the external driver's session has no
    # PYTHONPATH guarantees)
    ensure_package_on_workers(spark)
    pyds.register(spark)
    return (
        spark.read.format("synth_events")
        .option("numPartitions", _PARTS)
        .option("rowsPerPartition", _ROWS)
        .option("seed", _SEED)
        .option("nUsers", _USERS)
        .load()
        .select("event_id", "ts_us", "user_id", "event_type", "value")
    )


# --- CSV round-trip parity (S2/S3 under the driver's hash check) -------------
# The reference's whole I/O surface is CSV (SURVEY §2.2 S2/S3); the
# pytest round-trip proves the readers, but this query puts the CSV
# PATH ITSELF under the driver's value-hash gate: events staged to CSV
# (microsecond timestampFormat — the default millisecond format would
# silently truncate ts), read back through the explicit-schema reader,
# aggregated, and hash-compared against the same aggregate computed by
# DuckDB from the ORIGINAL parquet. Any precision loss or quoting bug
# in the CSV lane breaks the hash.

_CSV_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@staged("events")
def _staged_csv_events(spark: SparkSession, sf_dir: str) -> str:
    from dataengineeringproject_spark.schemas import load_table

    d = scratch_dir("deps_csv_events_")
    (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", _CSV_TS_FMT)
        .csv(d)
    )
    return d


@register(
    "csv_roundtrip_daily",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           ROUND(ROUND(sum(value), 2) / count(*), 6) AS avg_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def csv_roundtrip_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily (type, day) means computed from the CSV-STAGED copy of
    events, hash-held to DuckDB's aggregate over the original parquet:
    the CSV write→read lane (quoting, header, explicit schema,
    microsecond timestamps, shortest-round-trip doubles) must be
    lossless or the value hash breaks. Reference parity: S2/S3 are the
    reference's entire I/O model (pd.read_csv/to_csv,
    v5_group_project_dag.py:71,99); this is that lane under the
    engine's strongest check. The aggregate itself is the proven
    daily-mean shape (boundary-stable round(sum,2)/n)."""
    d = _staged_csv_events(spark, sf_dir)
    ev = (
        spark.read.option("header", "true")
        .option("timestampFormat", _CSV_TS_FMT)
        .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
        .csv(d)
    )
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.round(
            F.round(F.sum("value"), 2) / F.count(F.lit(1)), 6
        ).alias("avg_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- JSONL round-trip parity (the LLM-corpus interchange lane) ---------------


@staged("documents")
def _staged_jsonl_docs(spark: SparkSession, sf_dir: str) -> str:
    from dataengineeringproject_spark.schemas import load_table

    d = scratch_dir("deps_jsonl_docs_")
    load_table(spark, sf_dir, "documents").write.mode("overwrite").json(d)
    return d


@register(
    "jsonl_roundtrip_docs",
    oracle="""
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_len
    FROM documents GROUP BY 1
    """,
)
def jsonl_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document scorecard computed from a JSONL-STAGED copy
    of the corpus, hash-held to DuckDB over the original parquet —
    JSON-lines is THE interchange format LLM corpora arrive in, and
    this puts the engine's JSON write→read lane (string escaping,
    unicode, schema-on-read) under the same value-hash gate as the CSV
    lane (csv_roundtrip_daily). The distinct-md5 count makes the check
    content-sensitive: a single mangled character in any document
    changes a hash and breaks the row. Explicit schema on read — at
    100 TB, schema inference is a full extra pass."""
    d = _staged_jsonl_docs(spark, sf_dir)
    docs = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).json(d)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_distinct_texts"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(F.length("text")).cast("long").alias("sum_len"),
    )


# --- partitioned-layout read-back (partition pruning under the gate) ---------


@staged("events")
def _staged_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    from dataengineeringproject_spark.schemas import load_table

    d = scratch_dir("deps_part_events_")
    (
        load_table(spark, sf_dir, "events")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(d)
    )
    return d


@register(
    "partition_prune_readback",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           ROUND(ROUND(sum(value), 2) / count(*), 6) AS avg_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def partition_prune_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase means computed from a HIVE-PARTITIONED copy of
    events (partitionBy event_type on write), hash-held to DuckDB over
    the original parquet — the third member of the I/O gate family
    (CSV, JSONL, partitioned parquet): the event_type predicate now
    prunes PARTITION DIRECTORIES at planning time instead of filtering
    rows at scan time, which at 100 TB is the difference between
    reading 1/5th of the files and reading everything (the layout
    toolkit's pytest checks assert the pruned-scan plan shape; this
    query pins the VALUES through the partitioned round trip — the
    partition column round-trips through directory names, including
    its string encoding)."""
    d = _staged_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(d).filter(F.col("event_type") == "purchase")
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.round(
            F.round(F.sum("value"), 2) / F.count(F.lit(1)), 6
        ).alias("avg_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- schema-evolution read-back (mergeSchema under the gate) -----------------


@staged("events")
def _staged_evolved_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as a MIXED-SCHEMA parquet directory — the shape a
    long-lived lakehouse table actually has on disk after a column is
    added: the v1 slice (even user_id, standing in for files written
    before the migration) lacks the `props` column entirely; the v2
    slice has the full schema. Files written oldest-schema-first."""
    from dataengineeringproject_spark.schemas import load_table

    ev = load_table(spark, sf_dir, "events")
    d = scratch_dir("deps_evol_events_")
    v1 = ev.filter(F.col("user_id") % 2 == 0).drop("props")
    v2 = ev.filter(F.col("user_id") % 2 == 1)
    v1.coalesce(1).write.mode("append").parquet(d)
    v2.coalesce(1).write.mode("append").parquet(d)
    return d


@register(
    "schema_evolution_readback",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN user_id % 2 = 1 THEN props END) AS BIGINT)
             AS n_with_props,
           ROUND(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def schema_evolution_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type scorecard computed from a MIXED-SCHEMA parquet copy of
    events (v1 files predate the `props` column; v2 files carry it),
    read back with mergeSchema=true — the fourth member of the I/O
    gate family (CSV, JSONL, partitioned parquet, evolved parquet).
    Schema evolution is how every long-lived 100 TB table actually
    looks: added columns must read as NULL from pre-migration files,
    with no rewrite of old data. The count-of-props aggregate is the
    content-sensitive probe: it equals the v2-slice row count only if
    merge-read fills exactly the v1 rows with NULL. Oracle replays the
    evolution on the original table (props nulled where user_id is
    even — the deterministic v1 slice). mergeSchema costs a footer
    read per file at planning; at scale the merged schema would live
    in the table format's metadata instead, but the NULL-fill read
    semantics this pins are identical."""
    d = _staged_evolved_events(spark, sf_dir)
    ev = spark.read.option("mergeSchema", "true").parquet(d)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("props").cast("long").alias("n_with_props"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# --- bucketed-layout read-back (shuffle-free join under the gate) ------------

import hashlib as _hashlib


@staged("orders", "lineitem")
def _stage_bucketed_ol(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage orders and lineitem as EXTERNAL BUCKETED tables (8 buckets
    on the order key, bucket-sorted, one file per bucket) — the layout
    an ingest job would write once so that every downstream join on
    the order key reuses the write-time shuffle forever."""
    tag = _hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    to, tl = f"deps_buck_orders_{tag}", f"deps_buck_lineitem_{tag}"
    from dataengineeringproject_spark.schemas import load_table
    from dataengineeringproject_spark.sources import layout

    d = scratch_dir("deps_buck_ol_")
    layout.write_bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        to,
        ["o_orderkey"],
        8,
        path=f"{d}/orders",
    )
    layout.write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        tl,
        ["l_orderkey"],
        8,
        path=f"{d}/lineitem",
    )
    return to, tl


def _staged_bucketed_ol(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The staged bucketed table names, re-staged when the session
    catalog no longer has them (a new session's in-memory catalog
    starts empty; the bucket spec lives only there)."""
    to, tl = _stage_bucketed_ol(spark, sf_dir)
    if spark.catalog.tableExists(to) and spark.catalog.tableExists(tl):
        return to, tl
    return _stage_bucketed_ol.__wrapped__(spark, sf_dir)


register_prestage(_staged_bucketed_ol)


@register(
    "bucketed_join_readback",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_items,
           ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def bucketed_join_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority from BUCKETED copies of orders and
    lineitem (bucketBy(8, orderkey), bucket-sorted, written once at
    staging), hash-held to DuckDB over the original parquet — the
    fifth member of the I/O gate family (CSV, JSONL, partitioned
    parquet, evolved parquet, bucketed parquet). This is the
    fact-to-fact join shape at 100 TB: NEITHER side broadcastable, so
    the naive plan shuffles both corpora on every run; with matching
    bucket layouts the sort-merge join reuses the write-time shuffle
    and plans ZERO Exchange on either scan (pinned by
    tests/test_layout.py::test_bucketed_join_runs_without_exchange on
    the same write path, and by the sf0.01 plan assertion in
    tests/test_scale_plans.py) — pay the shuffle once at ingest, never
    again. The merge hint keeps the exhibited plan the bucketed SMJ
    even at test scale, where AQE would otherwise broadcast the small
    side. This query pins the VALUES through the bucketed round trip:
    murmur3 bucket routing must neither drop, duplicate, nor corrupt a
    single row of either table, or a priority-level aggregate flips."""
    to, tl = _staged_bucketed_ol(spark, sf_dir)
    o = spark.table(to).hint("merge")
    li = spark.table(tl).hint("merge")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    return j.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


# --- dynamic partition pruning exhibit ----------------------------------------

_DPP_MIN_MEAN = 50  # dim selection: event types whose mean value exceeds this
# (per-type means hover around 50, so the qualifying set differs by
# scale factor — the selection is genuinely runtime-only, never
# statically prunable)


@register(
    "dpp_join_prune",
    oracle=f"""
    WITH dim AS (
      SELECT event_type FROM events
      GROUP BY 1 HAVING sum(CAST(round(value * 1e3) AS BIGINT)) / 1e3
                        / count(*) > {_DPP_MIN_MEAN}
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(e.value * 1e3) AS BIGINT)) / 1e3
                 / count(*), 6) AS mean_value
    FROM events e JOIN dim USING (event_type)
    GROUP BY 1
    """,
)
def dpp_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning exhibit: the fact side is the
    HIVE-PARTITIONED events copy (partitioned by event_type) and the
    dim side is a RUNTIME-computed set of event types (mean value >
    {_DPP_MIN_MEAN} — not knowable at plan time), joined on the
    partition column. Spark injects a dynamicpruning subquery into the
    partitioned scan so only the qualifying partitions are ever read —
    the optimization that makes star-schema joins on a 100 TB
    partitioned fact read the 3 partitions the dim selects instead of
    all of them. Static pruning is `partition_prune_readback`; this is
    its runtime sibling, and tests/test_scale_plans.py pins the
    dynamicpruning expression in the scan.

    The oracle replays the semantics on the original table (DPP is a
    physical optimization; the answer is a plain dim-filtered join).
    Values go through the same milli-unit quantization both sides so
    the HAVING threshold and the mean agree exactly."""
    from dataengineeringproject_spark.schemas import load_table

    land = _staged_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(land)
    base = load_table(spark, sf_dir, "events")
    vu = F.round(F.col("value") * 1e3).cast("long")
    dim = (
        base.groupBy("event_type")
        .agg(
            (F.sum(vu) / F.lit(1e3) / F.count(F.lit(1))).alias("mean_value")
        )
        .filter(F.col("mean_value") > _DPP_MIN_MEAN)
        .select("event_type")
    )
    return (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(F.round(F.col("value") * 1e3).cast("long"))
                / F.lit(1e3)
                / F.count(F.lit(1)),
                6,
            ).alias("mean_value"),
        )
    )


# --- Z-order layout effectiveness (data-skipping audit, layout family) --------
# Morton interleave of two 6-bit quantized dimensions, written as pure
# integer arithmetic (div/mod — identical semantics in both engines;
# bit-shift OPERATORS differ in availability across SQL dialects).

_Z_BITS = 6  # 6 bits per dimension -> 64x64 grid, 12-bit Morton code
_Z_FILES = 64  # simulated file count per layout
_Z_LO, _Z_HI = 16, 31  # query box on each quantized dimension (1/16 area)
_Z_SPARK = " + ".join(
    f"((qx div {1 << k}) % 2) * {1 << (2 * k + 1)}"
    f" + ((qy div {1 << k}) % 2) * {1 << (2 * k)}"
    for k in range(_Z_BITS)
)
_Z_DUCK = _Z_SPARK.replace(" div ", " // ")


@register(
    "zorder_file_skipping",
    oracle=f"""
    WITH base AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM lineitem
    ),
    st AS (
      SELECT max(l_partkey) AS maxpk, max(l_suppkey) AS maxsk,
             count(*) AS nrows
      FROM base
    ),
    q AS (
      SELECT l_orderkey, l_linenumber, nrows,
             least({(1 << _Z_BITS) - 1},
                   ((l_partkey - 1) * {1 << _Z_BITS}) // maxpk) AS qx,
             least({(1 << _Z_BITS) - 1},
                   ((l_suppkey - 1) * {1 << _Z_BITS}) // maxsk) AS qy
      FROM base CROSS JOIN st
    ),
    z AS (SELECT *, {_Z_DUCK} AS zv FROM q),
    lin AS (
      SELECT qx, qy, nrows, row_number() OVER (
        ORDER BY qx, l_orderkey, l_linenumber) AS rn FROM z
    ),
    zo AS (
      SELECT qx, qy, nrows, row_number() OVER (
        ORDER BY zv, l_orderkey, l_linenumber) AS rn FROM z
    ),
    linf AS (
      SELECT ((rn - 1) * {_Z_FILES}) // nrows AS f,
             min(qx) AS mnx, max(qx) AS mxx,
             min(qy) AS mny, max(qy) AS mxy, count(*) AS c,
             sum(CASE WHEN qx BETWEEN {_Z_LO} AND {_Z_HI}
                       AND qy BETWEEN {_Z_LO} AND {_Z_HI}
                      THEN 1 ELSE 0 END) AS mt
      FROM lin GROUP BY 1
    ),
    zof AS (
      SELECT ((rn - 1) * {_Z_FILES}) // nrows AS f,
             min(qx) AS mnx, max(qx) AS mxx,
             min(qy) AS mny, max(qy) AS mxy, count(*) AS c,
             sum(CASE WHEN qx BETWEEN {_Z_LO} AND {_Z_HI}
                       AND qy BETWEEN {_Z_LO} AND {_Z_HI}
                      THEN 1 ELSE 0 END) AS mt
      FROM zo GROUP BY 1
    )
    SELECT 'linear' AS layout, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN mxx >= {_Z_LO} AND mnx <= {_Z_HI}
                          AND mxy >= {_Z_LO} AND mny <= {_Z_HI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(sum(CASE WHEN mxx >= {_Z_LO} AND mnx <= {_Z_HI}
                          AND mxy >= {_Z_LO} AND mny <= {_Z_HI}
                         THEN c ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(sum(mt) AS BIGINT) AS rows_matched
    FROM linf
    UNION ALL
    SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN mxx >= {_Z_LO} AND mnx <= {_Z_HI}
                          AND mxy >= {_Z_LO} AND mny <= {_Z_HI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(sum(CASE WHEN mxx >= {_Z_LO} AND mnx <= {_Z_HI}
                          AND mxy >= {_Z_LO} AND mny <= {_Z_HI}
                         THEN c ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(sum(mt) AS BIGINT) AS rows_matched
    FROM zof
    """,
)
def zorder_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout effectiveness audit — the measurement behind a
    lakehouse `OPTIMIZE ... ZORDER BY (a, b)` decision: lay lineitem
    out into {_Z_FILES} equal files two ways (LINEAR = sorted by the
    first dimension only; ZORDER = sorted by the Morton interleave of
    both 6-bit-quantized dimensions), record per-file min/max zone
    maps, and count how many files a 2-D box predicate
    ([{_Z_LO},{_Z_HI}]² on the 64×64 grid) can SKIP under each
    layout. Linear sorting prunes perfectly on dimension one and not
    at all on dimension two; the Morton curve bounds BOTH coordinate
    ranges within every file, which is why multi-dimensional
    predicates skip most of a Z-ordered table. The interleave is pure
    div/mod integer arithmetic (identical across engines — bit-shift
    OPERATOR syntax is not), file assignment is an exact integer
    rank formula, and every output is an integer count.

    Scale shape: file assignment runs through the DISTRIBUTED global
    rank (operators/relational.global_row_number: repartitionByRange
    on the layout key + per-range row_number + broadcast prefix
    offsets — ADVICE r8 closed; no single-task Window.orderBy), so
    the layout sort is the honest, embarrassingly-parallel cost of
    OPTIMIZE itself; the audit aggregates are map-side over
    file-grain partial stats. The completed layout family:
    partition pruning (static), DPP (runtime), bucketing (shuffle
    elimination), salting/AQE (skew), vacuum/compaction
    (maintenance), Z-order (multi-dimensional skipping)."""
    from dataengineeringproject_spark.operators.relational import (
        global_row_number,
    )
    from dataengineeringproject_spark.schemas import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    st = li.agg(
        F.max("l_partkey").alias("maxpk"),
        F.max("l_suppkey").alias("maxsk"),
        F.count(F.lit(1)).alias("nrows"),
    )
    cap = F.lit((1 << _Z_BITS) - 1)
    q = li.join(F.broadcast(st)).select(
        "l_orderkey",
        "l_linenumber",
        "nrows",
        F.least(
            cap, F.expr(f"((l_partkey - 1) * {1 << _Z_BITS}) div maxpk")
        ).alias("qx"),
        F.least(
            cap, F.expr(f"((l_suppkey - 1) * {1 << _Z_BITS}) div maxsk")
        ).alias("qy"),
    )
    z = q.withColumn("zv", F.expr(_Z_SPARK))
    matched = F.when(
        F.col("qx").between(_Z_LO, _Z_HI)
        & F.col("qy").between(_Z_LO, _Z_HI),
        1,
    ).otherwise(0)
    scanned = (
        (F.col("mxx") >= _Z_LO)
        & (F.col("mnx") <= _Z_HI)
        & (F.col("mxy") >= _Z_LO)
        & (F.col("mny") <= _Z_HI)
    )

    def one_layout(name: str, order_cols: list) -> DataFrame:
        files = (
            global_row_number(z, order_cols, "rn")
            .withColumn("f", F.expr(f"((rn - 1) * {_Z_FILES}) div nrows"))
            .groupBy("f")
            .agg(
                F.min("qx").alias("mnx"),
                F.max("qx").alias("mxx"),
                F.min("qy").alias("mny"),
                F.max("qy").alias("mxy"),
                F.count(F.lit(1)).alias("c"),
                F.sum(matched).alias("mt"),
            )
        )
        return files.agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(F.when(scanned, 1).otherwise(0))
            .cast("long")
            .alias("files_scanned"),
            F.sum(F.when(scanned, F.col("c")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("mt").cast("long").alias("rows_matched"),
        ).select(
            F.lit(name).alias("layout"),
            "n_files",
            "files_scanned",
            "rows_scanned",
            "rows_matched",
        )

    lin = one_layout(
        "linear", [F.asc("qx"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    )
    zo = one_layout(
        "zorder", [F.asc("zv"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    )
    return lin.unionByName(zo)
