"""Physical data layout for scale (SURVEY.md §4; north-star 100 TB
posture). Correct layout is the difference between a join that
shuffles 100 TB and one that shuffles nothing:

- **Bucketing** (`write_bucketed`): pre-hash-partition a table on its
  join/agg key into N buckets at WRITE time. Two tables bucketed on
  the same key with the same N join with ZERO exchanges — the shuffle
  happened once, at ingest, instead of once per query. This is the
  steady-state shape for fact-to-fact joins too big to broadcast
  (lineitem ⋈ orders at 100 TB).
- **Partitioned layout** (`write_partitioned`): directory-level
  partition columns; predicates on them prune entire directories at
  planning time (the scan never lists, opens, or reads a pruned
  partition's files).
- **Clustered files** (`write_clustered`): sort rows within files by a
  filter column so parquet row-group min/max statistics skip
  non-matching row groups — partition pruning's intra-file analog,
  for high-cardinality columns where directory partitioning would
  create a small-files problem.

All three are write-side investments that every later query amortizes;
they compose (partition by low-cardinality time/category, bucket by
join key, cluster by range-filter column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Persist `df` as a bucketed and bucket-sorted parquet table.

    Sorting within each bucket file on the bucket columns lets a downstream sort-merge join skip its sort
    as well as its shuffle — but Spark only trusts bucket-sortedness
    when each bucket holds exactly ONE file, so the frame is
    pre-repartitioned on the bucket columns (same murmur3 hash family
    as the bucket assignment) to get one writer task per bucket. At
    ingest scale that repartition also prevents the
    files-per-bucket = write-tasks × buckets small-files explosion.
    `path` makes it an external table (data at `path`, metadata in the
    session catalog)."""
    df = df.repartition(n_buckets, *[df[c] for c in bucket_cols])
    w = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> str:
    """Directory-partitioned parquet layout (overwrites `path`): one
    subdirectory per distinct partition-column tuple. Keep partition
    columns low-cardinality (day, category, region) — each tuple is a
    directory, and millions of tiny directories are their own scale
    problem."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    return path


def write_clustered(df: DataFrame, path: str, cluster_cols: list[str]) -> str:
    """Sort within partitions by `cluster_cols` before overwriting
    `path`, so each parquet file's row groups carry tight min/max
    statistics on those columns and range predicates skip whole row
    groups at scan time."""
    df.sortWithinPartitions(*cluster_cols).write.mode("overwrite").parquet(path)
    return path


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def morton2(a, b, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative int columns
    (`bits` low bits each → one 2·bits-bit key). Sorting by this key
    clusters rows so that BOTH dimensions' parquet row-group min/max
    ranges stay tight — a single-column sort gives perfect stats on one
    dimension and useless stats on every other; Morton order trades a
    little of each for locality on all. This is the OPTIMIZE ZORDER
    primitive of lakehouse table formats, as a plain column expression:
    pure bit arithmetic, codegen'd, no shuffle beyond the final sort.
    """
    from pyspark.sql import functions as F

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    key = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        key = (
            key.bitwiseOR(F.shiftleft(abit, 2 * i))
            .bitwiseOR(F.shiftleft(bbit, 2 * i + 1))
        )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
) -> str:
    """Cluster files by the 2-D Morton key of (col_a, col_b) before
    overwriting `path` — multi-dimensional row-group skipping for workloads that
    range-filter on either (or both) of two columns. Columns must be
    non-negative ints fitting in `bits` bits (pre-bucket them with
    `width_bucket`/`%` otherwise)."""
    z = morton2(col_a, col_b, bits)
    df.sortWithinPartitions(z).write.mode("overwrite").parquet(path)
    return path
