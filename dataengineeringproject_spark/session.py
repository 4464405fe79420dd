"""SparkSession factory.

Pinned decisions (SURVEY.md §4 "physical-execution decisions"):
- session timezone UTC: the testdata timestamps are naive parquet
  timestamps and the DuckDB oracle is UTC-naive; pinning UTC makes
  `to_date`/`date_trunc` agree on both sides (reference E1 semantics,
  v5_group_project_dag.py:74).
- AQE on: runtime coalescing of the tiny sf0.01 shuffles AND skew-join
  splitting at the 100 TB end — one config serves both.
- shuffle.partitions defaults to the local core count; on a real
  cluster this is overridden per-job (or left to AQE's
  coalescePartitions with a high initial partition count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dataengineeringproject_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with the engine's pinned configs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark
        # has no native type for; read as long and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Python workers via addPyFile.

    Operators that run Python on executors (mapInPandas,
    applyInPandasWithState) pickle their functions BY REFERENCE when
    they live in an importable module — so the workers must be able to
    import `dataengineeringproject_spark` themselves. The external
    driver builds its own SparkSession from an arbitrary cwd with no
    PYTHONPATH guarantees, so every Python-worker query ships a zip of
    the package first (idempotent per session). The zip's dir is removed
    at interpreter exit by the registry's cleanup hook."""
    sc = spark.sparkContext
    if getattr(sc, "_deps_pkg_shipped", False):
        return
    import pathlib
    import shutil

    from dataengineeringproject_spark.registry import process_dir

    pkg_dir = pathlib.Path(__file__).resolve().parent
    base = process_dir("deps_pkg_") + "/dataengineeringproject_spark"
    zip_path = shutil.make_archive(
        base, "zip", root_dir=str(pkg_dir.parent), base_dir=pkg_dir.name
    )
    sc.addPyFile(zip_path)
    sc._deps_pkg_shipped = True
