"""Round-11 regression pins for the ADVICE r10 items.

1. Centroid init is offset-proof: `kmeans_centroids` / the untrained
   IVF sample select the init_cap SMALLEST sample ids via ORDER BY +
   LIMIT, so an id space starting far above 0 still yields a non-empty
   init (the old absolute ceiling `id < init_mod*init_cap` returned an
   EMPTY frame there, silently emptying every downstream ANN result).
2. The streaming release gate's foreachBatch writes are batch_id-keyed
   log batches (idempotent under at-least-once replay: a replay of the
   real stream leaves the report unchanged).
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F

from dataengineeringproject_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


def _offset_vecs(spark, offset: int):
    ids = [offset + i for i in range(200)]
    return spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in ids],
        "vec_id bigint, v array<double>",
    )


def test_kmeans_init_nonempty_on_offset_id_space(spark):
    """ADVICE r10 item 1: ids starting above init_mod*init_cap must
    still produce centroids (and they must be the smallest sample ids,
    capped)."""
    vecs = _offset_vecs(spark, offset=10**9)
    cents = S.kmeans_centroids(vecs, "vec_id", n_iters=0)
    rows = cents.collect()
    assert len(rows) > 0, "offset id space produced an EMPTY centroid init"
    # n_iters=0 returns the raw init: exactly the sample ids, ascending
    sample = sorted(
        r.vec_id for r in vecs.filter(F.col("vec_id") % 31 == 0).collect()
    )
    assert sorted(r.cid for r in rows) == sample[: S._INIT_CAP]


def test_kmeans_init_cap_takes_smallest_sample_ids(spark):
    """On a dense-from-0 id space the LIMIT form must select the
    identical set the old absolute ceiling selected (byte-identity of
    every provided-testdata result depends on this)."""
    vecs = spark.range(0, 31 * 300).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), (F.col("id") % 5).cast("double")).alias("v"),
    )
    cents = S.kmeans_centroids(vecs, "vec_id", n_iters=0)
    got = sorted(r.cid for r in cents.collect())
    old_rule = [i for i in range(0, 31 * 300, 31) if i < 31 * S._INIT_CAP]
    assert got == old_rule
    assert len(got) == S._INIT_CAP


def test_streaming_gate_writes_are_batch_keyed(spark):
    """After the gate runs, both the report log and the keeper index
    are log-form sinks of `streaming.commit`: one committed
    `batch_id=<id>` dir per micro-batch slice and nothing else."""
    from dataengineeringproject_spark.queries import llm_text as L

    L.streaming_corpus_release_gate(spark, SF).collect()
    want = [f"batch_id={i}" for i in range(L._GATE_STREAM_SLICES)]
    for log in L._run_gate_stream(spark, SF):
        assert sorted(p.name for p in Path(log).iterdir()) == want
        assert all((Path(log) / b / "_SUCCESS").exists() for b in want)


def test_streaming_gate_replay_is_idempotent(spark, monkeypatch):
    """Replaying the LAST trigger of the real stream (same batch_id,
    same input slice, same checkpoint and dirs) leaves the report
    unchanged."""
    from _harness import replay_registry_query
    from dataengineeringproject_spark.queries import llm_text as L

    first, again = replay_registry_query(
        spark, monkeypatch, L, "streaming_corpus_release_gate",
        "_run_gate_stream", SF,
    )
    assert first == again and first


def test_ensure_min_parallelism_semantics(spark):
    """No-op when the frame already has >= defaultParallelism
    partitions (never a down-shuffle — the 100 TB guarantee);
    repartitions UP to defaultParallelism otherwise; content
    unchanged either way."""
    par = spark.sparkContext.defaultParallelism
    few = spark.range(0, 1000).coalesce(1).select(
        F.col("id").alias("vec_id")
    )
    up = S.ensure_min_parallelism(few, "vec_id")
    assert up.rdd.getNumPartitions() == par
    assert sorted(r.vec_id for r in up.collect()) == list(range(1000))
    many = spark.range(0, 1000).repartition(par + 7)
    same = S.ensure_min_parallelism(many, "id")
    assert same.rdd.getNumPartitions() == par + 7
    assert same is many


def test_bench_json_carries_action_tag():
    """The emitted bench record must say which timing action produced
    it (collect vs count are not comparable: count() prunes projected
    expressions — r10 SimHash lesson). bench.py always collects."""
    import bench

    assert bench.BENCH_ACTION == "collect"
    import json
    from pathlib import Path

    out = Path(bench.__file__).resolve().parent / "bench_out.json"
    if out.exists():
        rec = json.loads(out.read_text())
        if rec.get("metric") == "all_queries_total":
            assert rec.get("action") == "collect"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_assign_nearest_is_argmin_aggregate_not_window(spark):
    """The r11 shape: centroid assignment must stay a
    map-side-combining aggregate — a row_number window over the ×k
    expanded frame sorts/shuffles both vector payloads and AQE
    serializes the post-shuffle side (the 45 s shape)."""
    vecs = spark.range(0, 500).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), (F.col("id") % 3).cast("double")).alias("v"),
    )
    cents = S.kmeans_centroids(vecs, "vec_id", n_iters=0)
    p = _plan(S.assign_nearest(vecs, cents, "vec_id"))
    assert "Window" not in p, p
    # min(struct) plans as SortAggregate (struct has no mutable hash
    # buffer) — same node the fast _pq_codes exemplar uses; the point
    # is an AGGREGATE with a map-side partial, not a rank window.
    assert "SortAggregate" in p or "HashAggregate" in p, p
    assert p.count("Aggregate") >= 2, p  # partial + final


def test_kmeans_init_is_take_ordered(spark):
    """The offset-proof init must plan as TakeOrderedAndProject (a
    per-partition top-K merge), never a global Sort of the sample."""
    vecs = spark.range(0, 31 * 400).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0)).alias("v"),
    )
    p = _plan(S.kmeans_centroids(vecs, "vec_id", n_iters=0))
    assert "TakeOrderedAndProject" in p, p


def test_exact_knn_no_dimension_join(spark):
    """knn_classifier_eval's all-pairs expansion must not shuffle on
    the 12-value dimension key (12 skewed tasks); the array-dot form
    has no posexplode/dimension join in the plan."""
    from dataengineeringproject_spark import registry

    df = registry.queries()["knn_classifier_eval"](spark, SF)
    p = _plan(df)
    assert "posexplode" not in p.lower(), p[:2000]
