"""Similarity search queries over `embeddings` (north star:
BASELINE.json; SURVEY.md §7.2.10): brute-force cosine top-k (exact
baseline) and hyperplane-LSH bucketed ANN (scale path).

The LSH hyperplanes are Python-computed constants embedded into both
the Spark plan and the oracle SQL (operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineeringproject_spark.functions import text as X
from dataengineeringproject_spark.operators import similarity as S
from dataengineeringproject_spark.registry import (
    register,
    register_prestage,
    scratch_dir,
    staged,
)
from dataengineeringproject_spark.schemas import load_table, local_df
from dataengineeringproject_spark.streaming.commit import (
    append_batch,
    drive_landing,
    read_log,
)

_QUERY_IDS = list(range(10))
_K, _N_PLANES, _N_DIMS = 5, 4, 64
_QID_LIST = ", ".join(str(i) for i in _QUERY_IDS)


@register(
    "cosine_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id IN ({_QID_LIST})),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {_K}
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{_K} for 10 query vectors: broadcast the
    tiny query side, stream the corpus, per-query window for top-k.
    Exact — the recall baseline for the ANN variant."""
    emb = load_table(spark, sf_dir, "embeddings")
    df = S.cosine_topk(emb, "vec_id", "embedding", _QUERY_IDS, k=_K)
    return df.withColumn("rank", df["rank"].cast("long"))


_CENTROID_MOD, _NPROBE = 31, 4


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (SELECT vec_id AS cid, emb AS cemb FROM v
          WHERE vec_id % {_CENTROID_MOD} = 0
          ORDER BY vec_id LIMIT {S._INIT_CAP}),
    a AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid, row_number() OVER (
          PARTITION BY v.vec_id
          ORDER BY ROUND(CASE WHEN list_inner_product(v.emb, v.emb) = 0 OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL ELSE list_cosine_similarity(v.emb, c.cemb) END, 6) DESC, c.cid ASC
        ) AS rn FROM v, c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id IN ({_QID_LIST})),
    p AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid, row_number() OVER (
          PARTITION BY q.query_id
          ORDER BY ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, c.cemb) END, 6) DESC, c.cid ASC
        ) AS rn FROM q, c
      ) WHERE rn <= {_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM p JOIN a USING (cid)
      JOIN q ON q.query_id = p.query_id
      JOIN v ON v.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 via IVF: deterministic centroid sample, corpus assigned
    to inverted lists once, each query probes its {_NPROBE} nearest
    lists — the partition-pruned scale path next to LSH."""
    emb = load_table(spark, sf_dir, "embeddings")
    df = S.ivf_topk(
        emb, "vec_id", "embedding", _QUERY_IDS,
        centroid_mod=_CENTROID_MOD, nprobe=_NPROBE, k=3,
    )
    return df.withColumn("rank", df["rank"].cast("long"))


_TRAIN_ITERS = 2


def _ivf_probe_sql(cents: str, prefix: str, nprobe: int, k: int) -> str:
    """CTE fragment for the IVF query path against centroid CTE
    `cents(cid, cemb)`: assignment, probes, scoring, ranking. Assumes
    `v` and `q` CTEs exist; emits `{prefix}top(query_id, neighbor_id,
    cosine, rank)`."""
    return f"""{prefix}a AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid, row_number() OVER (
          PARTITION BY v.vec_id
          ORDER BY ROUND(CASE WHEN list_inner_product(v.emb, v.emb) = 0 OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL ELSE list_cosine_similarity(v.emb, c.cemb) END, 6) DESC, c.cid ASC
        ) AS rn FROM v, {cents} c) WHERE rn = 1
    ),
    {prefix}p AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid, row_number() OVER (
          PARTITION BY q.query_id
          ORDER BY ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, c.cemb) END, 6) DESC, c.cid ASC
        ) AS rn FROM q, {cents} c) WHERE rn <= {nprobe}
    ),
    {prefix}sc AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM {prefix}p p JOIN {prefix}a a USING (cid)
      JOIN q ON q.query_id = p.query_id
      JOIN v ON v.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    ),
    {prefix}top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM {prefix}sc
      ) WHERE rank <= {k}
    )"""


@register(
    "ann_ivf_trained_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    {S.kmeans_sql(_TRAIN_ITERS, _CENTROID_MOD)},
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id IN ({_QID_LIST})),
    {_ivf_probe_sql(f'k{_TRAIN_ITERS}', 'i', _NPROBE, 3)}
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM itop
    """,
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 via IVF with Lloyd-TRAINED centroids ({_TRAIN_ITERS}
    deterministic k-means iterations from the sampled init) — tighter
    clusters than the raw sample, so the same nprobe buys more recall.
    The oracle replays the identical training (round-stabilized means)."""
    emb = load_table(spark, sf_dir, "embeddings")
    df = S.ivf_topk(
        emb, "vec_id", "embedding", _QUERY_IDS,
        centroid_mod=_CENTROID_MOD, nprobe=_NPROBE, k=3,
        train_iters=_TRAIN_ITERS,
    )
    return df.withColumn("rank", df["rank"].cast("long"))


@register(
    "ann_recall_trained_ivf",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    {S.kmeans_sql(_TRAIN_ITERS, _CENTROID_MOD)},
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id IN ({_QID_LIST})),
    {_ivf_probe_sql(f'k{_TRAIN_ITERS}', 'i', _NPROBE, 3)},
    es AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.vec_id <> q.query_id
    ),
    etop AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM es
      ) WHERE rank <= 3
    ),
    hits AS (
      SELECT e.query_id, count(*) AS n_hits
      FROM etop e JOIN itop i USING (query_id, neighbor_id)
      GROUP BY e.query_id
    )
    SELECT q.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / 3.0, 6) AS recall
    FROM (SELECT DISTINCT query_id FROM etop) q
    LEFT JOIN hits h USING (query_id)
    """,
)
def ann_recall_trained_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the trained-IVF index against the exact cosine top-3
    ground truth, per query — the measurement loop that makes ANN
    tunable (nprobe/train_iters vs recall) instead of faith-based.

    The TRUTH side is ANCHOR-BOUNDED: {len(_QUERY_IDS)} fixed query
    vectors broadcast against one linear corpus scan — O(|Q|·n), not
    all-pairs — so this recall query stays scale_class="scalable"
    (contrast fuzzy_recall_blocked, whose anchored-vs-full-corpus
    non-equi truth join is tagged diagnostic)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, "vec_id", "embedding", _QUERY_IDS, k=3)
    approx = S.ivf_topk(
        emb, "vec_id", "embedding", _QUERY_IDS,
        centroid_mod=_CENTROID_MOD, nprobe=_NPROBE, k=3,
        train_iters=_TRAIN_ITERS,
    )
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 3.0, 6).alias("recall"),
        )
    )


_NEARDUP_COS_T = 0.35


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             {S.lsh_bucket_sql('CAST(embedding AS DOUBLE[])', S.hyperplanes(_N_PLANES, _N_DIMS))} AS bucket
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(CASE WHEN list_inner_product(a.emb, a.emb) = 0 OR list_inner_product(b.emb, b.emb) = 0 THEN NULL ELSE list_cosine_similarity(a.emb, b.emb) END, 6) AS cosine
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM p WHERE cosine >= {_NEARDUP_COS_T}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: same-LSH-bucket vectors with
    cosine ≥ {_NEARDUP_COS_T}. One shuffle on bucket id; per-bucket
    self-join, Σ bucket² ≪ corpus² work."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_neardup(
        emb, "vec_id", "embedding", n_planes=_N_PLANES,
        threshold=_NEARDUP_COS_T, n_dims=_N_DIMS,
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             {S.lsh_bucket_sql('CAST(embedding AS DOUBLE[])', S.hyperplanes(_N_PLANES, _N_DIMS))} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, emb AS qemb, bucket AS qbucket
          FROM v WHERE vec_id IN ({_QID_LIST})),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.bucket = q.qbucket AND v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 via random-hyperplane LSH: bucket equi-join replaces
    the cross join — each query probes 1/2^{_N_PLANES} of the corpus in
    expectation. Approximate recall by design."""
    emb = load_table(spark, sf_dir, "embeddings")
    df = S.lsh_cosine_topk(
        emb, "vec_id", "embedding", _QUERY_IDS, n_planes=_N_PLANES, k=3,
        n_dims=_N_DIMS,
    )
    return df.withColumn("rank", df["rank"].cast("long"))


@register(
    "embedding_norms",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 6) AS l2_norm,
           ROUND(list_aggregate(CAST(embedding AS DOUBLE[]), 'max'), 6) AS max_dim,
           ROUND(CAST(embedding AS DOUBLE[])[1] /
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 6) AS unit_dim0
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Pandas UDF over the embedding column (the
    Arrow-batched fast path for Python math Spark lacks natively —
    here numpy per-batch L2 norms; ~10-100x over row-at-a-time UDFs).
    Output stays scalar so the driver hash is representation-agnostic.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # `from __future__ import annotations` stringifies inline hints,
    # which pandas_udf can't resolve — attach real annotations instead.
    def _with_series_hints(fn):
        fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
        return pandas_udf(fn, "double")

    @_with_series_hints
    def l2_norm(v):
        m = np.vstack(v.to_numpy())
        return pd.Series(np.sqrt((m * m).sum(axis=1)))

    @_with_series_hints
    def max_dim(v):
        return pd.Series(np.vstack(v.to_numpy()).max(axis=1))

    @_with_series_hints
    def unit_dim0(v):
        m = np.vstack(v.to_numpy())
        return pd.Series(m[:, 0] / np.sqrt((m * m).sum(axis=1)))

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return emb.select(
        "vec_id",
        F.round(l2_norm("v"), 6).alias("l2_norm"),
        F.round(max_dim("v"), 6).alias("max_dim"),
        F.round(unit_dim0("v"), 6).alias("unit_dim0"),
    )


# --- int8 scalar quantization -------------------------------------------------

@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    s AS (
      SELECT vec_id, emb,
             list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
      FROM v
    ),
    qd AS (
      SELECT vec_id, emb, scale,
             list_transform(emb, x -> round(x / scale) * scale) AS deq,
             len(list_filter(emb, x -> abs(round(x / scale)) >= 127)) AS n_sat
      FROM s
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           ROUND(CASE WHEN list_inner_product(emb, emb) = 0 OR list_inner_product(deq, deq) = 0 THEN NULL ELSE list_cosine_similarity(emb, deq) END, 6) AS cos_recon,
           ROUND(list_max(list_transform(
             emb, x -> abs(x - round(x / scale) * scale))), 6) AS max_abs_err,
           CAST(n_sat AS BIGINT) AS n_saturated
    FROM qd
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (scale = max|x|/127) with
    reconstruction diagnostics: cosine(original, dequantized), max
    absolute error, saturated-dim count. This is the memory/bandwidth
    lever for vector search at scale — int8 codes cut the corpus to a
    quarter of float32, which is the difference between an ANN list
    fitting in executor memory or spilling; the diagnostics are how a
    pipeline decides the quality cost is acceptable before re-encoding
    100 TB. All codegen-free HOF expressions (transform / filter /
    zip_with) on the array column — per-row work, zero shuffle, and the
    plan fuses into the parquet scan."""
    from dataengineeringproject_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("emb")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    # internal name must differ from the rounded output column: a lambda
    # in the same select would otherwise resolve "scale" to the ROUNDED
    # projection, shifting borderline elements across the 126.5 boundary
    d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("__scale", scale)
    sc = F.col("__scale")
    deq = F.transform(v, lambda x: F.round(x / sc) * sc)
    d = d.withColumn("deq", deq)
    return d.select(
        "vec_id",
        F.round(sc, 6).alias("scale"),
        F.round(cosine(v, F.col("deq")), 6).alias("cos_recon"),
        F.round(
            F.array_max(
                F.zip_with(v, F.col("deq"), lambda a, b: F.abs(a - b))
            ),
            6,
        ).alias("max_abs_err"),
        F.size(F.filter(v, lambda x: F.abs(F.round(x / sc)) >= 127))
        .cast("long")
        .alias("n_saturated"),
    )


# --- product quantization -----------------------------------------------------

_PQ_M, _PQ_K = 8, 16          # 8 subspaces x 16 codes
_PQ_DSUB = _N_DIMS // _PQ_M   # 8 dims per subspace


@register(
    "pq_encode_recon",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sub AS (
      SELECT vec_id, s,
             list_slice(v, s * {_PQ_DSUB} + 1, s * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
      FROM v CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s)
    ),
    cb AS (SELECT vec_id AS code, s, sv AS cv FROM sub WHERE vec_id < {_PQ_K}),
    scored AS (
      SELECT t.vec_id, t.s, cb.code, cb.cv,
             ROUND(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
                            i -> (t.sv[i] - cb.cv[i]) ^ 2)), 6) AS l2
      FROM sub t JOIN cb USING (s)
    ),
    best AS (
      SELECT vec_id, s, code, cv FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY l2, code) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    enc AS (
      SELECT vec_id,
             md5(string_agg(code::VARCHAR, '-' ORDER BY s)) AS code_fp,
             flatten(list(cv ORDER BY s)) AS recon
      FROM best GROUP BY vec_id
    )
    SELECT e.vec_id, e.code_fp,
           ROUND(list_sum(list_transform(generate_series(1, {_N_DIMS}),
                          i -> (v.v[i] - e.recon[i]) ^ 2)) / {_N_DIMS}, 6)
             AS recon_mse,
           ROUND(CASE WHEN list_inner_product(v.v, v.v) = 0 OR list_inner_product(e.recon, e.recon) = 0 THEN NULL ELSE list_cosine_similarity(v.v, e.recon) END, 6) AS recon_cos
    FROM enc e JOIN v USING (vec_id)
    """,
)
def pq_encode_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the IVF-PQ code path of billion-scale ANN):
    each vector splits into {_PQ_M} subvectors of {_PQ_DSUB} dims; each
    subvector is assigned its nearest of {_PQ_K} codebook entries
    (L2², rounded before the argmin so engine float ulps can't flip a
    near-tie; ties break to the smallest code). A {_PQ_M}-byte code
    replaces 256 bytes of float32 — 32× compression — and the
    reconstruction diagnostics (per-vector MSE and cosine) are how a
    pipeline decides that loss is acceptable before re-encoding a
    100 TB corpus. The codebook here is a deterministic seed sample
    (subvectors of the {_PQ_K} smallest vec_ids) rather than k-means —
    the assignment/reconstruction dataflow is identical, and
    determinism is what lets the DuckDB oracle hash-check every code.

    Scale posture: the codebook ({_PQ_M}×{_PQ_K} rows) broadcasts;
    subvector explode is a {_PQ_M}× map-side fanout; the argmin is a
    map-side-combining min(struct) aggregate keyed (vec, s) — no
    window sort over the corpus — and codes re-collapse to vector
    grain in the same shuffle. Corpus-sized data crosses the network
    once."""
    from dataengineeringproject_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sub = d.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                lambda s: F.slice("v", s * _PQ_DSUB + 1, _PQ_DSUB),
            )
        ).alias("s", "sv"),
    )
    cb = sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code"), "s", F.col("sv").alias("cv")
    )
    l2 = F.round(
        F.aggregate(
            F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    best = (
        sub.join(F.broadcast(cb), "s")
        .select("vec_id", "s", l2.alias("l2"), "code", "cv")
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("l2", "code", "cv")).alias("b"))
    )
    enc = best.groupBy("vec_id").agg(
        F.array_sort(
            F.collect_list(F.struct("s", F.col("b.code").alias("code")))
        ).alias("codes"),
        F.array_sort(
            F.collect_list(F.struct("s", F.col("b.cv").alias("cv")))
        ).alias("cvs"),
    )
    enc = enc.select(
        "vec_id",
        F.md5(
            F.concat_ws(
                "-", F.transform(F.col("codes"), lambda x: x.code.cast("string"))
            )
        ).alias("code_fp"),
        F.flatten(F.transform(F.col("cvs"), lambda x: x.cv)).alias("recon"),
    )
    mse = (
        F.aggregate(
            F.zip_with("v", "recon", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / _N_DIMS
    )
    return enc.join(d, "vec_id").select(
        "vec_id",
        "code_fp",
        F.round(mse, 6).alias("recon_mse"),
        F.round(cosine(F.col("v"), F.col("recon")), 6).alias("recon_cos"),
    )


# --- ADC top-k over PQ codes --------------------------------------------------

_ADC_K = 5


def _pq_sub(d: DataFrame) -> DataFrame:
    """(vec_id, s, sv): every vector split into its _PQ_M subvectors."""
    return d.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                lambda s: F.slice("v", s * _PQ_DSUB + 1, _PQ_DSUB),
            )
        ).alias("s", "sv"),
    )


def _pq_cb(sub: DataFrame) -> DataFrame:
    """(code, s, cv): deterministic seed codebook — the subvectors of
    the _PQ_K smallest vec_ids (oracle-replayable; see pq_encode_recon
    docstring)."""
    return sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code"), "s", F.col("sv").alias("cv")
    )


def _pq_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_codes(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, s, code): nearest-codebook-entry assignment (rounded
    L2^2, code tie-break) via a map-side-combining min(struct) — no
    window over the corpus."""
    return (
        sub.join(F.broadcast(cb), "s")
        .select(
            "vec_id", "s",
            F.round(_pq_l2(F.col("sv"), F.col("cv")), 6).alias("l2"),
            "code",
        )
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("l2", "code")).alias("b"))
        .select("vec_id", "s", F.col("b.code").alias("code"))
    )


def _pq_lut(sub: DataFrame, cb: DataFrame, query_ids: list[int]) -> DataFrame:
    """(query_id, s, code, d): per-query asymmetric-distance lookup
    table — exact query subvector vs every codebook entry."""
    return (
        sub.filter(F.col("vec_id").isin(query_ids))
        .select(F.col("vec_id").alias("query_id"), "s", "sv")
        .join(F.broadcast(cb), "s")
        .select(
            "query_id", "s", "code",
            _pq_l2(F.col("sv"), F.col("cv")).alias("d"),
        )
    )


@register(
    "pq_adc_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sub AS (
      SELECT vec_id, s,
             list_slice(v, s * {_PQ_DSUB} + 1, s * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
      FROM v CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s)
    ),
    cb AS (SELECT vec_id AS code, s, sv AS cv FROM sub WHERE vec_id < {_PQ_K}),
    scored AS (
      SELECT t.vec_id, t.s, cb.code,
             ROUND(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
                            i -> (t.sv[i] - cb.cv[i]) ^ 2)), 6) AS l2
      FROM sub t JOIN cb USING (s)
    ),
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY l2, code) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT q.vec_id AS query_id, q.s, cb.code,
             list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
                      i -> (q.sv[i] - cb.cv[i]) ^ 2)) AS d
      FROM sub q JOIN cb USING (s)
      WHERE q.vec_id IN ({_QID_LIST})
    ),
    adc AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, ROUND(sum(l.d), 6) AS adc_dist
      FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
      WHERE c.vec_id != l.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rank
      FROM adc
    ) WHERE rank <= {_ADC_K}
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the scoring half
    of the FAISS IVF-PQ architecture: the corpus exists ONLY as
    {_PQ_M}-byte codes; each query precomputes a distance LUT (query
    subvector → every codebook centroid: {_PQ_M}×{_PQ_K} rows per
    query) and a neighbor's distance is just {_PQ_M} LUT lookups
    summed — no corpus float is ever touched at query time. Physical
    shape: the LUT (queries × {_PQ_M} × {_PQ_K} ≈ 1.3k rows) is
    broadcast; the corpus code table joins it on (subspace, code) and
    collapses to (query, neighbor) partial sums map-side; per-query
    top-{_ADC_K} is a WindowGroupLimit. At 100 TB the code table is
    32× smaller than the float corpus — the difference between
    scanning 3 TB and 100 TB per query batch. Distances are rounded
    before ranking with an id tie-break, so engine float ulps can't
    reorder the cut."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sub = _pq_sub(d)
    cb = _pq_cb(sub)
    codes = _pq_codes(sub, cb)
    lut = _pq_lut(sub, cb, _QUERY_IDS)
    adc = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d"), 6).alias("adc_dist"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ADC_K)
        .withColumn("rank", F.col("rank").cast("long"))
    )


# --- IVF-PQ composition (r5): the actual 100 TB ANN deployment shape --------
# ann_ivf_trained_topk prunes WHICH vectors to score (probe nprobe
# trained centroid lists); pq_adc_topk makes scoring them cheap (8-byte
# codes + per-query LUT). This composes the two: ADC-score ONLY the
# probed lists' codes — FAISS's IVFPQ — plus the recall honesty metric
# vs exact brute force.


def _ivfpq_sql(k: int) -> str:
    """CTE chain: trained-IVF probe set -> candidate lists -> ADC
    scoring over PQ codes; emits ptop(query_id, neighbor_id, adc_dist,
    rank). Assumes v and q CTEs; reuses kmeans_sql's k{n}(cid, cemb)."""
    cents = f"k{_TRAIN_ITERS}"
    return f"""va AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid, row_number() OVER (
          PARTITION BY v.vec_id
          ORDER BY ROUND(CASE WHEN list_inner_product(v.emb, v.emb) = 0 OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL ELSE list_cosine_similarity(v.emb, c.cemb) END, 6) DESC, c.cid ASC
        ) AS rn FROM v, {cents} c) WHERE rn = 1
    ),
    vp AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid, row_number() OVER (
          PARTITION BY q.query_id
          ORDER BY ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, c.cemb) END, 6) DESC, c.cid ASC
        ) AS rn FROM q, {cents} c) WHERE rn <= {_NPROBE}
    ),
    sub AS (
      SELECT vec_id, s,
             list_slice(emb, s * {_PQ_DSUB} + 1, s * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
      FROM v CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s)
    ),
    cb AS (SELECT vec_id AS code, s, sv AS cv FROM sub WHERE vec_id < {_PQ_K}),
    pqs AS (
      SELECT t.vec_id, t.s, cb.code,
             ROUND(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
                            i -> (t.sv[i] - cb.cv[i]) ^ 2)), 6) AS l2
      FROM sub t JOIN cb USING (s)
    ),
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY l2, code) AS rn
        FROM pqs
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT qq.vec_id AS query_id, qq.s, cb.code,
             list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
                      i -> (qq.sv[i] - cb.cv[i]) ^ 2)) AS d
      FROM sub qq JOIN cb USING (s)
      WHERE qq.vec_id IN ({_QID_LIST})
    ),
    cand AS (
      SELECT vp.query_id, va.vec_id
      FROM vp JOIN va USING (cid)
      WHERE va.vec_id <> vp.query_id
    ),
    padc AS (
      SELECT c.query_id, c.vec_id AS neighbor_id, ROUND(sum(l.d), 6) AS adc_dist
      FROM cand c
      JOIN codes co ON co.vec_id = c.vec_id
      JOIN lut l ON l.query_id = c.query_id AND l.s = co.s AND l.code = co.code
      GROUP BY 1, 2
    ),
    ptop AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, neighbor_id) AS rank
        FROM padc
      ) WHERE rank <= {k}
    )"""


def _ivfpq_df(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Spark IVF-PQ top-k: trained centroids (cached — feeds assignment
    AND probes), inverted-list pruning, ADC scoring of the pruned
    candidate set only. Everything broadcastable stays broadcast
    (centroids, probe set, codebook, LUT); the corpus crosses the
    network once for assignment and once for the code join."""
    from pyspark.sql import Window

    from dataengineeringproject_spark.operators.similarity import (
        _cosine_pre,
        _with_norm,
        assign_nearest,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # cached: the cast corpus feeds Lloyd training (2 passes/iter), the
    # final list assignment, the PQ code build, and the LUT — an index
    # build reads its corpus many times, so persist it once (at full
    # parallelism: a one-row-group corpus would serialize every N×k
    # map stage to one task — see ensure_min_parallelism).
    d = S.ensure_min_parallelism(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        "vec_id",
    ).cache()
    cents = kmeans_centroids(
        d, "vec_id", init_mod=_CENTROID_MOD, n_iters=_TRAIN_ITERS
    ).cache()
    assign = assign_nearest(d, cents, "vec_id")
    qn = _with_norm(
        d.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        ),
        "qv",
        "__qn",
    )
    cents_n = _with_norm(cents, "cv", "__cn")
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("ccos"), F.asc("cid")
    )
    probes = (
        qn.crossJoin(F.broadcast(cents_n))
        .withColumn(
            "ccos",
            F.round(
                _cosine_pre(
                    F.col("qv"), F.col("cv"), F.col("__qn"), F.col("__cn")
                ),
                6,
            ),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= _NPROBE)
        .select("query_id", "cid")
    )
    sub = _pq_sub(d)
    cb = _pq_cb(sub)
    codes = _pq_codes(sub, cb)
    lut = _pq_lut(sub, cb, _QUERY_IDS)
    cand = (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d"), 6).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


@register(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    {S.kmeans_sql(_TRAIN_ITERS, _CENTROID_MOD)},
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id IN ({_QID_LIST})),
    {_ivfpq_sql(_ADC_K)}
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS BIGINT) AS rank FROM ptop
    """,
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-{_ADC_K}: probe the {_NPROBE} nearest Lloyd-trained
    centroid lists per query, then ADC-score ONLY those lists' {_PQ_M}-
    byte codes against the per-query LUT. At 100 TB this is THE
    deployment shape: list pruning cuts candidates to ~nprobe/C of the
    corpus, PQ cuts bytes-per-candidate 32x, so query cost is
    (nprobe/C) x (1/32) of a brute-force float scan — with recall
    measured honestly by ann_recall_trained_ivfpq. ADC distances are
    rounded before ranking with an id tie-break (engine-exact cut)."""
    return _ivfpq_df(spark, sf_dir, _ADC_K)


@register(
    "ann_recall_trained_ivfpq",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    {S.kmeans_sql(_TRAIN_ITERS, _CENTROID_MOD)},
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id IN ({_QID_LIST})),
    {_ivfpq_sql(_ADC_K)},
    es AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.vec_id <> q.query_id
    ),
    etop AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM es
      ) WHERE rank <= {_ADC_K}
    ),
    hits AS (
      SELECT e.query_id, count(*) AS n_hits
      FROM etop e JOIN ptop p USING (query_id, neighbor_id)
      GROUP BY e.query_id
    )
    SELECT q.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) * 1e0 / {_ADC_K}e0, 6) AS recall
    FROM (SELECT DISTINCT query_id FROM etop) q
    LEFT JOIN hits h USING (query_id)
    """,
)
def ann_recall_trained_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_ADC_K} of the composed IVF-PQ path against the exact
    cosine top-{_ADC_K} (cosine_topk machinery) — the honesty metric
    that closes the loop: IVF pruning loses candidates outside probed
    lists, PQ loses precision to 8-byte codes (and ranks by L2 while
    the ground truth ranks by cosine), and this reports exactly how
    much, per query. The number a 100 TB deployment tunes nprobe /
    codebook size against. Truth side is anchor-bounded (fixed
    broadcast query set × one corpus scan, O(|Q|·n)) — scalable, not
    diagnostic."""
    ivfpq = _ivfpq_df(spark, sf_dir, _ADC_K)
    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, "vec_id", "embedding", _QUERY_IDS, k=_ADC_K)
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(ivfpq.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qs = exact.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce("n_hits", F.lit(0)) * F.lit(1.0) / _ADC_K, 6
        ).alias("recall"),
    )


# --- Reciprocal-rank fusion (r4): dense + sparse hybrid retrieval -----------

_RRF_C = 60          # the standard RRF dampening constant
_RRF_POOL = 20       # per-arm candidate pool
_RRF_TOPK = 10
_RRF_QUERIES = {0: "spark", 1: "join", 2: "table"}  # vec_id -> keyword


def _rrf_oracle() -> str:
    from dataengineeringproject_spark.functions.text import tokens_sql

    qvals = ", ".join(f"({qid}, '{t}')" for qid, t in _RRF_QUERIES.items())
    qids = ", ".join(str(q) for q in _RRF_QUERIES)
    ltoks = tokens_sql("lower(d.text)")
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM v
          WHERE vec_id IN ({qids})),
    dense AS (
      SELECT query_id, doc_id, rank_d FROM (
        SELECT q.query_id, v.vec_id AS doc_id, row_number() OVER (
          PARTITION BY q.query_id
          ORDER BY ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) DESC,
                   v.vec_id ASC) AS rank_d
        FROM q JOIN v ON v.vec_id <> q.query_id
      ) WHERE rank_d <= {_RRF_POOL}
    ),
    terms(query_id, term) AS (VALUES {qvals}),
    sparse AS (
      SELECT query_id, doc_id, rank_s FROM (
        SELECT x.query_id, x.doc_id, row_number() OVER (
          PARTITION BY x.query_id ORDER BY x.tf DESC, x.doc_id ASC) AS rank_s
        FROM (
          SELECT d.doc_id, t.query_id,
                 len(list_filter({ltoks}, w -> w = t.term)) AS tf
          FROM documents d CROSS JOIN terms t
        ) x
        WHERE x.tf > 0 AND x.doc_id <> x.query_id
      ) WHERE rank_s <= {_RRF_POOL}
    ),
    fused AS (
      SELECT coalesce(dense.query_id, sparse.query_id) AS query_id,
             coalesce(dense.doc_id, sparse.doc_id) AS doc_id,
             ROUND(coalesce(1e0 / ({_RRF_C} + rank_d), 0e0)
                   + coalesce(1e0 / ({_RRF_C} + rank_s), 0e0), 6) AS rrf
      FROM dense FULL OUTER JOIN sparse
        ON dense.query_id = sparse.query_id AND dense.doc_id = sparse.doc_id
    )
    SELECT query_id, doc_id, rrf, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
      FROM fused
    ) WHERE rank <= {_RRF_TOPK}
    """


@register("rrf_fusion_topk", oracle=_rrf_oracle())
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.):
    fuse a DENSE arm (exact cosine over `embeddings`, the cosine_topk
    machinery) with a SPARSE arm (keyword term-frequency over the
    id-aligned `documents`) per query; rrf = sum over arms of
    1/({_RRF_C}+rank). This is the standard RAG retrieval stack shape
    — vector index + keyword index merged by rank, immune to the
    arms' incomparable score scales. Physical shape: each arm is a
    broadcast-query-side scan producing a per-query top-{_RRF_POOL}
    pool (window over candidates; the sparse arm filters tf > 0 BEFORE
    ranking so the window never sees non-matching docs); the fusion is
    a full outer join of two <= |Q|x{_RRF_POOL}-row frames — trivially
    broadcastable at any corpus size. Rank arithmetic only (integer
    ranks into 1/(c+r)), so fusion scores are engine-exact; the dense
    ranks inherit cosine_topk's ROUND-then-rank determinism."""
    from pyspark.sql import Window

    from dataengineeringproject_spark.functions.text import tokens
    from dataengineeringproject_spark.schemas import load_table as _lt

    emb = load_table(spark, sf_dir, "embeddings")
    dense = (
        S.cosine_topk(
            emb, "vec_id", "embedding", list(_RRF_QUERIES), k=_RRF_POOL
        )
        .select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("rank_d"),
        )
    )
    docs = _lt(spark, sf_dir, "documents")
    terms = local_df(
        spark, list(_RRF_QUERIES.items()), "query_id long, term string"
    )
    cand = (
        docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
        .crossJoin(F.broadcast(terms))
        .select(
            "query_id",
            "doc_id",
            F.size(F.filter("toks", lambda w: w == F.col("term"))).alias("tf"),
        )
        .filter((F.col("tf") > 0) & (F.col("doc_id") != F.col("query_id")))
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("tf"), F.asc("doc_id"))
    sparse = (
        cand.withColumn("rank_s", F.row_number().over(ws))
        .filter(F.col("rank_s") <= _RRF_POOL)
        .select("query_id", "doc_id", "rank_s")
    )
    fused = (
        dense.join(sparse, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (_RRF_C + F.col("rank_d")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (_RRF_C + F.col("rank_s")), F.lit(0.0)
                ),
                6,
            ).alias("rrf"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= _RRF_TOPK)
    )


# --- k-means cluster observability (r5) --------------------------------------


@register(
    "kmeans_cluster_stats",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    {S.kmeans_sql(_TRAIN_ITERS, _CENTROID_MOD)},
    a AS (
      SELECT vec_id, cid, ccos FROM (
        SELECT v.vec_id, c.cid,
               ROUND(CASE WHEN list_inner_product(v.emb, v.emb) = 0 OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL ELSE list_cosine_similarity(v.emb, c.cemb) END, 6) AS ccos,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY ROUND(CASE WHEN list_inner_product(v.emb, v.emb) = 0 OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL ELSE list_cosine_similarity(v.emb, c.cemb) END, 6) DESC,
                          c.cid ASC) AS rn
        FROM v, k{_TRAIN_ITERS} c) WHERE rn = 1
    )
    SELECT CAST(cid AS BIGINT) AS cid,
           CAST(count(*) AS BIGINT) AS n_members,
           ROUND(sum(CAST(ROUND(ccos * 1e6, 0) AS BIGINT)) * 1e0
                 / count(*) / 1e6, 6) AS avg_cos,
           ROUND(min(ccos), 6) AS min_cos
    FROM a GROUP BY 1
    """,
)
def kmeans_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-health observability for the trained-IVF family: per
    Lloyd-trained cluster, the member count and the mean/worst member
    cohesion (rounded cosine to the owning centroid — the quantity
    k-means maximizes). This is what an ANN deployment monitors to
    retrain or re-shard: skewed n_members means hot inverted lists
    (probe cost variance), falling avg_cos/min_cos means the corpus
    drifted off the codebook and recall will sag at fixed nprobe.
    Same cached-corpus/cached-centroid physical shape as the index
    build itself: one broadcast-join assignment pass, then a
    map-side-combined aggregate over (cid) — cluster count rows out."""
    from dataengineeringproject_spark.operators.similarity import (
        _cosine_pre,
        _with_norm,
        ensure_min_parallelism,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    d = ensure_min_parallelism(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        "vec_id",
    ).cache()
    cents = kmeans_centroids(
        d, "vec_id", init_mod=_CENTROID_MOD, n_iters=_TRAIN_ITERS
    ).cache()
    vn = _with_norm(d, "v", "__vn")
    cn = _with_norm(cents, "cv", "__cn")
    # argmin via map-side-combining min(struct) — assign_nearest's r11
    # shape, with ccos riding as a THIRD struct field (cid is unique,
    # so it never decides the comparison; it just travels with the
    # winner, preserving the window version's exact output values).
    # ccos is projected in its OWN select stage (ADVICE r11): an
    # interpreted-HOF expression referenced twice in one projection is
    # evaluated twice over the N×k expanded frame, and CollapseProject
    # keeps a non-cheap producer used >1x in its own stage, so the
    # two-select shape halves the dominant per-row cost. __neg then
    # derives from the materialized column, with assign_nearest's NaN
    # sentinel (nanvl -> -inf) so the argmin matches the oracle's
    # NaN-first row_number ranking.
    ccos = F.round(
        _cosine_pre(F.col("v"), F.col("cv"), F.col("__vn"), F.col("__cn")),
        6,
    )
    a = (
        vn.crossJoin(F.broadcast(cn))
        .select("vec_id", "cid", ccos.alias("ccos"))
        .select(
            "vec_id",
            F.coalesce(
                F.nanvl(-F.col("ccos"), F.lit(float("-inf"))),
                F.lit(float("inf")),
            ).alias("__neg"),
            "cid",
            "ccos",
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("__neg", "cid", "ccos")).alias("__b"))
        .select(
            "vec_id",
            F.col("__b.cid").alias("cid"),
            F.col("__b.ccos").alias("ccos"),
        )
    )
    # mean over INTEGER micro-units: summing the 6dp-rounded cosines
    # as doubles is summation-order-sensitive at the 6th digit (a
    # parallel engine and DuckDB disagree by 1 ulp on ~1-in-10^6
    # groups); integer sums are order-independent and exact.
    units = F.round(F.col("ccos") * F.lit(1e6), 0).cast("long")
    return a.groupBy(F.col("cid").cast("long").alias("cid")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(
            F.sum(units) * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1e6), 6
        ).alias("avg_cos"),
        F.round(F.min("ccos"), 6).alias("min_cos"),
    )


# --- domain centroids + prototypical documents (r5) --------------------------

_DC_TOPK = 3


@register(
    "domain_centroid_topk",
    oracle=f"""
    WITH v AS (
      SELECT e.vec_id, d.source, CAST(e.embedding AS DOUBLE[]) AS emb
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ),
    m AS (
      SELECT source, pos, avg(val) AS val FROM (
        SELECT source, unnest(emb) AS val,
               unnest(range(1, len(emb) + 1)) AS pos
        FROM v
      ) GROUP BY 1, 2
    ),
    c AS (
      SELECT source, list(ROUND(val, 6) ORDER BY pos) AS cv
      FROM m GROUP BY 1
    ),
    scored AS (
      SELECT v.source, v.vec_id AS doc_id,
             ROUND(CASE WHEN list_inner_product(v.emb, v.emb) = 0 OR list_inner_product(c.cv, c.cv) = 0 THEN NULL ELSE list_cosine_similarity(v.emb, c.cv) END, 6) AS cosine
      FROM v JOIN c USING (source)
    )
    SELECT source, doc_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY cosine DESC, doc_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {_DC_TOPK}
    """,
)
def domain_centroid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain embedding centroids and each domain's most
    PROTOTYPICAL documents — the curation pass that labels what a
    corpus slice is about in embedding space (complementing
    topic_terms_ctfidf's term-space answer) and flags drifted slices
    when centroid cohesion falls. Mean-pooling is the same
    (source, dim)-keyed shuffle as Lloyd's centroid step (one
    map-side-combined avg over the exploded dims; centroids rounded to
    6dp so engine float ulps can't move the pooled vector), centroids
    broadcast back onto their members for the rounded cosine, and the
    per-domain top-{_DC_TOPK} is a WindowGroupLimit. At 100 TB the
    centroid table is |domains| rows — the broadcast never grows with
    the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).join(docs, F.col("vec_id") == F.col("doc_id")).select(
        "vec_id", "source", "emb"
    )
    m = (
        v.select("source", F.posexplode("emb").alias("pos", "val"))
        .groupBy("source", "pos")
        .agg(F.avg("val").alias("val"))
    )
    c = m.groupBy("source").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "val"))),
            lambda s: F.round(s["val"], 6),
        ).alias("cv")
    )
    from dataengineeringproject_spark.operators.similarity import cosine

    scored = v.join(F.broadcast(c), "source").select(
        "source",
        F.col("vec_id").alias("doc_id"),
        F.round(cosine(F.col("emb"), F.col("cv")), 6).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("cosine"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _DC_TOPK)
        .withColumn("rank", F.col("rank").cast("long"))
    )


# --- SemDeDup: semantic dedup inside learned clusters (r5) --------------------

_SEM_T = 0.35  # same near-dup cosine bar as dedup_embedding_cosine


@register(
    "dedup_semantic",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    {S.kmeans_sql(_TRAIN_ITERS, _CENTROID_MOD)},
    a AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid, row_number() OVER (
          PARTITION BY v.vec_id
          ORDER BY ROUND(CASE WHEN list_inner_product(v.emb, v.emb) = 0 OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL ELSE list_cosine_similarity(v.emb, c.cemb) END, 6) DESC, c.cid ASC
        ) AS rn FROM v, k{_TRAIN_ITERS} c) WHERE rn = 1
    ),
    dups AS (
      SELECT DISTINCT y.vec_id
      FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN v vx ON vx.vec_id = x.vec_id
      JOIN v vy ON vy.vec_id = y.vec_id
      WHERE ROUND(CASE WHEN list_inner_product(vx.emb, vx.emb) = 0 OR list_inner_product(vy.emb, vy.emb) = 0 THEN NULL ELSE list_cosine_similarity(vx.emb, vy.emb) END, 6) >= {_SEM_T}e0
    )
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid,
           a.vec_id IN (SELECT vec_id FROM dups) AS is_dup
    FROM a
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    the embedding space, then mark as duplicates the documents that
    have a SAME-CLUSTER neighbor with cosine >= {_SEM_T} and a smaller
    id (keep-lowest-id, the paper's keep-one convention). The learned
    clusters play the role LSH buckets play in dedup_embedding_cosine,
    with two scale advantages: buckets are TIGHT (semantically close
    vectors land together, so the same pairwise budget buys higher
    near-dup recall), and cluster count is a tunable knob (init_mod /
    trained k) rather than a fixed hash width. Physical shape: Lloyd
    training (broadcast-join assignment + (cid, dim) shuffle per
    iteration), one assignment pass, then a per-cluster self-join whose
    work is sum of cluster-size^2 — never corpus^2; the duplicate-id
    frame is a broadcast left join at the end. Output: every vector
    with its cluster and duplicate flag (survivors = NOT is_dup)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = S.ensure_min_parallelism(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        "vec_id",
    ).cache()
    cents = S.kmeans_centroids(
        d, "vec_id", init_mod=_CENTROID_MOD, n_iters=_TRAIN_ITERS
    )
    assign = S.assign_nearest(d, cents, "vec_id").cache()
    vn = S._with_norm(d, "v", "__n")
    side = assign.join(vn, "vec_id")
    x = side.select(
        F.col("cid"), F.col("vec_id").alias("ia"),
        F.col("v").alias("va"), F.col("__n").alias("na"),
    )
    y = side.select(
        F.col("cid"), F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"), F.col("__n").alias("nb"),
    )
    dups = (
        x.join(y, "cid")
        .filter(F.col("ia") < F.col("ib"))
        .filter(
            F.round(
                S._cosine_pre(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                6,
            )
            >= _SEM_T
        )
        .select(F.col("ib").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return assign.join(F.broadcast(dups), "vec_id", "left").select(
        "vec_id",
        F.col("cid").cast("long").alias("cid"),
        F.coalesce("__dup", F.lit(False)).alias("is_dup"),
    )


# --- Matryoshka truncation recall (r5) ---------------------------------------

_MRL_DIMS = 16  # retrieval prefix: first 16 of the 64 dims


@register(
    "ann_recall_matryoshka",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    t AS (SELECT vec_id, emb[1:{_MRL_DIMS}] AS emb FROM v),
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id IN ({_QID_LIST})),
    qt AS (SELECT vec_id AS query_id, emb AS qemb FROM t WHERE vec_id IN ({_QID_LIST})),
    es AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.vec_id <> q.query_id
    ),
    etop AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM es) WHERE rank <= 3
    ),
    ts AS (
      SELECT qt.query_id, t.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(qt.qemb, qt.qemb) = 0 OR list_inner_product(t.emb, t.emb) = 0 THEN NULL ELSE list_cosine_similarity(qt.qemb, t.emb) END, 6) AS cosine
      FROM qt JOIN t ON t.vec_id <> qt.query_id
    ),
    ttop AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM ts) WHERE rank <= 3
    ),
    hits AS (
      SELECT e.query_id, count(*) AS n_hits
      FROM etop e JOIN ttop t USING (query_id, neighbor_id)
      GROUP BY e.query_id
    )
    SELECT q.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / 3.0, 6) AS recall
    FROM (SELECT DISTINCT query_id FROM etop) q
    LEFT JOIN hits h USING (query_id)
    """,
)
def ann_recall_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of retrieval over the TRUNCATED embedding prefix (first
    {_MRL_DIMS} of {_N_DIMS} dims — the Matryoshka representation
    deployment: store/scan a short prefix, rerank the shortlist with
    full vectors) against the full-dimension exact top-3. The honesty
    metric that prices the 4x scan/memory cut: at 100 TB the prefix
    index is the tier that fits in cluster memory, and this query is
    how a deployment decides which prefix length holds recall. Same
    broadcast-query / streamed-corpus shape as cosine_topk, run at
    both widths; truth side anchor-bounded (O(|Q|·n)) — scalable, not
    diagnostic."""
    emb = load_table(spark, sf_dir, "embeddings")
    full = emb.select("vec_id", "embedding")
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("embedding")
    )
    exact = S.cosine_topk(full, "vec_id", "embedding", _QUERY_IDS, k=3)
    approx = S.cosine_topk(trunc, "vec_id", "embedding", _QUERY_IDS, k=3)
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 3.0, 6).alias("recall"),
        )
    )


# --- PCA top component via in-plan power iteration (r5) -----------------------
# Fourth member of the iterative in-plan family (Lloyd k-means, the BPE
# trainer, PageRank): k unrolled power iterations v <- C.v / ||C.v||
# over the embedding covariance matrix, no driver collect.

_PCA_ITERS = 8
_PCA_V0 = "[" + ", ".join(["0.125e0"] * _N_DIMS) + "]"  # 1/sqrt(64), exact


def _pca_oracle(k: int) -> str:
    sql = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    qz AS (SELECT vec_id,
                  list_transform(emb, x -> CAST(round(x * 1e3) AS BIGINT)) AS q
           FROM v),
    t AS (SELECT vec_id, unnest(q) AS qv,
                 unnest(range(0, {_N_DIMS})) AS i FROM qz),
    n AS (SELECT count(*) AS nr FROM qz),
    sm AS (SELECT i, sum(qv) AS s FROM t GROUP BY 1),
    pr AS (
      SELECT a.i AS i, b.i AS j, sum(a.qv * b.qv) AS sp
      FROM t a JOIN t b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY 1, 2
    ),
    cov AS (
      SELECT pr.i, pr.j,
             CAST(sp AS DOUBLE) / nr / 1e6
             - (CAST(sa.s AS DOUBLE) / nr / 1e3)
               * (CAST(sb.s AS DOUBLE) / nr / 1e3) AS c
      FROM pr CROSS JOIN n
      JOIN sm sa ON sa.i = pr.i
      JOIN sm sb ON sb.i = pr.j
    ),
    covf AS (SELECT i, j, c FROM cov
             UNION ALL SELECT j, i, c FROM cov WHERE i <> j),
    crow AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS arr FROM covf GROUP BY 1),
    v0 AS (SELECT {_PCA_V0} AS arr)"""
    for it in range(1, k + 1):
        # MATERIALIZED: w{it} is consumed twice (norm + next vector);
        # DuckDB re-evaluates plain CTEs per reference, which would
        # re-run the whole chain 2^k times (measured: ~170 s at k=8
        # vs ~1 s materialized).
        sql += f""",
    w{it} AS MATERIALIZED (
      SELECT crow.i,
             CAST(round(list_dot_product(crow.arr, v{it - 1}.arr) * 1e6)
                  AS BIGINT) AS wu
      FROM crow, v{it - 1}
    ),
    n{it} AS (SELECT sqrt(CAST(sum(wu * wu) AS DOUBLE)) / 1e6 AS nrm
              FROM w{it})"""
        if it < k:
            sql += f""",
    v{it} AS (
      SELECT list(round((CAST(wu AS DOUBLE) / 1e6) / nrm, 6) ORDER BY i) AS arr
      FROM w{it}, n{it}
    )"""
    sql += f"""
    SELECT CAST(w{k}.i AS BIGINT) AS dim,
           round((CAST(wu AS DOUBLE) / 1e6) / nrm, 6) AS loading,
           round(nrm, 6) AS lambda1
    FROM w{k}, n{k}
    """
    return sql


@staged("embeddings")
def _staged_pca_cov(spark: SparkSession, sf_dir: str) -> str:
    """Stage the covariance matrix ONCE per corpus as a parquet table
    of (i, j, c) cells — the shared SUFFICIENT STATISTIC every PCA
    report (power iteration, deflation, variance-explained, corpus
    projection) is downstream of. Same staged-model-artifact pattern
    as the dedup signature index and the IVF codebook: production
    computes corpus statistics in one nightly pass and every report
    reads the table; re-deriving the covariance per report would scan
    the corpus once per consumer. Deterministic by construction: every
    cell is a double expression over EXACT integer sums (Σq, Σq·q,
    n — order- and partitioning-invariant), so the staged values are
    bit-identical to an inline recomputation, and the DuckDB oracles
    keep recomputing from the raw corpus — an independent derivation,
    which makes the differential check stronger, not weaker."""
    cells = _compute_pca_cov_cells(spark, sf_dir)
    d = scratch_dir("deps_pca_cov_")
    cells.write.mode("overwrite").parquet(d)
    return d


def _pca_cov_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance cells (i, j, c), read from the staged per-corpus
    parquet table (_staged_pca_cov) — consumers never re-scan the
    embedding corpus."""
    return spark.read.parquet(_staged_pca_cov(spark, sf_dir))


def _compute_pca_cov_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full covariance matrix as (i, j, c) cells from exact fixed-point
    integer sums (see pca_power_iteration docstring): one corpus pass,
    upper-triangle pair products aggregated map-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    qz = emb.select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * F.lit(1e3)).cast("long"),
        ).alias("q")
    ).localCheckpoint()  # eager: one materialization feeds all three consumers
    n = qz.agg(F.count(F.lit(1)).alias("nr"))
    t = qz.select(F.posexplode("q").alias("i", "qv"))
    sm = t.groupBy("i").agg(F.sum("qv").alias("s"))
    pairs = qz.select(
        F.explode(
            F.expr(
                "flatten(transform(q, (x, i) -> "
                f"transform(slice(q, i + 1, {_N_DIMS}), (y, k) -> "
                "struct(i AS i, i + k AS j, x * y AS p))))"
            )
        ).alias("e")
    )
    pr = (
        pairs.select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sp"))
    )
    sa = sm.select(F.col("i").alias("i"), F.col("s").alias("s_a"))
    sb = sm.select(F.col("i").alias("j"), F.col("s").alias("s_b"))
    cov = (
        pr.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i", "j",
            (
                F.col("sp").cast("double") / F.col("nr") / F.lit(1e6)
                - (F.col("s_a").cast("double") / F.col("nr") / F.lit(1e3))
                * (F.col("s_b").cast("double") / F.col("nr") / F.lit(1e3))
            ).alias("c"),
        )
    )
    return cov.unionAll(
        cov.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "c"
        )
    )


def _pca_rows(cells: DataFrame) -> DataFrame:
    """(i, j, c) cells -> (i, arr) ordered covariance rows."""
    return cells.groupBy("i").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "c"))),
            lambda s: s["c"],
        ).alias("arr")
    )


# Constant-0-but-column-derived window key: Spark would constant-fold a
# literal partition key and log the unpartitioned-window warning 2k
# times per run; the single partition holds _N_DIMS rows either way.
def _one_window():
    from pyspark.sql import Window

    return Window.partitionBy(F.col("i") % 1)


def _pca_iterate(
    crow: DataFrame, vf: DataFrame, iters: int, checkpoint: bool = False
) -> DataFrame:
    """Run `iters` round-stabilized power iterations of crow against the
    1-row start-vector frame vf(varr); returns the final matvec frame
    (i, wu, nrm). Each iteration references its predecessor exactly
    ONCE (norm as a window column) so the unrolled lineage stays
    linear — a frame consumed twice per level would re-execute the
    base plan 2^k times.

    checkpoint=True eagerly localCheckpoints the 1-row vector frame
    each iteration — the textbook lineage truncation for iterative
    algorithms (PageRank's docstring prescribes the same at scale).
    Without it each broadcast of v_t re-executes v_{t-1}'s broadcast
    subplan recursively: fine when the only upstream is one cached
    64-row frame (single-component query, O(k²) tiny stages), but a
    chain whose base is ITSELF an iterated product (the deflated
    matrix) multiplies those rebuilds — measured 42 s → ~4 s on the
    two-component query."""
    from dataengineeringproject_spark.operators.similarity import _dot

    one = _one_window()
    w = None
    for it in range(iters):
        w = (
            crow.crossJoin(F.broadcast(vf))
            .select(
                "i",
                F.round(_dot(F.col("arr"), F.col("varr")) * F.lit(1e6))
                .cast("long")
                .alias("wu"),
            )
            .withColumn(
                "nrm",
                F.sqrt(
                    F.sum(F.col("wu") * F.col("wu")).over(one).cast("double")
                )
                / F.lit(1e6),
            )
        )
        if it < iters - 1:
            vf = _pca_unit(w)
            if checkpoint:
                vf = vf.localCheckpoint(eager=True)
    return w


def _pca_unit(w: DataFrame) -> DataFrame:
    """Final matvec frame -> 1-row unit-vector frame (varr), entries
    rounded to 6dp (the round-stabilization step)."""
    return (
        w.select(
            F.struct(
                "i",
                F.round(
                    (F.col("wu").cast("double") / F.lit(1e6)) / F.col("nrm"),
                    6,
                ).alias("l"),
            ).alias("s")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list("s")), lambda s: s["l"]
            ).alias("varr")
        )
    )


def _pca_v0(spark: SparkSession) -> DataFrame:
    return spark.range(1).select(
        F.array(*[F.lit(0.125)] * _N_DIMS).alias("varr")
    )


@register("pca_power_iteration", oracle=_pca_oracle(_PCA_ITERS))
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding covariance by
    {_PCA_ITERS} unrolled power iterations, entirely in the plan.

    Exactness strategy (what makes a float eigensolver value-hash
    reproducible across engines): the covariance is built from
    fixed-point integer sums — q = round(x*1e3), S_ij = sum(q_i*q_j),
    s_i = sum(q_i) are exact integer aggregates, order-independent
    under any parallel summation, so C_ij = S_ij/n/1e6 -
    (s_i/n/1e3)(s_j/n/1e3) is a deterministic double on both engines
    (exact while S_ij < 2^53: holds beyond 1e9 rows at this scale).
    Each iteration rounds the matvec to integer micro-units
    (wu = round((C.v)*1e6)), computes the norm from the EXACT integer
    sum of wu^2, and re-rounds the unit vector to 6dp — the same
    round-stabilization Lloyd/PageRank use, so engine ulps cannot
    compound across iterations.

    Scale posture: the moment pass explodes each row to the
    {_N_DIMS}*({_N_DIMS}+1)/2 upper-triangle products and map-side
    combines to (i, j) cells — the canonical Gram-matrix outer-product
    shuffle whose reduce side is dims^2 rows regardless of corpus
    size; every iteration after it runs on the {_N_DIMS}-row cached
    covariance frame (broadcast x broadcast). Sign is whatever the
    all-ones start converges to — deterministic, both engines
    identical. Output: per-dim loading of the unit eigenvector plus
    the Rayleigh estimate lambda1 = ||C.v|| (variance explained along
    the component)."""
    cells = _pca_cov_cells(spark, sf_dir)
    crow = _pca_rows(cells).cache()
    # checkpoint=False here: with the base matrix already cached, the
    # O(k²) broadcast rebuilds are tiny-stage cheap, while 2(k-1) eager
    # checkpoint jobs cost ~5 s on a cold first run (measured 8.0 s vs
    # 3.0 s first-execution at sf0.1; warm equal). The deflation query
    # checkpoints because its second chain's base is itself iterated.
    w = _pca_iterate(crow, _pca_v0(spark), _PCA_ITERS)
    return w.select(
        F.col("i").cast("long").alias("dim"),
        F.round(
            (F.col("wu").cast("double") / F.lit(1e6)) / F.col("nrm"), 6
        ).alias("loading"),
        F.round("nrm", 6).alias("lambda1"),
    )


# --- hard-negative mining for contrastive training data (r5) ------------------

_HNM_K = 5


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH v AS (
      SELECT e.vec_id, d.source, CAST(e.embedding AS DOUBLE[]) AS emb
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ),
    q AS (SELECT vec_id AS query_id, source AS q_source, emb AS qemb
          FROM v WHERE vec_id IN ({_QID_LIST})),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, v.source AS neg_source,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.source <> q.q_source
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, neg_source, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {_HNM_K}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for contrastive training: for each anchor, the
    top-{_HNM_K} most-similar documents from a DIFFERENT source — the
    in-batch-negatives upgrade every embedding/reranker training
    pipeline mines (high-cosine cross-domain neighbors are the
    gradient-rich negatives; random negatives are too easy). Shape:
    anchor side is a tiny broadcast (ids + sources), the corpus
    streams through one inequality join, per-anchor top-k is a
    WindowGroupLimit — identical scale posture to cosine_topk, and at
    100 TB the same IVF/PQ index that serves ANN serves this mining
    pass (swap the brute-force scan for ann_ivfpq_topk's probe)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    v = S._with_norm(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ).join(docs, F.col("vec_id") == F.col("doc_id"))
        .select("vec_id", "source", "v")
    )
    q = v.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("source").alias("q_source"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    scored = v.join(
        F.broadcast(q), F.col("source") != F.col("q_source")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("source").alias("neg_source"),
        F.round(
            S._cosine_pre(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")),
            6,
        ).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HNM_K)
        .withColumn("rank", F.col("rank").cast("long"))
    )


# --- per-dimension standardization (feature preprocessing, r5) ---------------


@register(
    "embedding_standardize",
    oracle=f"""
    WITH qz AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1e3) AS BIGINT)) AS q
      FROM embeddings
    ),
    t AS (SELECT vec_id, unnest(q) AS qv,
                 unnest(range(0, {_N_DIMS})) AS i FROM qz),
    st AS (
      SELECT i, count(*) AS n, sum(qv) AS s, sum(qv * qv) AS ss FROM t GROUP BY 1
    )
    SELECT t.vec_id, CAST(t.i AS BIGINT) AS i,
           round((t.qv - CAST(st.s AS DOUBLE) / st.n)
                 / NULLIF(sqrt(CAST(st.ss AS DOUBLE) / st.n
                               - (CAST(st.s AS DOUBLE) / st.n)
                                 * (CAST(st.s AS DOUBLE) / st.n)), 0), 6)
             AS z
    FROM t JOIN st USING (i)
    """,
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus —
    the feature-preprocessing pass in front of k-means/PCA/quantization
    when dimensions carry unequal variance (whitening's diagonal
    half). Statistics come from the SAME exact fixed-point integer
    sums as pca_power_iteration (q = round(x*1e3); n, Σq, Σq² per dim
    are order-independent integer aggregates), so mean/std — and
    therefore every standardized value — are engine-identical doubles.
    Shape: one posexplode aggregate map-side-combines to {_N_DIMS}
    stat rows, broadcast-joined back onto the exploded corpus — no
    second shuffle. Output is the EXPLODED long form (vec_id, i, z),
    one row per (vector, dimension): the shape a feature store ingests
    and the shape the driver's canonicalizer can hash (array-typed
    output columns crashed its pandas sort in round 6)."""
    emb = load_table(spark, sf_dir, "embeddings")
    t = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * F.lit(1e3)).cast("long"),
            )
        ).alias("i", "qv"),
    )
    st = t.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").alias("s"),
        F.sum(F.col("qv") * F.col("qv")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(F.col("ss").cast("double") / F.col("n") - mean * mean)
    stats = st.select("i", mean.alias("m"), sd.alias("sd"))
    # try_divide: a CONSTANT dimension (real corpora: padding dims) has
    # sd = 0 — its z is NULL instead of an ANSI DIVIDE_BY_ZERO abort
    # (matches the oracle's NULLIF(sd, 0)).
    return t.join(F.broadcast(stats), "i").select(
        "vec_id",
        F.col("i").cast("long").alias("i"),
        F.round(
            F.try_divide(F.col("qv") - F.col("m"), F.col("sd")), 6
        ).alias("z"),
    )


# --- second principal component via Hotelling deflation (r5 continuation) ----


def _pca2_oracle(k: int) -> str:
    sql = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    qz AS (SELECT vec_id,
                  list_transform(emb, x -> CAST(round(x * 1e3) AS BIGINT)) AS q
           FROM v),
    t AS (SELECT vec_id, unnest(q) AS qv,
                 unnest(range(0, {_N_DIMS})) AS i FROM qz),
    n AS (SELECT count(*) AS nr FROM qz),
    sm AS (SELECT i, sum(qv) AS s FROM t GROUP BY 1),
    pr AS (
      SELECT a.i AS i, b.i AS j, sum(a.qv * b.qv) AS sp
      FROM t a JOIN t b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY 1, 2
    ),
    cov AS (
      SELECT pr.i, pr.j,
             CAST(sp AS DOUBLE) / nr / 1e6
             - (CAST(sa.s AS DOUBLE) / nr / 1e3)
               * (CAST(sb.s AS DOUBLE) / nr / 1e3) AS c
      FROM pr CROSS JOIN n
      JOIN sm sa ON sa.i = pr.i
      JOIN sm sb ON sb.i = pr.j
    ),
    covf AS MATERIALIZED (SELECT i, j, c FROM cov
             UNION ALL SELECT j, i, c FROM cov WHERE i <> j),
    crow AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS arr FROM covf GROUP BY 1),
    v0 AS (SELECT {_PCA_V0} AS arr)"""
    for it in range(1, k + 1):
        sql += f""",
    w{it} AS MATERIALIZED (
      SELECT crow.i,
             CAST(round(list_dot_product(crow.arr, v{it - 1}.arr) * 1e6)
                  AS BIGINT) AS wu
      FROM crow, v{it - 1}
    ),
    n{it} AS (SELECT sqrt(CAST(sum(wu * wu) AS DOUBLE)) / 1e6 AS nrm
              FROM w{it}),
    v{it} AS (
      SELECT list(round((CAST(wu AS DOUBLE) / 1e6) / nrm, 6) ORDER BY i) AS arr
      FROM w{it}, n{it}
    )"""
    sql += f""",
    ve AS (SELECT unnest(arr) AS vv, unnest(range(0, {_N_DIMS})) AS i FROM v{k}),
    lam AS (SELECT round(nrm, 6) AS l FROM n{k}),
    cell2 AS (
      SELECT f.i, f.j, f.c - lam.l * a.vv * b.vv AS c
      FROM covf f CROSS JOIN lam
      JOIN ve a ON a.i = f.i
      JOIN ve b ON b.i = f.j
    ),
    drow AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS arr FROM cell2 GROUP BY 1),
    d0 AS (SELECT {_PCA_V0} AS arr)"""
    for it in range(1, k + 1):
        sql += f""",
    dw{it} AS MATERIALIZED (
      SELECT drow.i,
             CAST(round(list_dot_product(drow.arr, d{it - 1}.arr) * 1e6)
                  AS BIGINT) AS wu
      FROM drow, d{it - 1}
    ),
    dn{it} AS (SELECT sqrt(CAST(sum(wu * wu) AS DOUBLE)) / 1e6 AS nrm
               FROM dw{it})"""
        if it < k:
            sql += f""",
    d{it} AS (
      SELECT list(round((CAST(wu AS DOUBLE) / 1e6) / nrm, 6) ORDER BY i) AS arr
      FROM dw{it}, dn{it}
    )"""
    sql += f"""
    SELECT CAST(1 AS BIGINT) AS component, CAST(w{k}.i AS BIGINT) AS dim,
           round((CAST(wu AS DOUBLE) / 1e6) / nrm, 6) AS loading,
           round(nrm, 6) AS lam
    FROM w{k}, n{k}
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(dw{k}.i AS BIGINT),
           round((CAST(wu AS DOUBLE) / 1e6) / nrm, 6),
           round(nrm, 6)
    FROM dw{k}, dn{k}
    """
    return sql


@register("pca_top2_deflation", oracle=_pca2_oracle(_PCA_ITERS))
def pca_top2_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TWO principal components: run pca_power_iteration's loop for
    component 1, then Hotelling-DEFLATE the covariance with the
    estimated pair — C' = C − λ̂1·v̂1·v̂1ᵀ, using the 6dp-ROUNDED λ̂1 and
    v̂1 so the deflated matrix is engine-identical — and iterate again
    from the same start vector. This is how power iteration becomes a
    top-k eigensolver without ever leaving the plan; deflating by the
    ESTIMATE (not the true eigenpair) is the standard sequential
    scheme, and its bias shows up honestly as component-2's Rayleigh
    estimate. Shape: the cell-level covariance is read from the staged
    per-corpus table twice (row assembly + the rank-1 subtraction, which is a
    {_N_DIMS}-row broadcast join on each index); both iteration chains
    run on cached {_N_DIMS}-row frames. Output: 2×{_N_DIMS} rows
    (component, dim, loading, lam)."""
    cells = _pca_cov_cells(spark, sf_dir)
    crow = _pca_rows(cells).cache()
    w1 = _pca_iterate(
        crow, _pca_v0(spark), _PCA_ITERS, checkpoint=True
    ).localCheckpoint(eager=True)
    v1 = _pca_unit(w1)
    lamf = w1.agg(F.round(F.max("nrm"), 6).alias("l"))
    ve = v1.select(F.posexplode("varr").alias("i", "vv"))
    va = ve.select("i", F.col("vv").alias("va"))
    vb = ve.select(F.col("i").alias("j"), F.col("vv").alias("vb"))
    cell2 = (
        cells.join(F.broadcast(va), "i")
        .join(F.broadcast(vb), "j")
        .crossJoin(F.broadcast(lamf))
        .select(
            "i", "j",
            (
                F.col("c") - F.col("l") * F.col("va") * F.col("vb")
            ).alias("c"),
        )
    )
    drow = _pca_rows(cell2).localCheckpoint(eager=True)
    w2 = _pca_iterate(drow, _pca_v0(spark), _PCA_ITERS, checkpoint=True)

    def _out(w: DataFrame, comp: int) -> DataFrame:
        return w.select(
            F.lit(comp).cast("long").alias("component"),
            F.col("i").cast("long").alias("dim"),
            F.round(
                (F.col("wu").cast("double") / F.lit(1e6)) / F.col("nrm"), 6
            ).alias("loading"),
            F.round("nrm", 6).alias("lam"),
        )

    return _out(w1, 1).unionAll(_out(w2, 2))


# --- recall metric for the LSH index (completes the honesty family) ----------


@register(
    "ann_recall_lsh",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             {S.lsh_bucket_sql('CAST(embedding AS DOUBLE[])', S.hyperplanes(_N_PLANES, _N_DIMS))} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, emb AS qemb, bucket AS qbucket
          FROM v WHERE vec_id IN ({_QID_LIST})),
    ascored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.bucket = q.qbucket AND v.vec_id <> q.query_id
    ),
    atop AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM ascored) WHERE rank <= 3
    ),
    es AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.vec_id <> q.query_id
    ),
    etop AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM es) WHERE rank <= 3
    ),
    hits AS (
      SELECT e.query_id, count(*) AS n_hits
      FROM etop e JOIN atop a USING (query_id, neighbor_id)
      GROUP BY e.query_id
    )
    SELECT q.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / 3.0, 6) AS recall
    FROM (SELECT DISTINCT query_id FROM etop) q
    LEFT JOIN hits h USING (query_id)
    """,
)
def ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the hyperplane-LSH index against the exact cosine
    top-3 — completes the honesty-metric family (trained-IVF, IVF-PQ
    and Matryoshka recall already measured): single-table LSH probes
    1/2^{_N_PLANES} of the corpus in expectation, and THIS number is
    what that probe saving costs. Same broadcast-query shapes as the
    underlying indexes; the comparison join is on ≤ |Q|·k rows and the
    truth side is anchor-bounded (O(|Q|·n)) — scalable, not
    diagnostic."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, "vec_id", "embedding", _QUERY_IDS, k=3)
    approx = S.lsh_cosine_topk(
        emb, "vec_id", "embedding", _QUERY_IDS, n_planes=_N_PLANES, k=3,
        n_dims=_N_DIMS,
    )
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 3.0, 6).alias("recall"),
        )
    )


# --- robust (median/IQR) scaler: rank-selected per-dim quantiles -------------


@register(
    "embedding_robust_scale",
    oracle=f"""
    WITH qz AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1e3) AS BIGINT)) AS q
      FROM embeddings
    ),
    t AS (SELECT vec_id, unnest(q) AS qv,
                 unnest(range(0, {_N_DIMS})) AS i FROM qz),
    r AS (
      SELECT i, qv,
             row_number() OVER (PARTITION BY i ORDER BY qv, vec_id) AS rn,
             count(*) OVER (PARTITION BY i) AS n
      FROM t
    ),
    st AS (
      SELECT i,
             max(CASE WHEN rn = (25 * n + 99) // 100 THEN qv END) AS q25,
             max(CASE WHEN rn = (50 * n + 99) // 100 THEN qv END) AS med,
             max(CASE WHEN rn = (75 * n + 99) // 100 THEN qv END) AS q75
      FROM r GROUP BY 1
    )
    SELECT t.vec_id, CAST(t.i AS BIGINT) AS i,
           round((t.qv - st.med) * 1e0 / NULLIF(st.q75 - st.q25, 0), 6) AS r
    FROM t JOIN st USING (i)
    """,
)
def embedding_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/IQR) per-dimension scaling — the outlier-immune
    twin of embedding_standardize's z-scores: center on the rank-
    selected median, scale by the interquartile range, both type-1
    quantiles picked with INTEGER rank arithmetic ((q·n+99) div 100,
    tie-broken by vec_id) over the fixed-point values, so the selected
    statistics are exact integers and the scaled outputs are
    engine-identical doubles. A zero IQR (constant-to-the-quartiles
    dim) yields NULL, not an ANSI abort. Shape: the quantile windows
    partition BY DIMENSION — {_N_DIMS} independent sorts of n rows
    each, embarrassingly parallel and bounded per partition; the
    {_N_DIMS}-row stats frame broadcast-joins back onto the exploded
    corpus. Output is the EXPLODED long form (vec_id, i, r) — same
    driver-hashable contract as embedding_standardize. (At extreme n
    swap the exact rank-select for the binned approx quantiles —
    value_quantiles_binned's machinery.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    t = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * F.lit(1e3)).cast("long"),
            )
        ).alias("i", "qv"),
    )
    wo = Window.partitionBy("i").orderBy("qv", "vec_id")
    wc = Window.partitionBy("i")
    r = t.select(
        "i", "qv",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )

    def _cut(q: int):
        return F.expr(f"({q} * n + 99) div 100")

    st = r.groupBy("i").agg(
        F.max(F.when(F.col("rn") == _cut(25), F.col("qv"))).alias("q25"),
        F.max(F.when(F.col("rn") == _cut(50), F.col("qv"))).alias("med"),
        F.max(F.when(F.col("rn") == _cut(75), F.col("qv"))).alias("q75"),
    )
    return t.join(F.broadcast(st), "i").select(
        "vec_id",
        F.col("i").cast("long").alias("i"),
        F.round(
            F.try_divide(
                (F.col("qv") - F.col("med")) * F.lit(1.0),
                F.col("q75") - F.col("q25"),
            ),
            6,
        ).alias("r"),
    )


# --- dedup threshold sensitivity curve (r5 continuation) ---------------------

_SENS_THRESHOLDS = [0.30, 0.35, 0.40, 0.45]


@register(
    "dedup_threshold_sensitivity",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             {S.lsh_bucket_sql('CAST(embedding AS DOUBLE[])', S.hyperplanes(_N_PLANES, _N_DIMS))} AS bucket
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(CASE WHEN list_inner_product(a.emb, a.emb) = 0 OR list_inner_product(b.emb, b.emb) = 0 THEN NULL ELSE list_cosine_similarity(a.emb, b.emb) END, 6) AS cosine
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    t AS (SELECT unnest([{", ".join(repr(t) + "e0" for t in _SENS_THRESHOLDS)}])
                 AS threshold)
    SELECT t.threshold,
           CAST(count(p.id_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT p.id_b)
                FILTER (p.cosine >= t.threshold) AS BIGINT) AS n_docs_removed
    FROM t LEFT JOIN p ON p.cosine >= t.threshold
    GROUP BY 1
    """,
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup aggressiveness curve: candidate near-dup pair counts and
    keep-lowest-id removal counts at each candidate cosine threshold —
    computed from ONE bucketed pairwise pass (the expensive part) with
    the thresholds applied as filters against a tiny unnested
    threshold frame. This is the tuning report run BEFORE committing a
    dedup bar: the elbow in n_docs_removed vs threshold is where
    near-dup structure ends and the similarity background begins.
    Removal uses the same keep-lowest-id convention as dedup_semantic
    (a doc is removed if ANY higher-similarity partner precedes it).
    Scale: identical Σ bucket² posture as dedup_embedding_cosine; the
    threshold join multiplies surviving PAIRS (bounded) by |thresholds|
    — never the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.embedding_neardup(
        emb, "vec_id", "embedding", n_planes=_N_PLANES,
        threshold=min(_SENS_THRESHOLDS), n_dims=_N_DIMS,
    ).cache()
    ts = local_df(
        spark, [(t,) for t in _SENS_THRESHOLDS], "threshold DOUBLE"
    )
    j = ts.join(
        pairs, F.col("cosine") >= F.col("threshold"), "left"
    )
    return j.groupBy("threshold").agg(
        F.count("id_a").cast("long").alias("n_pairs"),
        F.countDistinct(
            F.when(F.col("cosine") >= F.col("threshold"), F.col("id_b"))
        )
        .cast("long")
        .alias("n_docs_removed"),
    )


@staged("embeddings")
def _staged_pca_top2(spark: SparkSession, sf_dir: str) -> str:
    """Stage the TRAINED top-2 components (pca_top2_deflation's full
    (component, dim, loading, lam) output) once per corpus — the
    model-artifact pattern again (signature index, IVF codebook,
    covariance cells): the deflation chain is the nightly TRAINING
    job; the downstream reports (variance explained, corpus
    projection) read the trained table instead of re-running 16
    iteration stages each. Loadings/eigenvalues are 6dp-rounded
    deterministic values, so staged ≡ recomputed exactly."""
    d = scratch_dir("deps_pca_top2_")
    pca_top2_deflation(spark, sf_dir).write.mode("overwrite").parquet(d)
    return d


def _pca_top2_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(component, dim, loading, lam) read from the staged trained
    table — consumers never re-run the deflation chain."""
    return spark.read.parquet(_staged_pca_top2(spark, sf_dir))


# --- variance explained by the top-2 principal components --------------------

@register(
    "pca_variance_explained",
    oracle=f"""
    WITH base AS ({_pca2_oracle(_PCA_ITERS)}),
    tq AS (
      SELECT unnest(list_transform(CAST(embedding AS DOUBLE[]),
                                   x -> CAST(round(x * 1e3) AS BIGINT))) AS qv,
             unnest(range(0, {_N_DIMS})) AS i
      FROM embeddings
    ),
    st AS (SELECT i, count(*) AS n, sum(qv) AS s, sum(qv * qv) AS ss
           FROM tq GROUP BY 1),
    tr AS (
      SELECT sum(CAST(ss AS DOUBLE) / n / 1e6
                 - (CAST(s AS DOUBLE) / n / 1e3)
                   * (CAST(s AS DOUBLE) / n / 1e3)) AS trace
      FROM st
    )
    SELECT DISTINCT component, lam,
           round(trace, 6) AS trace,
           round(lam / round(trace, 6), 6) AS var_explained
    FROM base, tr
    """,
)
def pca_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PCA summary a curation report actually quotes: how much of
    the embedding corpus's total variance the top-2 components carry
    (lam_k / trace(C)) — near-zero says the corpus is isotropic (no
    dominant direction to deduplicate or cluster along), large says a
    few axes dominate (quantize/deflate them first). Eigenvalues come
    from the SAME deflation chain as pca_top2_deflation (identical
    rounding, so the two reports can never disagree); the trace needs
    only the 64 DIAGONAL cells — per-dim (n, Σq, Σq²) integer sums,
    one map-side-combined aggregate over the corpus, no i×j pair
    fan-out. Output: 2 rows."""
    pc = _pca_top2_trained(spark, sf_dir).groupBy("component").agg(
        F.first("lam").alias("lam")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    t = emb.select(
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * F.lit(1e3)).cast("long"),
            )
        ).alias("i", "qv")
    )
    st = t.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").alias("s"),
        F.sum(F.col("qv") * F.col("qv")).alias("ss"),
    )
    var_i = (
        F.col("ss").cast("double") / F.col("n") / F.lit(1e6)
        - (F.col("s").cast("double") / F.col("n") / F.lit(1e3))
        * (F.col("s").cast("double") / F.col("n") / F.lit(1e3))
    )
    tr = st.agg(F.round(F.sum(var_i), 6).alias("trace"))
    return pc.crossJoin(F.broadcast(tr)).select(
        "component",
        "lam",
        "trace",
        F.round(F.col("lam") / F.col("trace"), 6).alias("var_explained"),
    )


# --- STREAMING IVF index append (ANN family batch/streaming symmetry) --------

_IVFS_SEED = "ivfstream"
_IVFS_EXISTING_PCT = 90  # bucket < 90 = indexed corpus; >= 90 = new batch
_IVFS_SLICES = 3


def _ivfs_bucket_sql(col: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat(CAST({col} AS VARCHAR),"
        f" '#{_IVFS_SEED}')), 1, 15)) AS BIGINT) % 100"
    )


def _ivfs_bucket(col: str) -> F.Column:
    from dataengineeringproject_spark.functions import text as X

    return X.token_hash(F.col(col).cast("string"), seed=_IVFS_SEED) % 100


@staged("embeddings")
def _staged_ivf_codebook(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the IVF index's standing state: the centroid
    CODEBOOK (the deterministic corpus sample every IVF query here
    uses) and the landing zone for the incoming vector batch
    ({_IVFS_SLICES} deterministic slices). Prestage hook — codebook
    training and file arrival are index-build costs, not per-batch
    append costs."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = (
        emb.filter(
            (_ivfs_bucket("vec_id") < _IVFS_EXISTING_PCT)
            & (F.col("vec_id") % _CENTROID_MOD == 0)
        )
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .orderBy("cid")
        .limit(S._INIT_CAP)
    )
    cb = scratch_dir("deps_ivfs_codebook_")
    land = scratch_dir("deps_ivfs_land_")
    cents.coalesce(1).write.mode("overwrite").parquet(cb)
    batch = emb.filter(_ivfs_bucket("vec_id") >= _IVFS_EXISTING_PCT)
    for i in range(_IVFS_SLICES):
        batch.filter(F.col("vec_id") % _IVFS_SLICES == i).coalesce(
            1
        ).write.mode("append").parquet(land)
    return cb, land


register_prestage(_staged_ivf_codebook)
register_prestage(_staged_pca_cov)
register_prestage(_staged_pca_top2)


_IVFS_POSTINGS_SCHEMA = "vec_id bigint, cid bigint, cosine double"


@staged("embeddings")
def _run_ivf_stream(spark: SparkSession, sf_dir: str) -> str:
    """Drive the postings-append stream (streaming_ivf_index_append)
    over the staged landing zone once per embeddings generation;
    returns the appended postings dir."""
    from pyspark.sql import Window

    cb, land = _staged_ivf_codebook(spark, sf_dir)
    cents = spark.read.parquet(cb)
    out = scratch_dir("deps_ivfs_out_")
    ckpt = scratch_dir("deps_ivfs_ckpt_")

    def _append(batch_vecs: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("vec_id").orderBy(
            F.desc_nulls_last("cosine"), F.asc("cid")
        )
        assigned = (
            batch_vecs.crossJoin(F.broadcast(cents))
            .withColumn(
                "cosine", F.round(S.cosine(F.col("v"), F.col("cv")), 6)
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", "cosine")
        )
        append_batch(assigned, out, batch_id)

    drive_landing(spark, land, spark.read.parquet(land).schema, _append, ckpt)
    return out


@register(
    "streaming_ivf_index_append",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (SELECT vec_id AS cid, emb AS cemb FROM v
          WHERE {_ivfs_bucket_sql('vec_id')} < {_IVFS_EXISTING_PCT}
            AND vec_id % {_CENTROID_MOD} = 0
          ORDER BY vec_id LIMIT {S._INIT_CAP}),
    b AS (SELECT * FROM v WHERE {_ivfs_bucket_sql('vec_id')} >= {_IVFS_EXISTING_PCT})
    SELECT vec_id, cid, cosine FROM (
      SELECT b.vec_id, c.cid,
             ROUND(CASE WHEN list_inner_product(b.emb, b.emb) = 0 OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL ELSE list_cosine_similarity(b.emb, c.cemb) END, 6) AS cosine,
             row_number() OVER (
               PARTITION BY b.vec_id
               ORDER BY ROUND(CASE WHEN list_inner_product(b.emb, b.emb) = 0 OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL ELSE list_cosine_similarity(b.emb, c.cemb) END, 6) DESC NULLS LAST,
               c.cid ASC
             ) AS rn
      FROM b, c
    ) WHERE rn = 1
    """,
)
def streaming_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN family batch/streaming symmetry (after dedup and CDC): the
    maintenance loop every production vector index runs — newly
    embedded vectors arrive as a file-drop stream and each micro-batch
    is assigned to its nearest codebook centroid (broadcast; guarded
    rounded cosine, cid tie-break — identical ranking to ann_ivf_topk's
    assignment) and APPENDED to the inverted-list postings. The
    codebook is the standing state and is NOT retrained per batch —
    exactly how IVF serves online ingest (periodic retrain is the
    batch job, `ann_ivf_trained_topk`).

    Output: one row per new vector (vec_id, cid, cosine) — the
    appended postings, value-hashed against the batch assignment of
    the same vector slice, so the streamed append provably lands every
    vector in the same list a batch rebuild would.

    At 100 TB: the codebook stays broadcast-sized by construction; the
    postings append is partitioned by cid (partition-pruned probes —
    see ivf_topk's docstring); per-trigger cost is O(micro-batch ×
    centroids) map-side with one tiny rank shuffle. Restart-safe: the
    postings are a log-form sink of `streaming.commit` (one
    `batch_id=<id>` dir per trigger, skipped when a replay finds it
    committed), so a replayed trigger does not append its vectors
    twice."""
    return read_log(spark, _run_ivf_stream(spark, sf_dir), _IVFS_POSTINGS_SCHEMA)


# --- corpus projection onto the top-2 principal components -------------------


@register(
    "embedding_pca_project",
    oracle=f"""
    WITH base AS ({_pca2_oracle(_PCA_ITERS)}),
    lv AS (
      SELECT component, dim AS i,
             CAST(round(loading * 1e6) AS BIGINT) AS lv
      FROM base
    ),
    tq AS (
      SELECT vec_id,
             unnest(list_transform(CAST(embedding AS DOUBLE[]),
                                   x -> CAST(round(x * 1e3) AS BIGINT))) AS qv,
             unnest(range(0, {_N_DIMS})) AS i
      FROM embeddings
    )
    SELECT t.vec_id, l.component,
           round(CAST(sum(t.qv * l.lv) AS DOUBLE) / 1e9, 6) AS proj
    FROM tq t JOIN lv l ON l.i = t.i
    GROUP BY 1, 2
    """,
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA family's EXPORT artifact: every embedding projected onto
    the top-2 components (the 2-D map a curation team actually plots
    to eyeball corpus structure, and the input to density/outlier
    screens in the reduced space). Loadings come from the SAME
    deflation chain as pca_top2_deflation; because they are 6dp-rounded
    there, loading×1e6 and the ×1e3-quantized corpus are BOTH integers,
    so each projection is an EXACT integer dot product (Σ qv·lv, summed
    in any order on any partitioning) divided once at the end —
    engine-identical by construction, no float-summation-order risk.
    Plan: posexplode corpus → broadcast-join the 128-row loading table
    → groupBy (vec_id, component). Exploded rows of one vector are
    co-partitioned with it, so the partial aggregate collapses to 2
    rows per vector BEFORE the shuffle — the shuffle moves 2·|corpus|
    tiny rows, never the 64× exploded form. Output: 2 rows per vector
    (long form, scalar columns per the fleet-wide output contract)."""
    pc = _pca_top2_trained(spark, sf_dir).select(
        "component",
        F.col("dim").alias("i"),
        F.round(F.col("loading") * F.lit(1e6)).cast("long").alias("lv"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    t = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * F.lit(1e3)).cast("long"),
            )
        ).alias("i", "qv"),
    )
    return (
        t.join(F.broadcast(pc), "i")
        .groupBy("vec_id", "component")
        .agg(F.sum(F.col("qv") * F.col("lv")).alias("s"))
        .select(
            "vec_id",
            "component",
            F.round(F.col("s").cast("double") / F.lit(1e9), 6).alias("proj"),
        )
    )


# --- semantic train/test leakage screen --------------------------------------

from dataengineeringproject_spark.queries.curation import (  # noqa: E402
    SPLIT_TRAIN as _SPL_TRAIN,
    SPLIT_VAL as _SPL_VAL,
    _bucket as _spl_bucket,
    _bucket_sql as _spl_bucket_sql,
)


def _split_case_sql(id_col: str) -> str:
    """The SAME split rule as curation.split_train_val_test, applied to
    an embedding id column — imported, not re-implemented."""
    b = _spl_bucket_sql(id_col)
    return (
        f"CASE WHEN {b} < {_SPL_TRAIN} THEN 'train' "
        f"WHEN {b} < {_SPL_VAL} THEN 'val' ELSE 'test' END"
    )


@register(
    "split_leakage_embedding",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             {S.lsh_bucket_sql('CAST(embedding AS DOUBLE[])', S.hyperplanes(_N_PLANES, _N_DIMS))} AS bucket
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(CASE WHEN list_inner_product(a.emb, a.emb) = 0 OR list_inner_product(b.emb, b.emb) = 0 THEN NULL ELSE list_cosine_similarity(a.emb, b.emb) END, 6) AS cosine
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    q AS (
      SELECT id_a, id_b, cosine,
             {_split_case_sql('id_a')} AS split_a,
             {_split_case_sql('id_b')} AS split_b
      FROM p WHERE cosine >= {_NEARDUP_COS_T}
    )
    SELECT CASE WHEN split_a = 'train' THEN id_a ELSE id_b END AS train_id,
           CASE WHEN split_a = 'train' THEN id_b ELSE id_a END AS test_id,
           cosine
    FROM q
    WHERE (split_a = 'train' AND split_b = 'test')
       OR (split_a = 'test' AND split_b = 'train')
    """,
)
def split_leakage_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination: near-identical EMBEDDINGS that cross
    the train/test boundary — the leakage n-gram matching can't see
    (paraphrases, translations, re-encodings land far apart in token
    space but adjacent in embedding space; split_leakage_ngram is the
    token-space sibling). Pairs come from the same LSH-bucketed cosine
    machinery as dedup_embedding_cosine; the split assignment is
    IMPORTED from curation (the seeded-hash rule of
    split_train_val_test — the screen provably audits the split the
    corpus actually uses, not a reimplementation that could drift).
    Because the split is a pure hash of the id, membership is computed
    INLINE on the pair set — a projection, zero extra joins or
    shuffles on top of the bucketed pair join. Output: (train_id,
    test_id, cosine) oriented so the test-side doc is always the one
    to quarantine."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.embedding_neardup(
        emb, "vec_id", "embedding", n_planes=_N_PLANES,
        threshold=_NEARDUP_COS_T, n_dims=_N_DIMS,
    )

    def split_of(c: str):
        b = _spl_bucket(c)
        return (
            F.when(b < _SPL_TRAIN, F.lit("train"))
            .when(b < _SPL_VAL, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    sa, sb = split_of("id_a"), split_of("id_b")
    return (
        pairs.filter(
            ((sa == "train") & (sb == "test"))
            | ((sa == "test") & (sb == "train"))
        )
        .select(
            F.when(sa == "train", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("train_id"),
            F.when(sa == "train", F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("test_id"),
            "cosine",
        )
    )


# --- embedding outlier screen: distance to own-label centroid ----------------

_OUT_TOPK = 3     # outliers reported per label
_OUT_Q = 1000     # milli-unit quantization of embedding components


@register(
    "embedding_outlier_centroid",
    oracle=f"""
    WITH t AS (
      SELECT vec_id, label, i - 1 AS i, CAST(round(x * {_OUT_Q}) AS BIGINT) AS q
      FROM (SELECT vec_id, label,
                   unnest(CAST(embedding AS DOUBLE[])) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    c AS (
      SELECT label, i, count(*) AS n, sum(q) AS s FROM t GROUP BY 1, 2
    ),
    d AS (
      SELECT t.vec_id, t.label,
             sum((t.q * c.n - c.s) * (t.q * c.n - c.s)) AS d2u,
             any_value(c.n) AS n
      FROM t JOIN c ON c.label = t.label AND c.i = t.i
      GROUP BY 1, 2
    ),
    r AS (
      SELECT vec_id, label,
             round(sqrt(CAST(d2u AS DOUBLE)) / (n * {_OUT_Q}e0), 6) AS dist,
             row_number() OVER (PARTITION BY label
                                ORDER BY d2u DESC, vec_id ASC) AS rnk
      FROM d
    )
    SELECT CAST(label AS BIGINT) AS label, vec_id,
           CAST(rnk AS BIGINT) AS rank, dist
    FROM r WHERE rnk <= {_OUT_TOPK}
    """,
)
def embedding_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier screen: the top-{_OUT_TOPK} vectors
    FURTHEST (euclidean) from their own label's centroid — the
    label-noise / mis-embedding audit run before training on labeled
    vectors (a point far from its class centroid is a mislabel, a
    failed embedding, or genuinely hard — all worth surfacing). Kept
    exact end-to-end: components quantize to milli-unit integers, and
    distance is compared as the INTEGER d2u = sum_i (q_i*n - s_i)^2 —
    the squared distance cross-multiplied by n^2 so no division or
    double ever enters the ranking; the readable float distance is
    derived only for display.

    Scale shape: posexplode to (vec, dim) rows; centroid sufficient
    statistics are one map-side-combined groupBy to |labels|x64 rows,
    broadcast back onto the exploded stream; per-vector reduce is one
    64-row integer sum; top-k per label is a WindowGroupLimit, no
    global sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    t = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i", "x"
        ),
    ).select(
        "vec_id",
        "label",
        "i",
        F.round(F.col("x") * _OUT_Q).cast("long").alias("q"),
    )
    c = t.groupBy("label", "i").agg(
        F.count(F.lit(1)).alias("n"), F.sum("q").alias("s")
    )
    d = (
        t.join(F.broadcast(c), ["label", "i"])
        .select(
            "vec_id",
            "label",
            ((F.col("q") * F.col("n") - F.col("s"))
             * (F.col("q") * F.col("n") - F.col("s"))).alias("du"),
            F.col("n"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("du").alias("d2u"), F.any_value("n").alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy(F.desc("d2u"), F.asc("vec_id"))
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _OUT_TOPK)
        .select(
            F.col("label").cast("long").alias("label"),
            "vec_id",
            F.col("rnk").cast("long").alias("rank"),
            F.round(
                F.sqrt(F.col("d2u").cast("double"))
                / (F.col("n") * F.lit(float(_OUT_Q))),
                6,
            ).alias("dist"),
        )
    )


# --- MRR of the LSH index (rank-position companion of recall@3) ---------------


@register(
    "ann_mrr_lsh",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             {S.lsh_bucket_sql('CAST(embedding AS DOUBLE[])', S.hyperplanes(_N_PLANES, _N_DIMS))} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, emb AS qemb, bucket AS qbucket
          FROM v WHERE vec_id IN ({_QID_LIST})),
    ascored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.bucket = q.qbucket AND v.vec_id <> q.query_id
    ),
    atop AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM ascored) WHERE rank <= 3
    ),
    es AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.vec_id <> q.query_id
    ),
    e1 AS (
      SELECT query_id, neighbor_id AS true_nn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM es) WHERE rank = 1
    ),
    fr AS (
      SELECT e1.query_id, e1.true_nn,
             coalesce(a.rank, 0) AS found_rank
      FROM e1 LEFT JOIN atop a
        ON a.query_id = e1.query_id AND a.neighbor_id = e1.true_nn
    ),
    u AS (
      SELECT query_id, true_nn, found_rank,
             CASE WHEN found_rank > 0
                  THEN CAST(round(1e6 / found_rank) AS BIGINT)
                  ELSE 0 END AS rru
      FROM fr
    ),
    m AS (SELECT sum(rru) AS s, count(*) AS nq FROM u)
    SELECT u.query_id, u.true_nn,
           CAST(u.found_rank AS BIGINT) AS found_rank,
           round(u.rru / 1e6, 6) AS rr,
           round(m.s * 1e0 / m.nq / 1e6, 6) AS mrr
    FROM u CROSS JOIN m
    """,
)
def ann_mrr_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the hyperplane-LSH index: WHERE in the
    approximate top-3 the true nearest neighbor lands (1, 1/2, 1/3, or
    0 when the bucket probe missed it entirely) — the rank-position
    companion of `ann_recall_lsh`, which only counts set overlap. Two
    indexes can share recall@3 while one always ranks the true NN
    first; MRR is the number that separates them, and the one a
    retrieval stack actually feels. Reciprocal ranks are quantized to
    micro-unit integers before the cross-query mean so the aggregate
    is order-exact.

    Scale shape: identical to the recall query — broadcast query rows,
    bucket-probed approx side, anchor-bounded exact side; the MRR
    reduce runs on |Q| rows."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, "vec_id", "embedding", _QUERY_IDS, k=1)
    approx = S.lsh_cosine_topk(
        emb, "vec_id", "embedding", _QUERY_IDS, n_planes=_N_PLANES, k=3,
        n_dims=_N_DIMS,
    )
    e1 = exact.filter(F.col("rank") == 1).select(
        "query_id", F.col("neighbor_id").alias("true_nn")
    )
    a = approx.select(
        F.col("query_id").alias("aq"),
        F.col("neighbor_id").alias("an"),
        F.col("rank").alias("arank"),
    )
    fr = e1.join(
        a,
        (F.col("aq") == F.col("query_id")) & (F.col("an") == F.col("true_nn")),
        "left",
    ).select(
        "query_id",
        "true_nn",
        F.coalesce(F.col("arank"), F.lit(0)).alias("found_rank"),
    )
    u = fr.select(
        "query_id",
        "true_nn",
        F.col("found_rank").cast("long").alias("found_rank"),
        F.when(
            F.col("found_rank") > 0,
            F.round(F.lit(1e6) / F.col("found_rank")).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("rru"),
    )
    m = u.agg(F.sum("rru").alias("s"), F.count(F.lit(1)).alias("nq"))
    return u.crossJoin(F.broadcast(m)).select(
        "query_id",
        "true_nn",
        "found_rank",
        F.round(F.col("rru") / F.lit(1e6), 6).alias("rr"),
        F.round(
            F.col("s") * F.lit(1.0) / F.col("nq") / F.lit(1e6), 6
        ).alias("mrr"),
    )


# --- silhouette-lite label separation in embedding space -----------------------


@register(
    "embedding_label_separation",
    oracle=f"""
    WITH t AS (
      SELECT vec_id, label, i - 1 AS i,
             CAST(round(x * {_OUT_Q}) AS BIGINT) AS q
      FROM (SELECT vec_id, label,
                   unnest(CAST(embedding AS DOUBLE[])) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    c AS (SELECT label, i, sum(q) AS s FROM t GROUP BY 1, 2),
    cn AS (SELECT label, sum(s * s) AS ns FROM c GROUP BY 1),
    vn AS (SELECT vec_id, sum(q * q) AS nq FROM t GROUP BY 1),
    dot AS (
      SELECT t.vec_id, t.label AS vlabel, c.label AS clabel,
             sum(t.q * c.s) AS d
      FROM t JOIN c ON c.i = t.i
      GROUP BY 1, 2, 3
    ),
    cos AS (
      SELECT dot.vec_id, dot.vlabel, dot.clabel,
             CAST(round(dot.d / sqrt(CAST(vn.nq AS DOUBLE)
                                     * CAST(cn.ns AS DOUBLE)) * 1e6)
                  AS BIGINT) AS cu
      FROM dot
      JOIN vn ON vn.vec_id = dot.vec_id
      JOIN cn ON cn.label = dot.clabel
    ),
    per AS (
      SELECT vec_id, vlabel,
             max(CASE WHEN clabel = vlabel THEN cu END) AS own,
             max(CASE WHEN clabel <> vlabel THEN cu END) AS rival
      FROM cos GROUP BY 1, 2
    )
    SELECT CAST(vlabel AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_members,
           round(sum(own) * 1e0 / count(*) / 1e6, 6) AS mean_intra,
           round(sum(rival) * 1e0 / count(*) / 1e6, 6) AS mean_rival,
           round((sum(own) - sum(rival)) * 1e0 / count(*) / 1e6, 6)
             AS separation
    FROM per GROUP BY 1
    """,
)
def embedding_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette-lite cluster-quality report per label: each vector's
    cosine to its OWN label centroid vs its closest RIVAL centroid,
    averaged per label — separation <= 0 means the label's members sit
    closer to another class's center than their own (label noise, or
    classes the embedding can't separate; run before trusting labels
    for training). Cosines are scale-invariant, so centroids are used
    UN-normalized as integer component sums: every dot product and
    squared norm is exact int64, the one sqrt+divide per
    (vector, centroid) sees identical inputs in both engines, and
    per-member cosines re-quantize to micro-units before the label
    mean.

    Scale shape: centroids are one map-side-combined |labels|x64
    aggregate broadcast back; the dot-product stream is
    |corpus|x|labels| rows (labels bounded), collapsed map-side; no
    all-pairs anything."""
    emb = load_table(spark, sf_dir, "embeddings")
    t = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i", "x"
        ),
    ).select(
        "vec_id",
        "label",
        "i",
        F.round(F.col("x") * _OUT_Q).cast("long").alias("q"),
    )
    c = t.groupBy(F.col("label").alias("clabel"), "i").agg(
        F.sum("q").alias("s")
    )
    cn = c.groupBy("clabel").agg(F.sum(F.col("s") * F.col("s")).alias("ns"))
    vn = t.groupBy("vec_id").agg(F.sum(F.col("q") * F.col("q")).alias("nq"))
    dot = (
        t.join(F.broadcast(c), "i")
        .groupBy("vec_id", F.col("label").alias("vlabel"), "clabel")
        .agg(F.sum(F.col("q") * F.col("s")).alias("d"))
    )
    cos = (
        dot.join(vn, "vec_id")
        .join(F.broadcast(cn), "clabel")
        .select(
            "vec_id",
            "vlabel",
            "clabel",
            F.round(
                F.col("d")
                / F.sqrt(
                    F.col("nq").cast("double") * F.col("ns").cast("double")
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("cu"),
        )
    )
    per = cos.groupBy("vec_id", "vlabel").agg(
        F.max(F.when(F.col("clabel") == F.col("vlabel"), F.col("cu"))).alias(
            "own"
        ),
        F.max(F.when(F.col("clabel") != F.col("vlabel"), F.col("cu"))).alias(
            "rival"
        ),
    )
    return per.groupBy("vlabel").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.round(F.sum("own") * F.lit(1.0) / F.count(F.lit(1)) / 1e6, 6).alias(
            "mean_intra"
        ),
        F.round(
            F.sum("rival") * F.lit(1.0) / F.count(F.lit(1)) / 1e6, 6
        ).alias("mean_rival"),
        F.round(
            (F.sum("own") - F.sum("rival")) * F.lit(1.0)
            / F.count(F.lit(1))
            / 1e6,
            6,
        ).alias("separation"),
    ).select(
        F.col("vlabel").cast("long").alias("label"),
        "n_members",
        "mean_intra",
        "mean_rival",
        "separation",
    )


# --- nDCG@3 of the LSH index (ranking-quality companion) -----------------------

# log2(pos+1) discount denominators, Python-precomputed repr literals
# so neither engine computes a log at query time.
_NDCG_DISC = {p: repr(__import__("math").log2(p + 1)) for p in (1, 2, 3)}


def _ndcg_case(pos_col: str) -> str:
    return (
        f"CASE {pos_col} "
        + " ".join(f"WHEN {p} THEN {d}" for p, d in _NDCG_DISC.items())
        + " END"
    )


@register(
    "ann_ndcg_lsh",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             {S.lsh_bucket_sql('CAST(embedding AS DOUBLE[])', S.hyperplanes(_N_PLANES, _N_DIMS))} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, emb AS qemb, bucket AS qbucket
          FROM v WHERE vec_id IN ({_QID_LIST})),
    ascored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.bucket = q.qbucket AND v.vec_id <> q.query_id
    ),
    atop AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM ascored) WHERE rank <= 3
    ),
    es AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             ROUND(CASE WHEN list_inner_product(q.qemb, q.qemb) = 0 OR list_inner_product(v.emb, v.emb) = 0 THEN NULL ELSE list_cosine_similarity(q.qemb, v.emb) END, 6) AS cosine
      FROM q JOIN v ON v.vec_id <> q.query_id
    ),
    etop AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM es) WHERE rank <= 3
    ),
    dcg AS (
      SELECT a.query_id,
             CAST(round(sum((4 - e.rank) / ({_ndcg_case('a.rank')}))
                        * 1e6) AS BIGINT) AS dcgu
      FROM atop a JOIN etop e
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      GROUP BY 1
    ),
    ideal AS (
      SELECT query_id,
             CAST(round(sum((4 - rank) / ({_ndcg_case('rank')})) * 1e6)
                  AS BIGINT) AS idcgu
      FROM etop GROUP BY 1
    )
    SELECT i.query_id,
           round(coalesce(d.dcgu, 0) / 1e6, 6) AS dcg,
           round(i.idcgu / 1e6, 6) AS idcg,
           round(coalesce(d.dcgu, 0) * 1e0 / i.idcgu, 6) AS ndcg
    FROM ideal i LEFT JOIN dcg d USING (query_id)
    """,
)
def ann_ndcg_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@3 of the hyperplane-LSH index against the exact cosine
    ranking — the third leg of the ranking-eval triple: recall@3
    (set overlap), MRR (where the single true NN lands), and now nDCG
    (POSITION-WEIGHTED credit for the whole list: graded relevance
    4 - exact_rank, discounted by log2(position+1)). The discount
    denominators are Python-precomputed repr literals; per-query DCG
    sums quantize to micro-units, so the metric is engine-exact.

    Scale shape: identical to the recall/MRR queries — broadcast query
    rows, bucket-probed approx side, anchor-bounded exact side; the
    metric reduce runs on <= |Q| x 3 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = S.cosine_topk(emb, "vec_id", "embedding", _QUERY_IDS, k=3)
    approx = S.lsh_cosine_topk(
        emb, "vec_id", "embedding", _QUERY_IDS, n_planes=_N_PLANES, k=3,
        n_dims=_N_DIMS,
    )
    disc = F.coalesce(
        *[
            F.when(F.col("arank") == p, F.lit(float(d)))
            for p, d in _NDCG_DISC.items()
        ]
    )
    e = exact.select(
        F.col("query_id").alias("eq"),
        F.col("neighbor_id").alias("en"),
        F.col("rank").alias("erank"),
    )
    a = approx.select(
        F.col("query_id").alias("aq"),
        F.col("neighbor_id").alias("an"),
        F.col("rank").alias("arank"),
    )
    dcg = (
        a.join(e, (F.col("eq") == F.col("aq")) & (F.col("en") == F.col("an")))
        .groupBy(F.col("aq").alias("query_id"))
        .agg(
            F.round(
                F.sum((F.lit(4) - F.col("erank")) / disc) * F.lit(1e6)
            )
            .cast("long")
            .alias("dcgu")
        )
    )
    idisc = F.coalesce(
        *[
            F.when(F.col("erank") == p, F.lit(float(d)))
            for p, d in _NDCG_DISC.items()
        ]
    )
    ideal = e.groupBy(F.col("eq").alias("query_id")).agg(
        F.round(F.sum((F.lit(4) - F.col("erank")) / idisc) * F.lit(1e6))
        .cast("long")
        .alias("idcgu")
    )
    return ideal.join(F.broadcast(dcg), "query_id", "left").select(
        "query_id",
        F.round(
            F.coalesce(F.col("dcgu"), F.lit(0)) / F.lit(1e6), 6
        ).alias("dcg"),
        F.round(F.col("idcgu") / F.lit(1e6), 6).alias("idcg"),
        F.round(
            F.coalesce(F.col("dcgu"), F.lit(0)) * F.lit(1.0)
            / F.col("idcgu"),
            6,
        ).alias("ndcg"),
    )


# --- embedding-space source similarity (centroid cosine matrix) ----------------


@register(
    "source_centroid_similarity",
    oracle=f"""
    WITH t AS (
      SELECT d.source, CAST(round(x * {_OUT_Q}) AS BIGINT) AS q,
             i - 1 AS i
      FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings) e
      JOIN documents d ON d.doc_id = e.vec_id
    ),
    c AS (SELECT source, i, sum(q) AS s FROM t GROUP BY 1, 2),
    n AS (SELECT source, sum(s * s) AS ns FROM c GROUP BY 1),
    dots AS (
      SELECT a.source AS sa, b.source AS sb, sum(a.s * b.s) AS d
      FROM c a JOIN c b ON a.i = b.i AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT dots.sa AS source_a, dots.sb AS source_b,
           round(dots.d / sqrt(CAST(na.ns AS DOUBLE)
                               * CAST(nb.ns AS DOUBLE)), 6) AS cosine
    FROM dots
    JOIN n na ON na.source = dots.sa
    JOIN n nb ON nb.source = dots.sb
    """,
)
def source_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space source similarity: pairwise cosine between
    per-source centroid embeddings — the SEMANTIC twin of
    `corpus_similarity_minhash` (which compares sources by shingle
    sets): the two matrices disagreeing is itself the finding (same
    words, different meaning — or paraphrased content the lexical
    signature can't see). Cosine is scale-invariant, so centroids stay
    UN-normalized integer component sums: dots and norms are exact
    int64, one sqrt+divide per pair.

    Scale shape: one embeddings-documents join, one map-side-combined
    |sources|x64 aggregate; the pair matrix is arithmetic on that tiny
    frame."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    t = (
        emb.join(docs, F.col("vec_id") == F.col("doc_id"))
        .select(
            "source",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "i", "x"
            ),
        )
        .select(
            "source", "i", F.round(F.col("x") * _OUT_Q).cast("long").alias("q")
        )
    )
    c = t.groupBy("source", "i").agg(F.sum("q").alias("s"))
    n = c.groupBy("source").agg(F.sum(F.col("s") * F.col("s")).alias("ns"))
    a = c.select(
        F.col("source").alias("sa"), F.col("i").alias("ia"), F.col("s").alias("as_")
    )
    b = c.select(
        F.col("source").alias("sb"), F.col("i").alias("ib"), F.col("s").alias("bs")
    )
    dots = (
        a.join(
            b, (F.col("ia") == F.col("ib")) & (F.col("sa") < F.col("sb"))
        )
        .groupBy("sa", "sb")
        .agg(F.sum(F.col("as_") * F.col("bs")).alias("d"))
    )
    na = n.select(F.col("source").alias("sa"), F.col("ns").alias("nsa"))
    nb = n.select(F.col("source").alias("sb"), F.col("ns").alias("nsb"))
    return (
        dots.join(F.broadcast(na), "sa")
        .join(F.broadcast(nb), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.round(
                F.col("d")
                / F.sqrt(
                    F.col("nsa").cast("double") * F.col("nsb").cast("double")
                ),
                6,
            ).alias("cosine"),
        )
    )


# --- float32 storage-precision audit --------------------------------------------


@register(
    "precision_audit_float32",
    oracle="""
    WITH q AS (
      SELECT CAST(round(value * 1e3) AS BIGINT) AS vu,
             CAST(round(CAST(CAST(value AS REAL) AS DOUBLE) * 1e3)
                  AS BIGINT) AS vu32
      FROM events
    )
    SELECT 'events.value' AS column_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN vu <> vu32 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lossy_at_3dp,
           round(sum(CASE WHEN vu <> vu32 THEN 1 ELSE 0 END) * 1e0
                 / count(*), 6) AS lossy_rate
    FROM q
    """,
)
def precision_audit_float32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Float32 storage-precision audit: if this DOUBLE column were
    stored as float32 (the 2x-cheaper layout embeddings already use),
    how many values would change at 3-decimal grain? The
    quantization-decision twin of `embedding_quantize_int8`'s
    reconstruction report, applied to the fact table: a zero lossy
    rate is the green light to halve the column's storage; a high one
    is why money stays DECIMAL. Both engines compute the identical
    IEEE double->float->double round-trip, compared on milli-unit
    integers.

    Scale shape: a pure cast-and-compare projection into one 1-row
    map-side-combined aggregate. Free at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    vu = F.round(F.col("value") * 1e3).cast("long")
    vu32 = F.round(
        F.col("value").cast("float").cast("double") * 1e3
    ).cast("long")
    q = ev.select(vu.alias("vu"), vu32.alias("vu32"))
    lossy = F.col("vu") != F.col("vu32")
    return q.agg(
        F.lit("events.value").alias("column_name"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(lossy, 1).otherwise(0))
        .cast("long")
        .alias("n_lossy_at_3dp"),
        F.round(
            F.sum(F.when(lossy, 1).otherwise(0)) * F.lit(1.0)
            / F.count(F.lit(1)),
            6,
        ).alias("lossy_rate"),
    )


# --- per-dimension variance concentration --------------------------------------


@register(
    "dim_variance_concentration",
    oracle=f"""
    WITH t AS (
      SELECT i - 1 AS i, CAST(round(x * {_OUT_Q}) AS BIGINT) AS q
      FROM (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    g AS (
      SELECT i, count(*) AS n, sum(q) AS s, sum(q * q) AS ss
      FROM t GROUP BY 1
    ),
    v AS (
      SELECT i, ss - CAST(round(CAST(s AS DOUBLE) * s / n) AS BIGINT) AS vu
      FROM g
    ),
    r AS (
      SELECT i, vu,
             row_number() OVER (ORDER BY vu DESC, i ASC) AS rnk,
             sum(vu) OVER (ORDER BY vu DESC, i ASC) AS cum,
             sum(vu) OVER () AS tot
      FROM v
    )
    SELECT CAST(rnk AS BIGINT) AS rank, CAST(i AS BIGINT) AS dim,
           round(vu * 1e0 / tot, 6) AS var_share,
           round(cum * 1e0 / tot, 6) AS cum_share
    FROM r WHERE rnk <= 16 OR cum * 10 <= tot * 9
    """,
)
def dim_variance_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw per-dimension variance concentration of the embedding
    corpus: dimensions ranked by variance with cumulative share — the
    no-rotation cousin of `pca_variance_explained` that answers the
    cheaper question first (can I truncate/quantize RAW dims before
    paying for a projection? Matryoshka-trained embeddings say yes by
    design — `ann_recall_matryoshka` measures that; THIS measures
    whether an arbitrary corpus earned it). Per-dim variances use the
    ANOVA re-quantization (exact integer sums, one rounded s^2/n per
    dim), so the ranking and shares are engine-exact. Reports the top
    16 dims plus however many it takes to reach 90% cumulative
    variance.

    Scale shape: one posexplode + map-side-combined 64-row aggregate;
    windows run on 64 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    t = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
    ).select("i", F.round(F.col("x") * _OUT_Q).cast("long").alias("q"))
    g = t.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("ss"),
    )
    v = g.select(
        "i",
        (
            F.col("ss")
            - F.round(
                F.col("s").cast("double") * F.col("s") / F.col("n")
            ).cast("long")
        ).alias("vu"),
    )
    from pyspark.sql import Window

    wr = Window.orderBy(F.desc("vu"), F.asc("i"))
    wa = Window.orderBy(F.desc("vu"), F.asc("i")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.orderBy(F.desc("vu"), F.asc("i")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = v.select(
        "i",
        "vu",
        F.row_number().over(wr).alias("rnk"),
        F.sum("vu").over(wa).alias("cum"),
        F.sum("vu").over(wt).alias("tot"),
    )
    return r.filter(
        (F.col("rnk") <= 16) | (F.col("cum") * 10 <= F.col("tot") * 9)
    ).select(
        F.col("rnk").cast("long").alias("rank"),
        F.col("i").cast("long").alias("dim"),
        F.round(F.col("vu") * F.lit(1.0) / F.col("tot"), 6).alias(
            "var_share"
        ),
        F.round(F.col("cum") * F.lit(1.0) / F.col("tot"), 6).alias(
            "cum_share"
        ),
    )


# --- k-NN classifier evaluation over the embedding space -----------------------

_KNN_SEED = "knn-v1"
_KNN_TRAIN = 70
# Per-bucket train-candidate cap (r10 scale-trend: with 16 fixed
# buckets, hot buckets grow linearly with the corpus and the test x
# train bucket join grows quadratically — measured 31.6x on 10x data).
# Cap = first (tranche x _KNN_BUCKCAP) train ids per bucket
# (deterministic, the _AA_MIDCAP convention); the max sf0.1 train
# bucket holds 123, so all provided testdata is below the cap and
# results are byte-identical.
#
# r12 (VERDICT r11 item 3): the 100x accuracy drop (0.55 -> 0.33 on
# the 10x -> 100x fixtures) was measured to be CAP-INDUCED, not
# fixture geometry — probe_knn_recall_r12.json (script:
# tools/probe_knn_recall.py, last in commit 0cbd52b): exact-kNN sample
# accuracy at 100x is 1.0 and uncapped same-bucket recall@3 is 0.98,
# but recall@3 under a FIXED 128 cap is 0.008 (the cap keeps the
# lowest train ids, cutting 98.5% of candidates). The cap therefore
# SCALES log-linearly with the train corpus: one extra 128-slot
# tranche per doubling of n_train beyond _KNN_CAPBASE —
#   cap = _KNN_BUCKCAP * greatest(1, ceil(log2(n_train/_KNN_CAPBASE)))
# — keeping the bucket join at O(N log N) (a structural ceiling still:
# probe cost per test vector grows only logarithmically) while recall
# tracks the corpus. sf0.01/sf0.1 have n_train < 2 x _KNN_CAPBASE, so
# the factor is 1 and all provided testdata stays byte-identical;
# measured at 10x/100x the scaled cap lifts accuracy 0.55 -> 0.92 and
# 0.28 -> ~0.6 (probe_knn_recall_r12.json). Mirrored in the oracle via
# the same greatest/ceil/log2 on COUNT(train) — exact-integer input,
# IEEE log2 on both engines.
_KNN_BUCKCAP = 128
_KNN_CAPBASE = 2048
# Join-salt fan-out for the LSH bucket probe (r12): 2^_N_PLANES
# distinct bucket keys cap the probe join's parallelism at that many
# tasks; salting widens it to buckets x _KNN_JOINSALT while the
# replicated side is the CAPPED train frame (<= buckets x cap rows),
# so the copy cost is bounded and independent of corpus size.
_KNN_JOINSALT = 8
_KNN_K = 3


def _knn_lsh_cap(n_train: int) -> int:
    """Python twin of the in-plan/oracle cap expression (it priced
    the production cap in probe_knn_recall_r12.json; script
    tools/probe_knn_recall.py, last in commit 0cbd52b)."""
    import math

    return _KNN_BUCKCAP * max(
        1, math.ceil(math.log2(max(n_train, 1) / _KNN_CAPBASE))
    )


@register(
    "knn_classifier_eval",
    oracle=f"""
    WITH t AS (
      SELECT vec_id, label, i - 1 AS i,
             CAST(round(x * {_OUT_Q}) AS BIGINT) AS q,
             {X.token_hash_sql('CAST(vec_id AS VARCHAR)', seed=_KNN_SEED)} % 100
               AS bkt
      FROM (SELECT vec_id, label,
                   unnest(CAST(embedding AS DOUBLE[])) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    nrm AS (SELECT vec_id, sum(q * q) AS nq FROM t GROUP BY 1),
    dots AS (
      SELECT a.vec_id AS test_id, any_value(a.label) AS actual,
             b.vec_id AS train_id, any_value(b.label) AS cand,
             sum(a.q * b.q) AS d
      FROM t a JOIN t b ON b.i = a.i
      WHERE a.bkt >= {_KNN_TRAIN} AND b.bkt < {_KNN_TRAIN}
      GROUP BY a.vec_id, b.vec_id
    ),
    cosv AS (
      SELECT d.test_id, d.actual, d.train_id, d.cand,
             CAST(round(d.d / sqrt(CAST(na.nq AS DOUBLE)
                                   * CAST(nb.nq AS DOUBLE)) * 1e6)
                  AS BIGINT) AS cu
      FROM dots d
      JOIN nrm na ON na.vec_id = d.test_id
      JOIN nrm nb ON nb.vec_id = d.train_id
    ),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY test_id
                 ORDER BY cu DESC, train_id ASC) AS rn
        FROM cosv) WHERE rn <= {_KNN_K}
    ),
    vote AS (
      SELECT test_id, actual, cand, count(*) AS votes,
             max(cu) AS best_cu
      FROM top GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT test_id, actual, cand AS predicted
      FROM (SELECT *, row_number() OVER (PARTITION BY test_id
              ORDER BY votes DESC, best_cu DESC, cand ASC) AS rn
            FROM vote)
      WHERE rn = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN actual = predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN actual = predicted THEN 1 ELSE 0 END)
                 * 1e0 / count(*), 6) AS accuracy
    FROM pred
    """,
    scale_class="diagnostic",
)
def knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN ({_KNN_K}-neighbor majority vote, cosine) evaluation of
    the embedding space against its labels on a {_KNN_TRAIN}/30
    vec-id-hash split — the standard probe for "does this embedding
    encode the labels", one level more demanding than
    `embedding_label_separation`'s centroid view (centroids can
    separate while local neighborhoods are polluted — kNN sees that).
    Vote ties break by best cosine then label name; cosines are
    micro-quantized integers from the exact-integer dot/norm trick.

    Scale shape: this exact version is test x train all-pairs (one
    integer array-dot per pair; the join is unhinted so Spark
    broadcasts the smaller side while it fits) — the honest diagnostic
    at audit sizes; at 100 TB the neighbor search swaps to the LSH/IVF
    indexes whose recall/MRR/nDCG this engine already measures,
    leaving the vote and eval stages unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    bkt = X.token_hash(F.col("vec_id").cast("string"), seed=_KNN_SEED) % 100
    # r11 shape: the milli-unit vectors stay ARRAYS and each test×train
    # pair does one zip_with/aggregate integer dot — the old
    # posexplode + join-on-dimension computed the same integers but its
    # shuffle key was the 12-value dimension id, capping parallelism at
    # 12 skewed tasks (29.6 s at sf0.1 for 836k pairs; ~3 s this way).
    # The all-pairs join itself is UNHINTED: Spark broadcasts the
    # smaller side while it fits (the sweep's 1g driver included) —
    # this stays the diagnostic exact variant, the at-scale path is
    # the LSH twin below. Same integer dot/norm values pair-for-pair.
    qarr = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * _OUT_Q).cast("long"),
    )
    t = S.ensure_min_parallelism(
        emb.select("vec_id", "label", bkt.alias("bkt"), qarr.alias("qv")),
        "vec_id",
    )
    nq = F.aggregate(
        F.transform("qv", lambda q: q * q),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    a = t.filter(F.col("bkt") >= _KNN_TRAIN).select(
        F.col("vec_id").alias("test_id"),
        F.col("label").alias("actual"),
        F.col("qv").alias("qa"),
        nq.alias("nqa"),
    )
    b = t.filter(F.col("bkt") < _KNN_TRAIN).select(
        F.col("vec_id").alias("train_id"),
        F.col("label").alias("cand"),
        F.col("qv").alias("qb"),
        nq.alias("nqb"),
    )
    # zip_with pads the shorter of two unequal-length arrays with NULL,
    # and one NULL product would NULL the whole sum — silently dropping
    # that pair from the vote (ADVICE r11). coalesce(x*y, 0) restores
    # the dimension-keyed join's partial-dot-over-shared-indices
    # semantics (and the oracle's unnest-join dot) for any ragged
    # embedding; identical on the fixed-dimension provided data.
    d = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: F.coalesce(x * y, F.lit(0))),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cosv = a.crossJoin(b).select(
        "test_id", "actual", "train_id", "cand",
        F.round(
            d
            / F.sqrt(F.col("nqa").cast("double") * F.col("nqb").cast("double"))
            * F.lit(1e6)
        )
        .cast("long")
        .alias("cu"),
    )
    from pyspark.sql import Window

    wt = Window.partitionBy("test_id").orderBy(
        F.desc("cu"), F.asc("train_id")
    )
    top = cosv.withColumn("rn", F.row_number().over(wt)).filter(
        F.col("rn") <= _KNN_K
    )
    vote = top.groupBy("test_id", "actual", "cand").agg(
        F.count(F.lit(1)).alias("votes"), F.max("cu").alias("best_cu")
    )
    wv = Window.partitionBy("test_id").orderBy(
        F.desc("votes"), F.desc("best_cu"), F.asc("cand")
    )
    pred = (
        vote.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("actual", F.col("cand").alias("predicted"))
    )
    return pred.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.round(
            F.sum(
                F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0)
            )
            * F.lit(1.0)
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


@register(
    "knn_classifier_eval_lsh",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
             {S.lsh_bucket_sql('CAST(embedding AS DOUBLE[])',
                               S.hyperplanes(_N_PLANES, _N_DIMS))} AS bucket,
             {X.token_hash_sql('CAST(vec_id AS VARCHAR)', seed=_KNN_SEED)} % 100
               AS bkt
      FROM embeddings
    ),
    te AS (SELECT vec_id AS test_id, label AS actual, emb AS temb, bucket
           FROM v WHERE bkt >= {_KNN_TRAIN}),
    tr AS (
      SELECT train_id, cand, emb, bucket FROM (
        SELECT vec_id AS train_id, label AS cand, emb, bucket,
               row_number() OVER (PARTITION BY bucket
                 ORDER BY vec_id ASC) AS crn
        FROM v WHERE bkt < {_KNN_TRAIN})
      WHERE crn <= {_KNN_BUCKCAP} * greatest(1, ceil(log2(
              greatest((SELECT count(*) FROM v WHERE bkt < {_KNN_TRAIN}), 1)
              / {_KNN_CAPBASE}e0)))),
    cosv AS (
      SELECT te.test_id, te.actual, tr.train_id, tr.cand,
             ROUND(CASE WHEN list_inner_product(te.temb, te.temb) = 0
                          OR list_inner_product(tr.emb, tr.emb) = 0 THEN NULL
                   ELSE list_cosine_similarity(te.temb, tr.emb) END, 6)
               AS cosine
      FROM te JOIN tr ON tr.bucket = te.bucket
    ),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY test_id
                 ORDER BY cosine DESC, train_id ASC) AS rn
        FROM cosv) WHERE rn <= {_KNN_K}
    ),
    vote AS (
      SELECT test_id, actual, cand, count(*) AS votes,
             max(cosine) AS best_cos
      FROM top GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT test_id, actual, cand AS predicted
      FROM (SELECT *, row_number() OVER (PARTITION BY test_id
              ORDER BY votes DESC, best_cos DESC, cand ASC) AS rn
            FROM vote)
      WHERE rn = 1
    )
    SELECT CAST((SELECT count(*) FROM te) AS BIGINT) AS n_test,
           CAST(count(*) AS BIGINT) AS n_covered,
           CAST(sum(CASE WHEN actual = predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           ROUND(sum(CASE WHEN actual = predicted THEN 1 ELSE 0 END)
                 * 1e0 / count(*), 6) AS accuracy,
           ROUND(count(*) * 1e0 / (SELECT count(*) FROM te), 6) AS coverage
    FROM pred
    """,
)
def knn_classifier_eval_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALABLE twin of `knn_classifier_eval` (VERDICT r8 item 2):
    identical {_KNN_TRAIN}/30 split, {_KNN_K}-neighbor cosine majority
    vote, and eval stages, but candidate neighbors come from the
    random-hyperplane LSH band index (the `ann_lsh_topk` bucketing)
    instead of the all-pairs dimension-keyed join — each test vector
    scores only the train vectors in ITS OWN bucket, a plain equi-join
    on the {_N_PLANES}-bit bucket id. Work is Σ_b |test_b|·|train_b|
    ≪ |test|·|train|; one shuffle on bucket, one window per test id.

    The approximation is surfaced, not hidden: `coverage` reports the
    fraction of test vectors whose bucket held ≥1 train candidate, and
    `accuracy` is measured over the covered set — comparing this row
    against the exact twin's row IS the recall/quality trade study.
    The per-bucket candidate cap scales log2 with the train-corpus
    size (r12, measured cap-induced recall loss at 100x — see
    _KNN_BUCKCAP), so probe cost per test vector grows only
    logarithmically while recall tracks the corpus. At
    100 TB: bucket ids persist next to the vectors (the maintained LSH
    index), so the probe is an index equi-join with no re-hash of the
    corpus; multi-band OR-amplification raises coverage at a linear
    cost in bands, exactly as in `dedup_minhash_lsh`."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = S.hyperplanes(_N_PLANES, _N_DIMS)
    from pyspark.sql import Window

    v = S._with_norm(
        emb.select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
            S.lsh_bucket(
                F.col("embedding").cast("array<double>"), planes
            ).alias("bucket"),
            (
                X.token_hash(F.col("vec_id").cast("string"), seed=_KNN_SEED)
                % 100
            ).alias("bkt"),
        )
    )
    te = v.filter(F.col("bkt") >= _KNN_TRAIN).select(
        F.col("vec_id").alias("test_id"),
        F.col("label").alias("actual"),
        F.col("v").alias("temb"),
        F.col("nrm").alias("tnrm"),
        "bucket",
    )
    wcap = Window.partitionBy("bucket").orderBy(F.asc("train_id"))
    trpre = v.filter(F.col("bkt") < _KNN_TRAIN).select(
        F.col("vec_id").alias("train_id"),
        F.col("label").alias("cand"),
        F.col("v").alias("emb"),
        F.col("nrm").alias("rnrm"),
        "bucket",
    )
    # log-scaled cap (see _KNN_BUCKCAP / _knn_lsh_cap): one 128-slot
    # tranche per doubling of n_train beyond _KNN_CAPBASE. The 1-row
    # cap frame rides a broadcast cross join; the extra count is a
    # column-pruned scan (vec_id/bkt only).
    capdf = trpre.agg(
        (
            F.lit(_KNN_BUCKCAP)
            * F.greatest(
                F.lit(1).cast("long"),
                F.ceil(
                    F.log2(
                        F.greatest(F.count(F.lit(1)), F.lit(1))
                        / F.lit(float(_KNN_CAPBASE))
                    )
                ),
            )
        ).alias("__cap")
    )
    tr = (
        trpre.withColumn("crn", F.row_number().over(wcap))
        .crossJoin(F.broadcast(capdf))
        .filter(F.col("crn") <= F.col("__cap"))
        .drop("crn", "__cap")
    )
    # Salt the bucket equi-join (r12): with {_N_PLANES} planes there
    # are only 2^{_N_PLANES} distinct join keys, so the shuffle join —
    # and the dominant per-pair HOF cosine right after it — runs on at
    # most that many tasks no matter the core count (measured: the
    # 100x probe spent ~190 s with 16 of 32 cores idle). Each test row
    # takes ONE deterministic salt, the (already capped, <= buckets x
    # cap rows) train side replicates across ALL salts, and the join
    # key widens to (bucket, salt): every same-bucket pair still meets
    # exactly once, candidate volume is unchanged, and parallelism
    # rises to buckets x _KNN_JOINSALT. Pure partitioning — results
    # byte-identical, oracle untouched.
    te_s = te.withColumn(
        "__salt", F.pmod(F.xxhash64("test_id"), F.lit(_KNN_JOINSALT))
    )
    tr_s = tr.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(_KNN_JOINSALT - 1))),
    )
    cosv = te_s.join(tr_s, ["bucket", "__salt"]).select(
        "test_id",
        "actual",
        "train_id",
        "cand",
        F.round(
            S._cosine_pre(
                F.col("temb"), F.col("emb"), F.col("tnrm"), F.col("rnrm")
            ),
            6,
        ).alias("cosine"),
    )
    wt = Window.partitionBy("test_id").orderBy(
        F.desc("cosine"), F.asc("train_id")
    )
    top = cosv.withColumn("rn", F.row_number().over(wt)).filter(
        F.col("rn") <= _KNN_K
    )
    vote = top.groupBy("test_id", "actual", "cand").agg(
        F.count(F.lit(1)).alias("votes"), F.max("cosine").alias("best_cos")
    )
    wv = Window.partitionBy("test_id").orderBy(
        F.desc("votes"), F.desc("best_cos"), F.asc("cand")
    )
    pred = (
        vote.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("actual", F.col("cand").alias("predicted"))
    )
    stats = pred.agg(
        F.count(F.lit(1)).cast("long").alias("n_covered"),
        F.sum(F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )
    tot = te.agg(F.count(F.lit(1)).cast("long").alias("n_test"))
    return tot.crossJoin(stats).select(
        "n_test",
        "n_covered",
        "n_correct",
        F.round(
            F.col("n_correct") * F.lit(1.0) / F.col("n_covered"), 6
        ).alias("accuracy"),
        F.round(F.col("n_covered") * F.lit(1.0) / F.col("n_test"), 6).alias(
            "coverage"
        ),
    )
