"""Similarity search over embedding columns (north star: BASELINE.json;
SURVEY.md §7.2.10): brute-force cosine top-k as the correctness
baseline, random-hyperplane LSH bucketing as the scale path.

Scale posture:
- brute force is query-set × corpus — fine when the query set is small
  and broadcastable (the corpus is NEVER collected; the join fans out
  map-side and top-k is a per-query window over the joined stream).
- LSH buckets turn the cross join into an equi-join on bucket id:
  corpus shuffles once by bucket, each query probes only its bucket.
  Recall < 1 by design; the bucket count (2^n_planes) is the knob.

Hyperplanes are derived from md5 via pure Python (`_plane_weight`) and
embedded as literals into BOTH the Spark plan and the oracle SQL —
deterministic and engine-independent.

All arithmetic in float64: embeddings are array<float>, cast up before
the dot product so Spark and DuckDB agree bit-for-bit after rounding.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# Every score is rounded to this many decimals before it is ranked or
# thresholded (the registry's ROUND(x, 6) convention): both engines then
# rank on the same value, so a last-bit summation difference cannot flip
# a neighbour.
_ROUND = 6


def _plane_weight(plane: int, dim: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1): md5(plane:dim)
    reduced mod 2001 → scaled. Pure Python so the same constants can be
    embedded in oracle SQL."""
    h = int(hashlib.md5(f"plane:{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def hyperplanes(n_planes: int, n_dims: int) -> list[list[float]]:
    return [[_plane_weight(p, d) for d in range(n_dims)] for p in range(n_planes)]


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a fold over zip_with — sequential left-to-right, the
    same order DuckDB's list functions use, so doubles agree.

    Measured dead end (r5), do not retry: statically unrolling this to
    a 64-term element_at sum (to escape the interpreted-HOF path) was
    value-bit-identical but 3-5x SLOWER end-to-end on the kmeans/IVF
    queries — the giant generated methods blow past JIT inlining
    limits and Catalyst analysis time grows with the 128x larger
    expression trees (plan build 6.2s vs 1.3s, exec 12.8s vs 4.0s on
    ann_ivf_trained_topk at sf0.1). Unrolling the 4x64 LSH plane
    projections was 2x slower likewise; only the 8-dim PQ subspace
    kernel broke even. The fold stays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not an ANSI DIVIDE_BY_ZERO abort) when
    either vector has zero norm — zero vectors DO occur in real corpora
    (empty documents embed to zeros), and Spark 4 runs ANSI by default.
    try_divide equals plain division wherever the denominator is
    nonzero, so every oracle pairing is value-identical on real data;
    on a zero vector DuckDB 1.0's list_cosine_similarity yields -1.0
    (measured — NOT NaN), so every oracle wraps it in a zero-norm CASE
    guard (CASE WHEN list_inner_product(x,x)=0 ... THEN NULL) to agree
    with this NULL, including under ORDER BY ... DESC where both
    engines then rank zero vectors last (pinned in
    tests/test_r6_advice.py)."""
    return F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _with_norm(df: DataFrame, vec_col: str = "v", out: str = "nrm") -> DataFrame:
    """Attach the L2 norm as a column. Cosine consumers precompute this
    ONCE per vector instead of re-deriving both norms inside every
    pair: the pairwise stage then does 1 dot product instead of 3 —
    higher-order array functions are interpreted (not codegen'd), so
    this is the dominant per-pair cost. sqrt/multiply order matches
    `cosine` exactly, so scores are bit-identical."""
    return df.withColumn(out, F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))


def _cosine_pre(a: Column, b: Column, nrm_a: Column, nrm_b: Column) -> Column:
    """cosine(a, b) with both norms precomputed (see _with_norm).
    NULL on zero-norm inputs, matching `cosine` (see its docstring)."""
    return F.try_divide(_dot(a, b), nrm_a * nrm_b)


def cosine_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k: for each query id, the k nearest other
    vectors. Ranking is on the ROUNDED cosine with id tie-break so the
    oracle ranks identically. Output: query_id, neighbor_id, cosine, rank.

    The query side is a tiny filtered subset → broadcast; the corpus
    streams through the join without materializing. Norms are
    precomputed per vector (_with_norm) so each of the |Q|·|corpus|
    pairs costs one dot product, not three."""
    vecs = _with_norm(
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    )
    q = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    joined = (
        vecs.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                _cosine_pre(
                    F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")
                ),
                _ROUND,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit p = 1 iff v·plane_p >= 0."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(w) for w in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(int(2**p))).otherwise(F.lit(0))
    return bucket


def lsh_bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB twin of `lsh_bucket` (list_dot_product against literal
    plane arrays)."""
    terms = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(w) for w in plane) + "]"
        terms.append(
            f"CASE WHEN list_dot_product({vec_expr}, {lit}) >= 0 THEN {2**p} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def ensure_min_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Index-build guard (r11): the vector-family map stages (N×k
    interpreted-HOF cosine/L2 expansions) inherit the SCAN partitioning,
    and a small-file corpus (one parquet row group) serializes them to
    ONE task no matter how many cores exist — the 10×/100× fixtures
    measured 45 s single-threaded for work 32 cores finish in ~2 s.
    Repartition UP to defaultParallelism only when the natural split
    count is below it: at 100 TB the scan already yields orders of
    magnitude more splits than cores, so this is a structural no-op
    there (never a down-shuffle of a big corpus); locally it buys full
    parallelism for one tiny corpus shuffle right before a .cache().
    Hash-partitioning on key_cols keeps placement deterministic.

    Streaming frames pass through untouched (ADVICE r11): `df.rdd`
    raises AnalysisException on a streaming DataFrame, and micro-batch
    map stages get their parallelism from the source's own partitioning
    anyway — the guard is a batch small-file workaround only."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, *[F.col(c) for c in key_cols])


def assign_nearest(vecs: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (rounded
    cosine, cid tie-break). vecs: (id_col, v); cents: (cid, cv) →
    (id_col, cid).

    Shape (r11 rewrite): corpus × broadcast(centroids), then a
    map-side-combining min(struct) argmin — the `_pq_codes` pattern —
    instead of a row_number window. The window shape sorted the ×k
    EXPANDED frame (wide rows: both vector payloads ride the sort) and
    shuffled it; AQE then coalesced the post-shuffle side to ~2 tasks,
    serializing the hot stage (measured 45 s for 20k vectors at the
    10× fixture vs 7 s for the PQ assignment doing 16× the distance
    evaluations). The argmin aggregates each scan partition down to
    one row per id BEFORE the exchange — no sort, shuffle carries
    (id, neg, cid) only.

    Tie semantics are the window's exactly: min(struct(__neg, cid))
    with __neg = -rounded_cosine, NaN→-inf, NULL→+inf, picks max cosine
    then min cid; a NULL cosine (zero-norm side, try_divide) loses to
    any real value, and an all-NULL id degenerates to min cid —
    identical to DESC-NULLS-LAST + cid ASC + rn=1 on both engines.

    NaN sentinel (ADVICE r11): both the pre-r11 window (`ccos DESC` —
    Spark sorts NaN above +inf) and the unchanged DuckDB row_number
    oracles rank a NaN cosine FIRST, but min(struct) with __neg =
    -NaN = NaN would rank it LAST. nanvl maps the negated NaN to -inf
    so the argmin reproduces the window/oracle ranking bit-for-bit;
    multiple NaNs still tie-break on min cid, matching NaN==NaN under
    both engines' sort. (A literal +inf cosine — impossible from
    finite inputs, only via norm overflow — is out of contract.)"""
    vn = _with_norm(vecs, "v", "__vn")
    cn = _with_norm(cents, "cv", "__cn")
    neg = F.coalesce(
        F.nanvl(
            -F.round(
                _cosine_pre(F.col("v"), F.col("cv"), F.col("__vn"), F.col("__cn")),
                _ROUND,
            ),
            F.lit(float("-inf")),
        ),
        F.lit(float("inf")),
    )
    return (
        vn.crossJoin(F.broadcast(cn))
        .select(F.col(id_col), F.col("cid"), neg.alias("__neg"))
        .groupBy(id_col)
        .agg(F.min(F.struct("__neg", "cid")).alias("__b"))
        .select(id_col, F.col("__b.cid").alias("cid"))
    )


# Hard ceiling on the deterministic centroid sample. Without it the
# `id % init_mod == 0` rule makes nlist ∝ N, so Lloyd training and list
# assignment cost N × nlist = N²/init_mod — measured 71.7× on 10× data
# (r10 scale-trend, tools/make_scale10.py fixture). The cap keeps both
# linear (N × init_mod·cap): init = the `cap` SMALLEST sample ids via
# ORDER BY id LIMIT cap (Spark plans it as TakeOrderedAndProject — a
# per-partition top-K merge, no full sort), the static-SQL-expressible
# form of FAISS's bounded training sample. ADVICE r10: an absolute
# `id < init_mod·cap` ceiling read the same on dense-from-0 ids but
# yielded an EMPTY init on id spaces starting above the ceiling; the
# LIMIT form is offset-proof (empty only if NO id ≡ 0 mod init_mod,
# which both engines treat identically). On dense-from-0 ids the two
# forms select the identical set, so all provided testdata results are
# byte-for-byte unchanged.
_INIT_CAP = 256


def kmeans_centroids(
    vecs: DataFrame,
    id_col: str,
    init_mod: int = 31,
    n_iters: int = 2,
) -> DataFrame:
    """Lloyd's k-means over the corpus, fully deterministic so a SQL
    oracle can replay it: init = corpus sample (id % init_mod == 0,
    capped to the first _INIT_CAP sample ids), then
    n_iters of [assign to nearest by rounded cosine → centroid =
    element-wise mean of assigned vectors, rounded]. Clusters that lose
    all members drop out (both engines drop them identically).

    Scale posture: each iteration is one broadcast-join assignment plus
    one shuffle keyed by (cid, dim) for the means — no driver collect;
    centroid count is STRUCTURALLY ≤ _INIT_CAP, so the broadcast holds
    and training stays linear in the corpus at 100 TB.
    vecs: (id_col, v) → (cid, cv)."""
    cents = (
        vecs.filter(F.col(id_col) % init_mod == 0)
        .select(F.col(id_col).alias("cid"), F.col("v").alias("cv"))
        .orderBy("cid")
        .limit(_INIT_CAP)
    )
    for _ in range(n_iters):
        assign = assign_nearest(vecs, cents, id_col)
        exploded = assign.join(vecs, id_col).select(
            "cid", F.posexplode("v").alias("pos", "val")
        )
        cents = (
            exploded.groupBy("cid", "pos")
            .agg(F.avg("val").alias("val"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda s: F.round(s["val"], _ROUND),
                ).alias("cv")
            )
        )
    return cents


def kmeans_sql(n_iters: int, init_mod: int = 31) -> str:
    """DuckDB twin of `kmeans_centroids` as a CTE chain fragment.
    Assumes a CTE `v(vec_id, emb)` is already defined; emits CTEs
    `k0..k{n}` and expects the caller to read centroids from
    `k{n_iters}(cid, cemb)`. The k0 sample carries the same _INIT_CAP
    ceiling as the Spark side (see _INIT_CAP).

    The assignment ORDER BY wraps list_cosine_similarity in the same
    zero-norm CASE guard every other oracle uses (see `cosine`'s
    docstring): DuckDB yields -1.0 on a zero vector where Spark's
    try_divide yields NULL, and both engines sort NULLS LAST under
    DESC, so the guard makes zero vectors rank identically."""
    ctes = [
        f"k0 AS (SELECT vec_id AS cid, emb AS cemb FROM v "
        f"WHERE vec_id % {init_mod} = 0 ORDER BY vec_id LIMIT {_INIT_CAP})"
    ]
    for i in range(1, n_iters + 1):
        guarded_cos = (
            "CASE WHEN list_inner_product(v.emb, v.emb) = 0"
            " OR list_inner_product(c.cemb, c.cemb) = 0 THEN NULL"
            f" ELSE ROUND(list_cosine_similarity(v.emb, c.cemb), {_ROUND}) END"
        )
        ctes.append(f"""ka{i} AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid, row_number() OVER (
          PARTITION BY v.vec_id
          ORDER BY {guarded_cos} DESC NULLS LAST, c.cid ASC
        ) AS rn FROM v, k{i-1} c) WHERE rn = 1
    )""")
        ctes.append(f"""km{i} AS (
      SELECT cid, pos, avg(val) AS val FROM (
        SELECT a.cid, unnest(v.emb) AS val, unnest(range(1, len(v.emb)+1)) AS pos
        FROM ka{i} a JOIN v USING (vec_id)
      ) GROUP BY cid, pos
    )""")
        ctes.append(
            f"k{i} AS (SELECT cid, list(ROUND(val, {_ROUND}) ORDER BY pos) AS cemb "
            f"FROM km{i} GROUP BY cid)"
        )
    return ",\n    ".join(ctes)


def ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    centroid_mod: int = 31,
    nprobe: int = 4,
    k: int = 3,
    train_iters: int = 0,
) -> DataFrame:
    """ANN via IVF (inverted-file index): corpus vectors are assigned to
    their nearest centroid once (the inverted lists); each query probes
    only its `nprobe` closest centroids' lists. Same output shape as
    cosine_topk; recall < 1 by design — nprobe is the knob.

    Centroids: with train_iters == 0, a deterministic corpus sample
    (id % centroid_mod == 0) so the oracle can reproduce the index
    exactly; with train_iters > 0, Lloyd-trained from that same init
    (`kmeans_centroids` — still deterministic and oracle-replayable).
    Training changes recall, not the plan shape.

    Scale posture: assignment = corpus × broadcast(centroids) map-side
    + one shuffle to rank per vector; at query time the probe set is
    tiny and broadcast, so each query scans Σ of nprobe list sizes ≈
    nprobe/C of the corpus. On a cluster the lists would be WRITTEN
    partitioned by centroid id (partition pruning makes the probe an
    index lookup, not a filter)."""
    vecs = _with_norm(
        ensure_min_parallelism(
            emb.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
            ),
            id_col,
        )
    )
    if train_iters > 0:
        # cache the NORMALIZED CORPUS too: every Lloyd iteration, the
        # final assignment, and the scoring join each re-derive it, and
        # the norm is an interpreted-HOF pass over every vector — the
        # dominant repeated cost. An ANN index build at 100 TB persists
        # this frame for the same reason (it is read 2·iters+2 times).
        vecs = vecs.cache()
        # cache: the trained centroid set (tiny) feeds BOTH the corpus
        # assignment and the query probes — without it Spark would
        # re-run every Lloyd iteration for each consumer.
        cents = kmeans_centroids(
            vecs.select(id_col, "v"), id_col, init_mod=centroid_mod,
            n_iters=train_iters,
        ).cache()
    else:
        cents = (
            vecs.filter(F.col(id_col) % centroid_mod == 0)
            .select(F.col(id_col).alias("cid"), F.col("v").alias("cv"))
            .orderBy("cid")
            .limit(_INIT_CAP)
        )
    cents_n = _with_norm(cents, "cv", "__cn")
    assign = assign_nearest(vecs.select(id_col, "v"), cents, id_col)
    q = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cents_n))
        .withColumn(
            "ccos",
            F.round(
                _cosine_pre(F.col("qv"), F.col("cv"), F.col("qnrm"), F.col("__cn")),
                _ROUND,
            ),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qnrm", "cid")
    )
    cand = assign.join(F.broadcast(probes), "cid").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = cand.join(vecs, id_col).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            _cosine_pre(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")),
            _ROUND,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_neardup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 4,
    threshold: float = 0.35,
    n_dims: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: vectors in the same
    hyperplane-LSH bucket whose cosine ≥ threshold. Output: id_a, id_b,
    cosine (rounded; the threshold applies to the rounded value so the
    oracle can't flip a boundary pair).

    Pass `n_dims` (callers know it from schema/config) — the
    `.first()` fallback costs an extra Spark job at plan-construction
    time (ADVICE r1).

    Scale posture: the corpus shuffles ONCE on bucket id; each bucket
    self-joins locally (bucket² work, corpus-wide it is Σ bucketᵢ² ≪
    corpus²). Recall < 1 by design — near-identical vectors land in the
    same bucket with probability ≈ 1 - hamming/π per plane."""
    if n_dims is None:
        n_dims = len(emb.select(vec_col).first()[0])
    planes = hyperplanes(n_planes, n_dims)
    vecs = _with_norm(
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    ).withColumn("bucket", lsh_bucket(F.col("v"), planes))
    a = vecs.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), F.col("bucket").alias("bucket_b"),
    )
    cos = F.round(
        _cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), _ROUND
    )
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def lsh_cosine_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    n_planes: int = 4,
    k: int = 3,
    n_dims: int | None = None,
) -> DataFrame:
    """ANN via hyperplane-LSH: each query only scans its own bucket
    (equi-join on bucket id instead of a cross join). Same output shape
    as `cosine_topk`; recall is approximate by design. Pass `n_dims`
    to avoid the plan-construction-time `.first()` probe job."""
    if n_dims is None:
        n_dims = len(emb.select(vec_col).first()[0])
    planes = hyperplanes(n_planes, n_dims)
    vecs = _with_norm(
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    ).withColumn("bucket", lsh_bucket(F.col("v"), planes))
    q = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    joined = vecs.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col(id_col) != F.col("query_id")),
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            _cosine_pre(F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm")),
            _ROUND,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return joined.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
