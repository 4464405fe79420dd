"""Multimodal columns as driver queries (north star: BASELINE.json).

The testdata has no binary table, so the media table is derived
DETERMINISTICALLY from `documents` (content = utf-8 bytes of text,
media_type split by doc_id % 3) — the binary-column plumbing
(BinaryType schema, mapInPandas Arrow batches, 1:N frame fan-out) is
the thing under test, and because the stub decoder is md5-derived the
DuckDB oracle reproduces it exactly: a CHECKED Python-UDF path, not a
rows-only one.

frame_digest (md5 over content ++ 4-byte frame index) is excluded from
the frame-sample query output: DuckDB has no md5(BLOB), and NUL-bearing
byte strings don't round-trip through VARCHAR — it stays covered by
tests/test_multimodal.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineeringproject_spark import multimodal as M
from dataengineeringproject_spark.registry import register
from dataengineeringproject_spark.schemas import load_table
from dataengineeringproject_spark.session import ensure_package_on_workers
from dataengineeringproject_spark.streaming.commit import pinned_shuffle_partitions

# d0/d1/d2/d3 = bytes 0..3 of md5(content), as DuckDB ints.
_D = [f"CAST(concat('0x', substr(md5(text), {1 + 2 * i}, 2)) AS INT)" for i in range(4)]


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (media_id, media_type, content BINARY, meta MAP):
    doc_id % 3 == 0 → 'video', == 1 → 'audio', == 2 → 'image'."""
    ensure_package_on_workers(spark)
    return _media_frame(load_table(spark, sf_dir, "documents"))


def _media_frame(docs: DataFrame) -> DataFrame:
    """The documents→media projection itself, applied to a batch OR
    streaming documents frame — one definition for both arrival modes
    (the streaming ingest twin uses it on a readStream source)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("video"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("image"))
        .alias("media_type"),
        F.encode("text", "UTF-8").alias("content"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )


@register(
    "multimodal_image_features",
    oracle=f"""
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           64 + {_D[0]} % 192 AS width,
           64 + {_D[1]} % 192 AS height,
           ROUND({_D[2]} / 255.0, 6) AS mean_luma
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over a BINARY column via mapInPandas
    (Arrow-batched, no shuffle). The decode step is the deterministic
    stub (multimodal._decode_image_fake); the oracle recomputes it from
    md5 — schema, batching, and plumbing are verified end-to-end."""
    return M.extract_image_features(_media(spark, sf_dir), fake_decode=True)


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx
    FROM (SELECT doc_id, 30 + {_D[3]} % 270 AS n_frames
          FROM documents WHERE doc_id % 3 = 0),
         UNNEST(generate_series(0, n_frames - 1, 10)) AS u(f)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: 1:N mapInPandas fan-out (one output row per
    sampled frame) — the batch shape video pipelines need; frame count
    derives from the stub decoder."""
    return M.sample_video_frames(_media(spark, sf_dir), every_n=10).select(
        "media_id", "frame_idx"
    )


@register(
    "multimodal_audio_features",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           1 + CAST(concat('0x', substr(md5(text), 9, 2)) AS INT) % 120 AS duration_s,
           8000 * (1 + CAST(concat('0x', substr(md5(text), 11, 2)) AS INT) % 5)
             AS sample_rate,
           ROUND(CAST(concat('0x', substr(md5(text), 13, 2)) AS INT) / 255.0, 6) AS rms
    FROM documents WHERE doc_id % 3 = 1
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode/feature-extract (duration, sample rate, RMS) over
    the BINARY column via mapInPandas — same Arrow plumbing as images,
    md5-stub decoder reproduced by the oracle."""
    return M.extract_audio_features(_media(spark, sf_dir), fake_decode=True)


@register(
    "multimodal_phash_neardup",
    oracle="""
    WITH img AS (
      SELECT doc_id AS media_id,
             CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS ahash
      FROM documents WHERE doc_id % 3 = 2
    ),
    allsig AS (
      SELECT media_id, ahash FROM img
      UNION ALL
      SELECT media_id + 100000,
             xor(ahash, CAST(1 AS BIGINT) << CAST(media_id % 60 AS INTEGER))
      FROM img WHERE media_id % 5 = 0
    )
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
    FROM allsig a JOIN allsig b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection by perceptual hash: per-image
    aHash (mapInPandas over the binary column) fed to the SAME
    pigeonhole-banded Hamming join as text SimHash
    (operators/dedup.signature_neardup — one machinery for every
    Hamming-space modality). The deterministic fake decoder yields
    independent signatures, so near-pairs are INJECTED: every 5th
    image gets a 1-bit-perturbed variant copy (id + 100000) — each
    must surface as a hamming-1 pair. The oracle is a brute-force
    all-pairs scan, independently verifying the banded join's
    completeness claim (any pair ≤ 3 bits apart shares ≥ 1 of 4
    bands). Scale: signatures are 1 long per image; the banded join
    is the only shuffle."""
    from dataengineeringproject_spark.operators.dedup import signature_neardup

    media = _media(spark, sf_dir)
    sig = M.extract_image_ahash(media, fake_decode=True)
    variants = sig.filter(F.col("media_id") % 5 == 0).select(
        (F.col("media_id") + 100000).alias("media_id"),
        F.col("ahash")
        .bitwiseXOR(F.expr("shiftleft(1L, CAST(media_id % 60 AS INT))"))
        .alias("ahash"),
    )
    allsig = sig.union(variants)
    return signature_neardup(
        allsig, "media_id", "ahash", bits=60, chunks=4, max_hamming=3
    ).select(
        F.col("id_a"), F.col("id_b"), F.col("hamming")
    )


# --- image dedup clusters (r5): pHash pairs -> connected components ----------


@register(
    "multimodal_phash_clusters",
    oracle="""
    WITH RECURSIVE
    img AS (
      SELECT doc_id AS media_id,
             CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS ahash
      FROM documents WHERE doc_id % 3 = 2
    ),
    allsig AS (
      SELECT media_id, ahash FROM img
      UNION ALL
      SELECT media_id + 100000,
             xor(ahash, CAST(1 AS BIGINT) << CAST(media_id % 60 AS INTEGER))
      FROM img WHERE media_id % 5 = 0
    ),
    pairs AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b
      FROM allsig a JOIN allsig b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT media_id, media_id FROM allsig
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS media_id, min(lbl) AS component FROM reach GROUP BY id)
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(media_id) AS BIGINT) AS rep_media_id
    FROM comp GROUP BY 1 HAVING count(*) > 1
    """,
)
def multimodal_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup CLUSTERS: the pHash near-dup pairs
    (multimodal_phash_neardup — banded Hamming join over mapInPandas
    aHash signatures) folded through the same min-label connected
    components as the text MinHash clusters — one graph machinery for
    every modality's near-dup pairs. Emits only multi-member
    components (the actionable dedup units: the injected 1-bit
    variants must each cluster with their original), with the min-id
    representative. Scale posture inherits both halves: 1-long
    signatures, banded join, label propagation rounds = cluster
    diameter (2 here)."""
    from dataengineeringproject_spark.operators.graph import (
        connected_components,
    )

    pairs = multimodal_phash_neardup(spark, sf_dir).select("id_a", "id_b")
    media = _media(spark, sf_dir)
    sig = M.extract_image_ahash(media, fake_decode=True)
    variants = sig.filter(F.col("media_id") % 5 == 0).select(
        (F.col("media_id") + 100000).alias("media_id")
    )
    nodes = sig.select("media_id").union(variants)
    comp = connected_components(nodes, pairs, id_col="media_id").select(
        F.col("id").alias("media_id"), "component"
    )
    return (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("media_id").cast("long").alias("rep_media_id"),
        )
        .filter(F.col("n_members") > 1)
    )


# --- STREAMING multimodal ingest (multimodal batch/streaming symmetry) -------

_IMG_FEATURES_ORACLE = f"""
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           64 + {_D[0]} % 192 AS width,
           64 + {_D[1]} % 192 AS height,
           ROUND({_D[2]} / 255.0, 6) AS mean_luma
    FROM documents WHERE doc_id % 3 = 2
    """


@register("streaming_multimodal_ingest", oracle=_IMG_FEATURES_ORACLE)
def streaming_multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of multimodal_image_features — FIFTH family with
    batch/streaming symmetry (after monitor, dedup+CDC, ANN, quality),
    and the production shape for multimodal data: decode and
    feature-extract media AT INGEST, as files land, so query time never
    touches raw bytes. Documents arrive as a file-drop stream (the
    same staged landing zone as the quality gate, maxFilesPerTrigger=1
    + availableNow = genuine micro-batches); each micro-batch runs the
    SAME documents→media projection (_media_frame) and the SAME
    Arrow-batched mapInPandas decode (M.extract_image_features) as the
    batch twin — stateless per-row work, so the stream needs no
    watermark and no state store, and append mode accumulates exactly
    the batch feature table. At 100 TB the memory sink becomes a
    parquet/lakehouse sink and per-trigger cost is O(new files) decode
    only — the corpus is never re-decoded. Full value-hash oracle
    (identical to the batch twin's); set-equality symmetry pin in
    tests/test_streaming.py."""
    from dataengineeringproject_spark.queries.curation import (
        _staged_docs_land,
    )
    from dataengineeringproject_spark.queries.streaming_q import (
        _RUN_ID,
    )
    from dataengineeringproject_spark.streaming.daily import run_to_memory

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    land = _staged_docs_land(spark, sf_dir)
    name = f"mm_ingest_q_{next(_RUN_ID)}"
    with pinned_shuffle_partitions(spark, 8):
        src = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
        )
        feats = M.extract_image_features(_media_frame(src), fake_decode=True)
        run_to_memory(feats, name, output_mode="append")
    return spark.table(name)
