"""Streaming analogs vs their batch equivalents: the streaming daily
means/mode over a parquet file-drop must equal the batch daily_agg on
the same data (drive with availableNow → memory sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """µs-precision copy of sf0.001 events as a streaming source dir."""
    from dataengineeringproject_spark.schemas import load_table

    out = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, "/root/testdata/sf0.001", "events").write.mode(
        "overwrite"
    ).parquet(out)
    return out


def test_streaming_daily_means_match_batch(spark, events_dir):
    from dataengineeringproject_spark.streaming.daily import (
        daily_means_stream,
        read_events_stream,
        run_to_memory,
    )

    stream = daily_means_stream(read_events_stream(spark, events_dir))
    run_to_memory(stream, "daily_means_out", output_mode="append")
    got = {
        r["day"]: (round(r["avg_value"], 6), r["n_events"])
        for r in spark.sql("SELECT * FROM daily_means_out").collect()
    }

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n"))
    )
    want = {r["day"]: (round(r["avg_value"], 6), r["n"]) for r in batch.collect()}
    # availableNow + append: windows at/after the watermark frontier are
    # held in state awaiting later data — all CLOSED windows must match.
    assert got, "no appended windows"
    for day, vals in got.items():
        assert vals == want[day], day
    # a 1-day watermark withholds the open last window AND the window
    # whose end lies inside the watermark horizon (end > maxEvent - 1d)
    assert len(got) >= len(want) - 2


def test_streaming_daily_mode_matches_batch(spark, events_dir):
    from dataengineeringproject_spark.operators.aggregates import agg_mode
    from dataengineeringproject_spark.streaming.daily import (
        daily_mode_stream,
        read_events_stream,
        run_to_memory,
    )

    stream = daily_mode_stream(read_events_stream(spark, events_dir))
    run_to_memory(stream, "daily_mode_out", output_mode="update")
    # update mode: keep the LAST emission per day
    got = {
        r["day"]: r["mode_event_type"]
        for r in spark.sql(
            """
            SELECT day, mode_event_type FROM (
              SELECT *, row_number() OVER (PARTITION BY day ORDER BY n_seen DESC) rn
              FROM daily_mode_out
            ) WHERE rn = 1
            """
        ).collect()
    }

    ev = spark.read.parquet(events_dir).select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"), "event_type"
    )
    want = {
        r["day"]: r["mode_event_type"]
        for r in agg_mode(ev, ["day"], "event_type", on_tie="min", alias="mode_event_type").collect()
    }
    assert got == want


def test_streaming_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restart-from-checkpoint: run 1 processes file A into a parquet
    sink; file B lands; run 2 with the SAME checkpoint processes ONLY
    B (offsets recovered, nothing reprocessed) — the file-sink
    exactly-once contract: final sink == batch union, no duplicates."""
    from pyspark.sql import functions as F

    from dataengineeringproject_spark.schemas import load_table
    from dataengineeringproject_spark.streaming.daily import read_events_stream

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    half = events.filter(F.col("event_id") % 2 == 0)
    other = events.filter(F.col("event_id") % 2 == 1)
    half.coalesce(1).write.mode("append").parquet(str(src))

    def run_once():
        q = (
            read_events_stream(spark, str(src))
            .select("event_id", "value")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(sink).count()
    assert n1 == half.count()
    other.coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == events.count()  # no reprocessing duplicates
    assert out.select("event_id").distinct().count() == events.count()


def test_streaming_incremental_gold_upsert(spark, tmp_path):
    """CDC-style gold-table maintenance: two file drops, two foreachBatch
    merges — the gold table must equal the batch daily aggregate over
    ALL data (sums compose across batches), and replaying a batch id
    must be a no-op (idempotency guard)."""
    from dataengineeringproject_spark.schemas import load_table
    from dataengineeringproject_spark.streaming.daily import read_events_stream
    from dataengineeringproject_spark.streaming.upsert import (
        daily_gold_upsert_query,
        merge_daily_gold,
        read_daily_gold,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = tmp_path / "src"
    gold = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")
    half = events.filter(F.col("event_id") % 2 == 0)
    other = events.filter(F.col("event_id") % 2 == 1)

    half.coalesce(1).write.mode("append").parquet(str(src))
    daily_gold_upsert_query(
        read_events_stream(spark, str(src)), gold, ckpt
    ).awaitTermination()
    other.coalesce(1).write.mode("append").parquet(str(src))
    daily_gold_upsert_query(
        read_events_stream(spark, str(src)), gold, ckpt
    ).awaitTermination()

    got = {
        r["day"]: (round(r["avg_value"], 9), r["n_events"])
        for r in read_daily_gold(spark, gold).collect()
    }
    want = {
        r["day"]: (round(r["avg_value"], 9), r["n"])
        for r in events.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want

    # idempotency: replaying an already-merged batch id changes nothing
    last = read_daily_gold(spark, gold).agg(F.max("last_batch_id")).first()[0]
    merge_daily_gold(spark, events.limit(50), last, gold)
    after = {
        r["day"]: (round(r["avg_value"], 9), r["n_events"])
        for r in read_daily_gold(spark, gold).collect()
    }
    assert after == got

    # crash safety (ADVICE r1): an incomplete version dir — a write that
    # died before its _SUCCESS marker — must be invisible to readers and
    # must not block a retry of that batch id
    import shutil as _sh
    from pathlib import Path as _P

    crashed = _P(gold) / f"v={last + 1}"
    crashed.mkdir()
    (crashed / "part-junk.parquet").write_bytes(b"not parquet")
    assert {
        r["day"]: (round(r["avg_value"], 9), r["n_events"])
        for r in read_daily_gold(spark, gold).collect()
    } == got
    merge_daily_gold(spark, events.limit(0), last + 1, gold)  # retry commits
    assert (crashed / "_SUCCESS").exists()
    after_retry = {
        r["day"]: (round(r["avg_value"], 9), r["n_events"])
        for r in read_daily_gold(spark, gold).collect()
    }
    assert after_retry == got
    _sh.rmtree(str(crashed), ignore_errors=True)


def test_streaming_dead_letter_routing(spark, tmp_path):
    """C2 streaming analog: violations go to the dead-letter sink with
    the violated condition attached; valid rows flow on; the union is
    lossless."""
    from pyspark.sql import functions as F

    from dataengineeringproject_spark.operators.validation import (
        validate_stream_dead_letter,
    )
    from dataengineeringproject_spark.schemas import load_table
    from dataengineeringproject_spark.streaming.daily import read_events_stream

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    events.coalesce(1).write.parquet(src)
    q = validate_stream_dead_letter(
        read_events_stream(spark, src),
        F.col("value").between(0, 75),
        valid_path=str(tmp_path / "valid"),
        dead_letter_path=str(tmp_path / "dead"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    valid = spark.read.parquet(str(tmp_path / "valid"))
    dead = spark.read.parquet(str(tmp_path / "dead"))
    n_bad = events.filter(
        ~F.coalesce(F.col("value").between(0, 75), F.lit(False))
    ).count()
    assert dead.count() == n_bad > 0
    assert valid.count() + dead.count() == events.count()
    assert "__violated" in dead.columns


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Watermark semantics: once the watermark (max event time − 1 day)
    has passed a window, a late event for that window is DROPPED and
    the window finalizes without it. Note Spark propagates watermarks
    with a one-batch lag — the filter in batch N uses the watermark
    computed from data through batch N−2 — so an extra intervening
    batch lets it catch up before the late arrival."""
    import datetime as dt

    from dataengineeringproject_spark.streaming.daily import (
        EVENTS_STREAM_SCHEMA,
        daily_means_stream,
        read_events_stream,
        run_to_memory,
    )

    src = tmp_path / "late_src"
    day1 = dt.datetime(2024, 1, 1, 12, 0)
    day9 = dt.datetime(2024, 1, 9, 12, 0)
    batches = [
        [(1, day1, 1, "click", 10.0, None)],
        [(2, day9, 1, "click", 20.0, None)],          # watermark -> day 8
        [(4, day9 + dt.timedelta(hours=1), 1, "click", 30.0, None)],
        [(3, day1, 1, "click", 1000.0, None)],        # LATE: below watermark
    ]
    for rows in batches:
        spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        import time

        time.sleep(1.2)  # distinct modTimes => deterministic batch order
    stream = daily_means_stream(
        read_events_stream(spark, str(src), max_files_per_trigger=1)
    )
    run_to_memory(stream, "late_data_out", output_mode="append")
    rows = {
        r["day"]: (r["avg_value"], r["n_events"])
        for r in spark.table("late_data_out").collect()
    }
    # the late 1000.0 event must NOT have entered the finalized window
    assert rows["2024-01-01"] == (10.0, 1)
    # the day-9 window is still open (not past watermark): append mode
    # has not emitted it
    assert "2024-01-09" not in rows


def test_streaming_query_restores_shuffle_partitions(spark):
    """The registered streaming queries pin shuffle partitions low while
    the stream runs (one state store per shuffle partition) but must
    restore the session value afterwards — a leaked pin would skew every
    batch query that runs later in the same session (ADVICE r1)."""
    from dataengineeringproject_spark.queries import streaming_q

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "13")  # distinct from the stream's pin of 8
        df = streaming_q.streaming_daily_means(spark, "/root/testdata/sf0.001")
        assert df.count() > 0
        assert spark.conf.get(key) == "13"
    finally:
        spark.conf.set(key, before)

    # staging is cached per (sf_dir, dups): a second run reuses the dir
    d1 = streaming_q._staged_events(spark, "/root/testdata/sf0.001")
    d2 = streaming_q._staged_events(spark, "/root/testdata/sf0.001")
    assert d1 == d2


def test_streaming_incremental_minhash_matches_batch_twin(spark):
    """Batch/streaming symmetry for the dedup family (the monitor
    family's standard): the foreachBatch accept loop — micro-batch
    bands vs persisted-index-plus-accepted-bands, appended after each
    accept — must produce EXACTLY the batch twin's pair set, including
    cross-micro-batch near-dup pairs (found once, when the later doc
    lands) and identical jaccard values and pair_type labels."""
    from dataengineeringproject_spark.queries import llm_text

    sf = "/root/testdata/sf0.001"
    cols = ["id_a", "id_b", "jaccard", "pair_type"]
    batch = {
        tuple(r)
        for r in llm_text.dedup_incremental_minhash(spark, sf)
        .select(*cols)
        .collect()
    }
    stream = {
        tuple(r)
        for r in llm_text.streaming_dedup_incremental_minhash(spark, sf)
        .select(*cols)
        .collect()
    }
    assert stream == batch
    assert len(stream) > 0


def test_streaming_cdc_upsert_matches_batch_twin(spark):
    """CDC family batch/streaming symmetry: the foreachBatch MERGE loop
    (union state + micro-batch, newest (ts, event_id) per key wins,
    tombstones retained in state and filtered at read-back) must equal
    the batch full-log collapse exactly — the retained-tombstone merge
    is associative, so micro-batch boundaries cannot change the
    result."""
    from dataengineeringproject_spark.queries import advanced

    sf = "/root/testdata/sf0.001"
    cols = ["user_id", "last_op", "last_ts", "last_value"]
    batch = {
        tuple(r)
        for r in advanced.cdc_latest_state_tombstones(spark, sf)
        .select(*cols)
        .collect()
    }
    stream = {
        tuple(r)
        for r in advanced.streaming_cdc_scd1_upsert(spark, sf)
        .select(*cols)
        .collect()
    }
    assert stream == batch
    assert len(stream) > 0


def test_streaming_ivf_append_matches_batch_assignment(spark):
    """ANN family batch/streaming symmetry: every vector the stream
    appends must land in the same inverted list (same cid, same
    rounded cosine) a batch assignment of the whole slice produces —
    the codebook is standing state, so micro-batch boundaries cannot
    influence assignment at all."""
    from pyspark.sql import Window

    from dataengineeringproject_spark.operators import similarity as S
    from dataengineeringproject_spark.queries import llm_vectors as LV
    from dataengineeringproject_spark.schemas import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = emb.filter(
        (LV._ivfs_bucket("vec_id") < LV._IVFS_EXISTING_PCT)
        & (F.col("vec_id") % LV._CENTROID_MOD == 0)
    ).select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    batch_vecs = emb.filter(
        LV._ivfs_bucket("vec_id") >= LV._IVFS_EXISTING_PCT
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc_nulls_last("cosine"), F.asc("cid")
    )
    batch = {
        tuple(r)
        for r in batch_vecs.crossJoin(F.broadcast(cents))
        .withColumn("cosine", F.round(S.cosine(F.col("v"), F.col("cv")), 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "cosine")
        .collect()
    }
    stream = {
        tuple(r)
        for r in LV.streaming_ivf_index_append(spark, sf)
        .select("vec_id", "cid", "cosine")
        .collect()
    }
    assert stream == batch
    assert len(stream) > 0


def test_foreachbatch_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """The streaming twins claim restart safety 'via the checkpoint +
    idempotent re-append': a re-run against the same checkpoint with
    no new files must invoke zero triggers (no duplicate appends), and
    after a new file lands, a resumed run must process ONLY that file.
    This pins the exact FileStreamSource+availableNow+foreachBatch
    contract the dedup/CDC/IVF accept loops are built on."""
    import pyspark.sql.functions as SF

    land = str(tmp_path / "land")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df1 = spark.range(0, 5).select(SF.col("id").alias("doc_id"))
    df1.coalesce(1).write.mode("append").parquet(land)

    def run_once():
        q = (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
            .writeStream.foreachBatch(
                lambda b, i: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert first == [0, 1, 2, 3, 4]
    run_once()  # restart, nothing new: must append NOTHING
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [0, 1, 2, 3, 4]
    spark.range(5, 8).select(SF.col("id").alias("doc_id")).coalesce(
        1
    ).write.mode("append").parquet(land)
    run_once()  # resume: ONLY the new file
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [0, 1, 2, 3, 4, 5, 6, 7]


def test_streaming_quality_gate_matches_batch_twin(spark):
    """Batch/streaming symmetry for the QUALITY family: the native
    unwindowed streaming aggregation over the shared _funnel_reason
    when-chain must converge (complete mode, 3 micro-batches) to
    EXACTLY the batch funnel's per-reason rows — same reasons, same
    doc counts, same char totals — and every non-vacuous branch of
    the funnel must appear in the streamed result too."""
    from dataengineeringproject_spark.queries import curation

    sf = "/root/testdata/sf0.001"
    cols = ["reject_reason", "n_docs", "n_chars_total"]
    batch = {
        tuple(r)
        for r in curation.quality_filter_funnel(spark, sf).select(*cols).collect()
    }
    stream = {
        tuple(r)
        for r in curation.streaming_quality_gate(spark, sf).select(*cols).collect()
    }
    assert stream == batch
    assert {r[0] for r in stream} >= {"pass"}
    assert len(stream) > 1  # at least one rejecting rule fires


def test_streaming_multimodal_ingest_matches_batch_twin(spark):
    """Batch/streaming symmetry for the MULTIMODAL family: the
    mapInPandas decode running per micro-batch over the file-drop
    stream must accumulate (append mode) EXACTLY the batch feature
    table — same media ids, dimensions, digests, luma."""
    from dataengineeringproject_spark.queries import multimodal_q

    sf = "/root/testdata/sf0.001"
    cols = [
        "media_id", "media_type", "n_bytes", "digest",
        "width", "height", "mean_luma",
    ]
    batch = {
        tuple(r)
        for r in multimodal_q.multimodal_image_features(spark, sf)
        .select(*cols)
        .collect()
    }
    stream = {
        tuple(r)
        for r in multimodal_q.streaming_multimodal_ingest(spark, sf)
        .select(*cols)
        .collect()
    }
    assert stream == batch
    assert len(stream) > 0


def test_streaming_binned_quantiles_match_batch_twin(spark):
    """Batch/streaming symmetry for the binned-quantile summary: the
    fixed-grid per-(type, bin) count/max streaming aggregation must
    converge to the batch histogram exactly, so the shared read-back
    finisher reports identical p50/p95/p99 per type."""
    from dataengineeringproject_spark.queries import advanced

    sf = "/root/testdata/sf0.001"
    cols = ["event_type", "p50", "p95", "p99"]
    batch = {
        tuple(r)
        for r in advanced.value_quantiles_binned(spark, sf).select(*cols).collect()
    }
    stream = {
        tuple(r)
        for r in advanced.streaming_value_quantiles_binned(spark, sf)
        .select(*cols)
        .collect()
    }
    assert stream == batch
    assert len(stream) > 0


def test_streaming_bm25_stats_matches_batch_recompute(spark):
    """Batch/streaming symmetry for the RETRIEVAL family: the ONLINE
    global aggregation of BM25 collection statistics (one-row state,
    complete mode, 3 micro-batches) must converge to exactly the
    statistics a from-scratch batch pass computes over the same
    corpus — same df/ctf/avgdl/idf per query term — and every query
    term must be present with a positive document frequency (the
    fixture corpus contains both terms, so a zero df means the online
    path dropped a micro-batch)."""
    from pyspark.sql import functions as SF

    from dataengineeringproject_spark.queries import llm_text
    from dataengineeringproject_spark.schemas import load_table
    from dataengineeringproject_spark.functions import text as X

    sf = "/root/testdata/sf0.001"
    stream = {
        tuple(r)
        for r in llm_text.streaming_bm25_stats(spark, sf).collect()
    }
    d = load_table(spark, sf, "documents")
    toks = X.tokens(SF.lower(SF.col("text")))
    f = d.select(SF.col("doc_id"), toks.alias("toks")).select(
        SF.size("toks").alias("dl"),
        *[
            SF.expr(f"size(filter(toks, w -> w = '{t}'))").alias(f"tf_{i}")
            for i, t in enumerate(llm_text._BM25_TERMS)
        ],
    )
    row = f.agg(
        SF.count(SF.lit(1)).alias("n"),
        SF.sum("dl").alias("tdl"),
        *[
            a
            for i in range(len(llm_text._BM25_TERMS))
            for a in (
                SF.sum(
                    SF.when(SF.col(f"tf_{i}") > 0, 1).otherwise(0)
                ).alias(f"df_{i}"),
                SF.sum(f"tf_{i}").alias(f"ctf_{i}"),
            )
        ],
    ).collect()[0]
    batch = set()
    for i, t in enumerate(llm_text._BM25_TERMS):
        import math

        n, df = row["n"], row[f"df_{i}"]
        batch.add(
            (
                t,
                n,
                df,
                row[f"ctf_{i}"],
                round(row["tdl"] / n, 6),
                round(math.log(1.0 + (n - df + 0.5) / (df + 0.5)), 6),
            )
        )
    assert stream == batch
    assert all(r[2] > 0 for r in stream)  # df > 0 for every query term


def test_streaming_event_transitions_matches_batch_twin(spark):
    """SEQUENCE family batch/streaming symmetry — the hardest stitch:
    transition pairs that straddle micro-batch boundaries exist in
    neither batch, so the foreachBatch loop must recover them from the
    per-user dangling-end state. Converged counts and probabilities
    must equal the batch lead() window exactly, and the boundary
    recovery must be non-vacuous (the 3-slice staging guarantees
    cross-batch pairs exist: total transitions = n_events - n_users,
    which single-batch windows alone cannot reach)."""
    from dataengineeringproject_spark.queries import advanced

    sf = "/root/testdata/sf0.001"
    cols = ["cur_type", "next_type", "n", "prob"]
    batch = {
        tuple(r)
        for r in advanced.event_transition_matrix(spark, sf)
        .select(*cols)
        .collect()
    }
    stream = {
        tuple(r)
        for r in advanced.streaming_event_transitions(spark, sf)
        .select(*cols)
        .collect()
    }
    assert stream == batch
    total = sum(r[2] for r in stream)
    from dataengineeringproject_spark.schemas import load_table
    from pyspark.sql import functions as SF

    ev = load_table(spark, sf, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert total == n_events - n_users  # every consecutive pair counted once
