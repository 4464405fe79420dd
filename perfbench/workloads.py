"""The three benchmark workloads, each as one pass over seeded inputs.

A pass calls into the package exactly as a user's job would. Every call
into a package module runs inside `Spans`, which times it and tags the
Spark jobs it starts with the module-qualified call name, so the event
log of a traced run can attribute jobs to layers. Tagging only sets a
thread-local property, so the timed and the traced runs execute the
same code; only the event log differs.

Workload interface: `prepare()` generates inputs (before Spark starts),
`stage(spark)` is program-side set-up counted in setup_s, `run_pass(i)`
is the timed pass, `check_pass(i)` verifies its output outside timing,
and `layer_probes()` (traced runs only) measures layers that the pass
does not call separately.

Pass 0 is the JVM's warm-up and is not reported. It runs the same calls
on the full input, except in `stream_upsert`, which warms up on a smaller
landing dir from the same generator and seed (see README.md).
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from contextlib import contextmanager

import checks
import gen

# Input sizes. A run (a fresh JVM, the warm-up and the measured passes)
# has to stay near 35 s; README.md has the sizing evidence.
WEATHER_MONTHS = 24
STREAM_FILES = {"full": 6, "warmup": 2}  # per landing dir; pass 0 uses "warmup"
STREAM_ROWS_PER_FILE = 3000
# (documents, planted chains, chain length)
CORPUS = (3000, 75, 8)
ORACLE_SLICE = (40, 4, 4)


class Spans:
    """Wall time around each call into a package module, keyed by pass."""

    def __init__(self, spark, workload: str, tags: bool = True):
        self.sc = spark.sparkContext
        self.workload, self.tags = workload, tags
        self.records: list[tuple[int, str, float]] = []  # (pass, name, seconds)
        self.pass_no = -1

    @contextmanager
    def __call__(self, name: str):
        if self.tags:
            self.sc.addJobTag(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.records.append((self.pass_no, name, time.perf_counter() - t0))
            if self.tags:
                self.sc.removeJobTag(name)

    def pass_tag(self, i: int) -> str:
        return f"{self.workload}.pass-{i}"

    @contextmanager
    def in_pass(self, i: int):
        """Tag every job of pass i with `pass_tag(i)`."""
        self.pass_no = i
        with self(self.pass_tag(i)):
            yield

    def seconds(self, i: int, name: str) -> float:
        return sum(s for p, n, s in self.records if p == i and n == name)


class WeatherETL:
    """extract -> clean -> transform -> validate -> load (parquet + SQLite)."""

    name = "weather_etl"
    job_tags = True
    min_warm = 1

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.csv = os.path.join(work, "weather.csv")

    def prepare(self) -> None:
        raw = gen.weather_csv(self.csv, WEATHER_MONTHS, self.seed)
        self.rows = len(raw)
        self.want = checks.expected_weather(raw)

    def stage(self, spark, spans: Spans) -> None:
        self.spark, self.spans = spark, spans

    def _out(self, i: int) -> tuple[str, str]:
        return os.path.join(self.work, f"out-{i}"), os.path.join(self.work, f"load-{i}.db")

    def run_pass(self, i: int) -> None:
        from dataengineeringproject_spark.plans.weather import (
            clean_stage, transform_stage, validate_stage)
        from dataengineeringproject_spark.schemas import WEATHER_HISTORY
        from dataengineeringproject_spark.sources.readers import read_csv
        from dataengineeringproject_spark.sources.sinks import write_parquet, write_sqlite

        out, db = self._out(i)
        sp = self.spans
        with sp("sources.readers.read_csv"):
            raw = read_csv(self.spark, self.csv, schema=WEATHER_HISTORY)
        with sp("plans.weather.clean_stage"):
            cleaned = clean_stage(raw)
        with sp("plans.weather.transform_stage"):
            tables = transform_stage(cleaned)
        with sp("plans.weather.validate_stage"):
            validate_stage(tables["daily"], tables["monthly"])
        for name, df in tables.items():
            with sp("sources.sinks.write_parquet"):
                write_parquet(df, os.path.join(out, name))
            with sp("sources.sinks.write_sqlite"):
                write_sqlite(df, db, f"{name}_weather", mode="overwrite")

    def check_pass(self, i: int) -> list[str]:
        out, db = self._out(i)
        try:
            return checks.check_weather(out, db, self.want)
        finally:
            shutil.rmtree(out, ignore_errors=True)
            os.remove(db)

    def layer_probes(self) -> dict:
        return {}


class _ProgressLog:
    """Micro-batch progress of every streaming query, by query name (or
    id, for unnamed queries).

    Filled by a StreamingQueryListener; the listener bus delivers events
    asynchronously, so `wait_done` blocks until the query's termination
    event (posted after its last progress event) has arrived. The name
    comes from the progress events: PySpark fails to convert a
    query-started event whose query was started with job tags set, which
    is also why the stream workload runs without job tags."""

    def __init__(self):
        self.names: dict[str, str] = {}
        self.batches: dict[str, list[dict]] = {}
        self.done: set[str] = set()
        self.cv = threading.Condition()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                row = {
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state": [(s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)
                              for s in p.stateOperators],
                }
                with log.cv:
                    log.names[str(p.id)] = p.name or str(p.id)
                    log.batches.setdefault(str(p.id), []).append(row)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log.cv:
                    log.done.add(str(event.id))
                    log.cv.notify_all()

        return _Listener()

    def wait_done(self, name: str, timeout: float = 60.0) -> tuple[str, list[dict]]:
        with self.cv:
            ok = self.cv.wait_for(
                lambda: any(self.names.get(q) == name for q in self.done), timeout)
            if not ok:
                raise TimeoutError(f"no termination event for streaming query {name}")
            qid = next(q for q in self.done if self.names.get(q) == name)
            self.done.discard(qid)
            return qid, self.batches.pop(qid, [])


UPSERT = "streaming.upsert.daily_gold_upsert_query"
DEDUP = "streaming.daily.dedup_daily_counts_stream"


class StreamUpsert:
    """A landing dir drained one file per trigger by the stateless
    gold-table upsert query, then by the stateful dedup rollup query."""

    name = "stream_upsert"
    job_tags = False  # see _ProgressLog; jobs are attributed by query id
    min_warm = 1

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.landing = {k: os.path.join(work, f"landing-{k}") for k in STREAM_FILES}

    def prepare(self) -> None:
        self.want = {}
        for k, files in STREAM_FILES.items():
            landed = gen.events_landing(self.landing[k], files, STREAM_ROWS_PER_FILE, self.seed)
            self.want[k] = checks.expected_stream(landed)
            if k == "full":
                self.rows = 2 * len(landed)  # both queries read every landed row

    def stage(self, spark, spans: Spans) -> None:
        self.spark, self.spans = spark, spans
        self.log = _ProgressLog()
        spark.streams.addListener(self.log.listener())
        self.batches: dict[int, dict[str, list[dict]]] = {}
        self.query_ids: dict[int, dict[str, str]] = {}

    @staticmethod
    def _size(i: int) -> str:
        return "warmup" if i == 0 else "full"

    def run_pass(self, i: int) -> None:
        from dataengineeringproject_spark.streaming.daily import (
            dedup_daily_counts_stream, read_events_stream, run_to_memory)
        from dataengineeringproject_spark.streaming.upsert import daily_gold_upsert_query

        sp, landing = self.spans, self.landing[self._size(i)]
        with sp(UPSERT):
            events = read_events_stream(self.spark, landing, max_files_per_trigger=1)
            q = daily_gold_upsert_query(
                events, os.path.join(self.work, f"gold-{i}"),
                os.path.join(self.work, f"ckpt-{i}"))
            q.awaitTermination()
        # the upsert query carries no name; the listener keys it by id
        self._upsert_id = str(q.id)
        with sp(DEDUP):
            events = read_events_stream(self.spark, landing, max_files_per_trigger=1)
            run_to_memory(dedup_daily_counts_stream(events), f"rollup_{i}", output_mode="update")

    def check_pass(self, i: int) -> list[str]:
        done = {UPSERT: self.log.wait_done(self._upsert_id),
                DEDUP: self.log.wait_done(f"rollup_{i}")}
        self.query_ids[i] = {q: qid for q, (qid, _) in done.items()}
        self.batches[i] = {q: b for q, (_, b) in done.items()}
        rollup = self.spark.table(f"rollup_{i}").toPandas()
        self.spark.catalog.dropTempView(f"rollup_{i}")
        gold = os.path.join(self.work, f"gold-{i}")
        try:
            return checks.check_stream(gold, rollup, self.want[self._size(i)])
        finally:
            shutil.rmtree(gold, ignore_errors=True)
            shutil.rmtree(os.path.join(self.work, f"ckpt-{i}"), ignore_errors=True)

    def batch_ms(self, passes: list[int]) -> list[float]:
        """triggerExecution of every data-carrying micro-batch of both
        queries in `passes`."""
        return [b["ms"].get("triggerExecution", 0.0)
                for i in passes for q in (UPSERT, DEDUP)
                for b in self.batches.get(i, {}).get(q, []) if b["rows"] > 0]

    def layer_probes(self) -> dict:
        return {}


class CorpusDedup:
    """The registered `dedup_clusters_minhash` query over a planted-chain
    corpus: MinHash/LSH near-duplicate pairs, then connected components."""

    name = "corpus_dedup"
    job_tags = True
    # its passes keep speeding up for three to four passes after the
    # warm-up (one measured pass alone spread 0.31 over ten runs, the
    # median of three 0.22), so take the median of four short passes
    min_warm = 4

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.sf_dir = os.path.join(work, "corpus")
        self.oracle_dir = os.path.join(work, "oracle_slice")

    def prepare(self) -> None:
        self.docs = gen.planted_corpus(self.sf_dir, *CORPUS, self.seed)
        self.rows = len(self.docs)
        gen.planted_corpus(self.oracle_dir, *ORACLE_SLICE, self.seed)
        self.hashes: dict[int, str] = {}

    def stage(self, spark, spans: Spans) -> None:
        from dataengineeringproject_spark import registry

        self.spark, self.spans = spark, spans
        self.query = registry.queries()["dedup_clusters_minhash"]

    def run_pass(self, i: int) -> None:
        # dedup_minhash_lsh caches its shingle table and never releases
        # it; without this a warm pass would time a cache hit
        self.spark.catalog.clearCache()
        with self.spans("queries.llm_text.dedup_clusters_minhash"):
            self.out = self.query(self.spark, self.sf_dir).toPandas()

    def check_pass(self, i: int) -> list[str]:
        self.hashes[i] = checks.components_hash(self.out)
        bad = checks.check_components(self.out, self.docs)
        if len(set(self.hashes.values())) > 1:
            bad.append("components: output differs between passes")
        return bad

    def check_oracle(self) -> list[str]:
        """Registry oracle (DuckDB) against the query on a 40-document slice
        from the same generator: the oracle does not finish at full size
        (see README.md)."""
        import duckdb

        from dataengineeringproject_spark import registry

        self.spark.catalog.clearCache()
        got = self.query(self.spark, self.oracle_dir).toPandas()
        con = duckdb.connect()
        try:
            path = os.path.join(self.oracle_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            want = con.execute(registry.oracle_sql()["dedup_clusters_minhash"]).df()
        finally:
            con.close()
        return checks.check_oracle(got, want)

    def layer_probes(self) -> dict:
        """The query's two layers called one at a time, so each gets its
        own tag: LSH pairs (materialized), then connected components on
        them. Candidate counts come from the same operator calls the
        query composes, with the query module's own parameters."""
        from dataengineeringproject_spark.operators import dedup as D
        from dataengineeringproject_spark.operators.graph import connected_components
        from dataengineeringproject_spark.queries import llm_text as Q
        from dataengineeringproject_spark.schemas import load_table

        spark, sp = self.spark, self.spans
        spark.catalog.clearCache()
        docs = load_table(spark, self.sf_dir, "documents")
        with sp("operators.dedup.lsh_candidate_pairs"):
            sigs = D.minhash_signatures(docs, "doc_id", "text",
                                        n_hashes=Q._N_HASHES, k=Q._SHINGLE_K)
            candidates = D.lsh_candidate_pairs(
                sigs, "doc_id", n_hashes=Q._N_HASHES, bands=Q._BANDS).count()
        spark.catalog.clearCache()
        with sp("queries.llm_text.dedup_minhash_lsh"):
            pairs = Q.dedup_minhash_lsh(spark, self.sf_dir).localCheckpoint(eager=True)
        verified = pairs.count()
        with sp("operators.graph.connected_components"):
            comp = connected_components(docs.select("doc_id"), pairs, id_col="doc_id")
            comp = comp.select(comp["id"].alias("doc_id"), "component").toPandas()
        spark.catalog.clearCache()
        if checks.components_hash(comp) not in self.hashes.values():
            raise RuntimeError("layer-by-layer components differ from the query's")
        return {
            "operators.dedup.candidate_pairs": candidates,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.verify_ratio": verified / candidates if candidates else 0.0,
        }


WORKLOADS = {w.name: w for w in (WeatherETL, StreamUpsert, CorpusDedup)}
