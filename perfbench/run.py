"""Benchmark entry point: one seeded workload per run, in a fresh process.

    python3 perfbench/run.py --workload weather_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics (of all three workloads,
from one traced process with Spark's event log on) with `--trace 1`.
All temporary files, inputs included, live under `.perfbench_work/` and are
removed when the run ends. README.md explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import eventlog  # noqa: E402
import workloads  # noqa: E402

DRIVER_MEM, YOUNG_GEN = "2g", "512m"


def pin_environment(work: str) -> None:
    """Pin the knobs the program reads and keep every file it writes
    (temp files, Spark local dirs, streaming temp checkpoints, the
    warehouse) inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    os.environ.pop("SPARK_GRAFT_STREAM_CKPT_BASE", None)


def spark_conf(work: str, event_log: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap and young generation: with G1's adaptive
        # sizing the peak RSS of identical runs varied by 13%, with these
        # by 1.3%
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # one plain file: Spark 4 rolls the log and compresses it with
            # zstd by default, and zstandard is not installed
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_spark(work: str, event_log: bool):
    """Fresh process -> session built and first job done: (spark, seconds
    to build the session, seconds including the first job)."""
    t0 = time.perf_counter()
    from dataengineeringproject_spark.session import get_spark

    spark = get_spark(extra_conf=spark_conf(work, event_log))
    built = time.perf_counter() - t0
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, built, time.perf_counter() - t0


def descendants() -> list[int]:
    """Pids of this process's descendants, parents before children."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(0), [])
        out += kids
        todo += kids
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and all its
    descendants: the Python driver, the JVM and any Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(line.split()[1]) for line in f
                                  if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024


def _running(pid: int) -> bool:
    """False once `pid` has ended (a zombie has ended too)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_ended(pids: list[int], seconds: float) -> list[int]:
    deadline = time.monotonic() + seconds
    while True:
        left = [p for p in pids if _running(p)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.05)


def stop_processes() -> None:
    """End the JVM and every other process this run started, and wait
    until each has ended. Left alone, the JVM exits only some time after
    this process does (when it sees its stdin close), and Python workers
    after the JVM, so they could outlive the run."""
    pids = descendants()
    proc = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()  # no calls into the JVM from here on
            proc = gateway.proc
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001  (killed below)
            pass
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        pids = _wait_ended(pids, 0)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        pids = _wait_ended(pids, grace)
    if pids:
        print(f"processes still running: {pids}", file=sys.stderr)


class Passes:
    """Runs and checks passes of one workload, keeping their wall times."""

    def __init__(self, wl, spans):
        self.wl, self.spans = wl, spans
        self.seconds: dict[int, float] = {}
        self.failed: list[int] = []

    def run(self, i: int) -> None:
        t0 = time.perf_counter()
        try:
            with self.spans.in_pass(i):
                self.wl.run_pass(i)
            self.seconds[i] = time.perf_counter() - t0
            problems = self.wl.check_pass(i)
        except Exception as ex:  # a failed pass is a result, not a crash
            problems = [f"{type(ex).__name__}: {ex}"]
        if problems:
            self.failed.append(i)
            print(f"{self.wl.name} pass {i} failed: {problems}", file=sys.stderr)

    def run_timed(self, seconds: float, min_warm: int, after_min=None) -> list[int]:
        """Warm-up pass 0, then warm passes until `seconds` have passed and
        at least `min_warm` ran; calls `after_min` after warm pass min_warm."""
        self.run(0)
        start, i = time.perf_counter(), 0
        while i < min_warm or time.perf_counter() - start < seconds:
            i += 1
            self.run(i)
            if i == min_warm and after_min:
                after_min()
        return list(range(1, i + 1))

    def warm_seconds(self, warm: list[int]) -> list[float]:
        return [self.seconds[i] for i in warm if i in self.seconds]


def pct(values: list[float], q: int) -> float:
    return float(statistics.quantiles(values, n=100, method="inclusive")[q - 1]) \
        if len(values) > 1 else float(values[0])


def measure(name: str, seed: int, seconds: float, work: str) -> dict:
    """Untraced run: the end-to-end metrics of one workload."""
    wl = workloads.WORKLOADS[name](os.path.join(work, "in"), seed)
    os.makedirs(wl.work, exist_ok=True)
    wl.prepare()
    spark, _, setup = start_spark(work, event_log=False)
    t0 = time.perf_counter()
    spans = workloads.Spans(spark, name, wl.job_tags)
    wl.stage(spark, spans)
    setup += time.perf_counter() - t0
    passes = Passes(wl, spans)
    rss: list[float] = []
    warm = passes.run_timed(seconds, wl.min_warm, lambda: rss.append(tree_peak_rss_mb()))
    spark.stop()

    warm_s = passes.warm_seconds(warm)
    if 0 not in passes.seconds or not warm_s:
        raise RuntimeError(f"{name}: no timed pass completed")
    pass_s = statistics.median(warm_s)
    # a batch workload's batch is a whole pass; one to five passes have
    # no tail to report, so both percentiles are the median pass
    batches = wl.batch_ms(warm) if hasattr(wl, "batch_ms") else [pass_s * 1000]
    attempted = len(warm) + 1
    metrics = {
        "setup_s": (setup, "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (wl.rows / pass_s, "rows/s"),
        "peak_rss_mb": (rss[0], "MB"),
        "ok_frac": ((attempted - len(passes.failed)) / attempted, "ratio"),
        "batch_p50_ms": (pct(batches, 50), "ms"),
        "batch_p90_ms": (pct(batches, 90), "ms"),
    }
    return {"attempted": attempted, "failed": len(passes.failed), "metrics": metrics,
            "info": {"pass_s": [round(passes.seconds[i], 3) for i in sorted(passes.seconds)],
                     "batches": len(batches)}}


def _med(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def trace(workload: str, seed: int, seconds: float, work: str) -> dict:
    """Traced run: all three workloads in one process with Spark's event
    log on, reduced to the per-layer metrics. The named workload runs its
    warm-up and measured passes as in `measure`, and its layers are read
    from the measured ones; the other two run only their warm-up pass, which
    their layers are read from, so that every per-layer metric is
    measured in every traced run at the cost of one pass each. The
    DuckDB oracle check (about 10 s even on its 40-document slice) runs
    only when `workload` is corpus_dedup."""
    wls = {n: cls(os.path.join(work, n), seed) for n, cls in workloads.WORKLOADS.items()}
    for wl in wls.values():
        os.makedirs(wl.work, exist_ok=True)
        wl.prepare()
    spark, built, _ = start_spark(work, event_log=True)
    runs, probes, attempted, failed = {}, {}, 0, 0
    for n, wl in wls.items():
        spans = workloads.Spans(spark, n, wl.job_tags)
        wl.stage(spark, spans)
        p = Passes(wl, spans)
        if n == workload:
            warm = p.run_timed(seconds, wl.min_warm)
        else:
            p.run(0)
            warm = [0]
        with spans.in_pass(-1):
            probes.update(wl.layer_probes())
        runs[n] = (p, warm)
        attempted += len(set([0] + warm))
        failed += len(p.failed)
        if n == workload == "corpus_dedup":
            problems = wl.check_oracle()
            attempted, failed = attempted + 1, failed + bool(problems)
            if problems:
                print(f"{n}: {problems}", file=sys.stderr)
    spark.stop()
    jobs = eventlog.read_jobs(os.path.join(work, "eventlog"))
    S = wls["stream_upsert"]

    m: dict[str, tuple[float, str]] = {"session.get_spark.s": (built, "s")}

    def per_pass(n, fn):
        p, warm = runs[n]
        return _med([fn(p.spans, i, p.seconds.get(i)) for i in warm if i in p.seconds])

    def tagged(sp, i, name, key):
        return eventlog.totals(jobs, sp.pass_tag(i), name)[key]

    def pass_totals(n, i, key):
        """`key` summed over the jobs of pass i; the stream workload's jobs
        are found by the ids of the pass's two streaming queries."""
        if n == "stream_upsert":
            return sum(eventlog.totals(jobs, f"query:{q}")[key]
                       for q in S.query_ids[i].values())
        return eventlog.totals(jobs, runs[n][0].spans.pass_tag(i))[key]

    for n in wls:
        m[f"{n}.traced_pass_s"] = (per_pass(n, lambda sp, i, s: s), "s")
        for key, unit in (("gc_s", "s"), ("sched_delay_s", "s"), ("spill_mb", "MB")):
            m[f"{n}.{key}"] = (per_pass(
                n, lambda sp, i, s, n=n, key=key: pass_totals(n, i, key)), unit)

    # weather_etl: one tag per stage call
    W = "weather_etl"
    for name, keys in (
        ("plans.weather.clean_stage", ("jobs", "input_mb")),
        ("plans.weather.transform_stage", ()),
        ("plans.weather.validate_stage", ("jobs", "input_mb", "task_s")),
        ("sources.sinks.write_parquet", ("input_mb", "output_mb")),
        ("sources.sinks.write_sqlite", ()),
    ):
        m[f"{name}.s"] = (per_pass(W, lambda sp, i, s, name=name: sp.seconds(i, name)), "s")
        for key in keys:
            unit = "count" if key == "jobs" else key.rsplit("_", 1)[1].replace("mb", "MB")
            m[f"{name}.{key}"] = (per_pass(
                W, lambda sp, i, s, name=name, key=key: tagged(sp, i, name, key)), unit)
    m["plans.weather.validate_stage.share"] = (per_pass(
        W, lambda sp, i, s: sp.seconds(i, "plans.weather.validate_stage") / s), "ratio")
    csv_mb = os.path.getsize(wls[W].csv) / eventlog.MB
    m["weather_etl.scan_amplification"] = (per_pass(
        W, lambda sp, i, s: pass_totals(W, i, "input_mb") / csv_mb), "ratio")

    # stream_upsert: micro-batch phases from StreamingQueryProgress
    warm = runs["stream_upsert"][1]
    for q, phases in (
        (workloads.UPSERT, ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
                            "latestOffset", "getBatch")),
        (workloads.DEDUP, ("addBatch", "walCommit", "queryPlanning")),
    ):
        batches = [b for i in warm for b in S.batches.get(i, {}).get(q, []) if b["rows"] > 0]
        m[f"{q}.batch_ms"] = (_med([b["ms"]["triggerExecution"] for b in batches]), "ms")
        for ph in phases:
            m[f"{q}.{ph}_ms"] = (_med([b["ms"].get(ph, 0.0) for b in batches]), "ms")
        m[f"{q}.phase_sum_ratio"] = (_med([
            sum(v for k, v in b["ms"].items() if k != "triggerExecution")
            / b["ms"]["triggerExecution"] for b in batches]), "ratio")
        if q == workloads.UPSERT:
            m[f"{q}.jobs_per_batch"] = (per_pass("stream_upsert", lambda sp, i, s: (
                eventlog.totals(jobs, f"query:{S.query_ids[i][q]}")["jobs"]
                / max(1, sum(b["rows"] > 0 for b in S.batches[i][q])))), "count")
        else:
            last = [[b for b in S.batches.get(i, {}).get(q, []) if b["state"]][-1]
                    for i in warm]
            m[f"{q}.state_rows"] = (_med([sum(s[0] for s in b["state"]) for b in last]),
                                    "count")
            m[f"{q}.state_mb"] = (_med([sum(s[1] for s in b["state"]) / eventlog.MB
                                        for b in last]), "MB")
            m[f"{q}.state_commit_ms"] = (_med([sum(s[2] for s in b["state"])
                                               for b in batches]), "ms")

    # corpus_dedup: the layer probes ran under pass tag -1
    C = runs["corpus_dedup"][0].spans
    for name, keys in (("queries.llm_text.dedup_minhash_lsh", ("shuffle_write_mb",)),
                       ("operators.graph.connected_components", ("jobs", "shuffle_write_mb"))):
        m[f"{name}.s"] = (C.seconds(-1, name), "s")
        for key in keys:
            m[f"{name}.{key}"] = (tagged(C, -1, name, key),
                                  "count" if key == "jobs" else "MB")
    for k, v in probes.items():
        m[k] = (v, "ratio" if k.endswith("ratio") else "count")
    return {"attempted": attempted, "failed": failed, "metrics": m}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import dataengineeringproject_spark  # noqa: F401  (fail before generating inputs)

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    # a terminated run still stops its processes and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    pin_environment(work)
    try:
        if args.trace:
            res = trace(args.workload, args.seed, args.seconds, work)
        else:
            res = measure(args.workload, args.seed, args.seconds, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if "info" in res:
        print(json.dumps(res["info"]), file=sys.stderr)
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in res["metrics"].items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
