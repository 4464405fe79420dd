"""Reduce a Spark event log to per-tag job totals.

Spark writes one JSON event per line. A job's tags (from
`SparkContext.addJobTag`) are in its JobStart properties, as is the id
of the streaming query that ran it, which is kept as tag `query:<id>`; task metrics
arrive in TaskEnd events keyed by stage, and a stage belongs to the
first job that lists it (later jobs that list it skip it). The log must
be uncompressed (`spark.eventLog.compress=false`) and complete, that is,
read after the SparkContext has stopped.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

MB = 1024 * 1024


def _blank() -> dict[str, float]:
    return defaultdict(float)


def read_jobs(log_dir: str) -> list[dict]:
    """One dict per job: tags, and summed task metrics (bytes, seconds)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(paths)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties", {})
                tags = set(filter(None, props.get("spark.job.tags", "").split(",")))
                if "sql.streaming.queryId" in props:
                    tags.add("query:" + props["sql.streaming.queryId"])
                job = {"tags": tags, "m": _blank()}
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                info, m = ev["Task Info"], jobs[jid]["m"]
                run_ms = tm["Executor Run Time"]
                m["tasks"] += 1
                m["task_s"] += run_ms / 1000
                m["gc_s"] += tm["JVM GC Time"] / 1000
                m["input_mb"] += tm["Input Metrics"]["Bytes Read"] / MB
                m["output_mb"] += tm["Output Metrics"]["Bytes Written"] / MB
                m["shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                m["spill_mb"] += (tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]) / MB
                # the Spark UI's scheduler delay: task wall time not spent
                # deserializing, running, serializing or fetching the result
                wall = info["Finish Time"] - info["Launch Time"]
                fetch = (info["Finish Time"] - info["Getting Result Time"]
                         if info.get("Getting Result Time") else 0)
                delay = (wall - run_ms - tm["Executor Deserialize Time"]
                         - tm["Result Serialization Time"] - fetch)
                m["sched_delay_s"] += max(0, delay) / 1000
    return list(jobs.values())


def totals(jobs: list[dict], *tags: str) -> dict[str, float]:
    """Summed metrics and job count over the jobs carrying every tag."""
    out = _blank()
    for job in jobs:
        if all(t in job["tags"] for t in tags):
            out["jobs"] += 1
            for k, v in job["m"].items():
                out[k] += v
    return out
