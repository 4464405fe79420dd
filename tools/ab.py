#!/usr/bin/env python3
"""Cold A/B of two git revisions, in interleaved pairs of fresh processes.

    python tools/ab.py --base REF [--change REF] --workload corpus_dedup --pairs 5
    python tools/ab.py --base REF [--change REF] --query NAME --sf DIR [--sf DIR]

Each side is a detached git worktree in a temp dir, of REF or, for --change by
default, of a snapshot commit of this working tree. Pair i runs the base first
when i is even and the change first when it is odd; every run is a new process.

--workload runs each side's own `perfbench/run.py --trace 0` for this
checkout's BENCHMARK.json `run_seconds`, seed 1 + i in pair i, and reads its
last line. --query runs, per --sf fixture, a child that runs
`registry.prestage` untimed and times `toPandas()` of the query; rows are
hashed with this checkout's `tests/_harness.normalize` on both sides.

The last stdout line is JSON: per target (the workload, or each fixture) and
metric, each side's median and q1-q3, the change/base ratio of the medians and
the pairs each side won (ties count for neither), plus every failed run and
whether the output hashes are identical. --out writes the same plus every run.
Worktrees, the temp dir and every process started are removed on exit,
SIGTERM included.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SIDES = ("base", "change")


def order(pair: int) -> tuple[str, str]:
    """The base runs first in even pairs, the change in odd ones."""
    return SIDES if pair % 2 == 0 else SIDES[::-1]


def run_pairs(pairs: int, run_one) -> list[dict]:
    """Call run_one(pair, side) in alternating order; each call returns
    the records of its runs, tagged here with pair and side."""
    runs = []
    for pair in range(pairs):
        for side in order(pair):
            runs += [{"pair": pair, "side": side, **r} for r in run_one(pair, side)]
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    return tuple(statistics.quantiles(values, n=4, method="inclusive"))


def summarize(runs: list[dict], better: dict[str, str]) -> dict:
    """Medians, quartiles, ratio and pair wins per target and metric over
    the runs that succeeded; failed runs and output hashes are reported
    apart. A metric not named in `better` is lower-is-better."""
    vals: dict[tuple[str, str], dict[tuple[int, str], float]] = defaultdict(dict)
    outputs: dict[str, dict[str, set]] = defaultdict(lambda: {s: set() for s in SIDES})
    for r in runs:
        if not r["ok"]:
            continue
        for m, v in r["metrics"].items():
            vals[r["target"], m][r["pair"], r["side"]] = v
        if "hash" in r:
            outputs[r["target"]][r["side"]].add((r["hash"], r["rows"]))
    metrics: dict[str, dict] = defaultdict(dict)
    for target, m in sorted(vals):
        pts = vals[target, m]
        row: dict = {"better": better.get(m, "lower")}
        for s in SIDES:
            v = [x for (_, side), x in sorted(pts.items()) if side == s]
            if v:
                q1, med, q3 = quartiles(v)
                row[s] = {"median": med, "q1": q1, "q3": q3, "n": len(v)}
        if "base" in row and "change" in row and row["base"]["median"]:
            row["ratio"] = row["change"]["median"] / row["base"]["median"]
        wins = {"change_wins": 0, "base_wins": 0, "ties": 0}
        for pair in sorted({p for p, _ in pts}):
            if (pair, "base") in pts and (pair, "change") in pts:
                d = pts[pair, "change"] - pts[pair, "base"]
                d = -d if row["better"] == "higher" else d
                wins["ties" if d == 0 else "change_wins" if d < 0 else "base_wins"] += 1
        metrics[target][m] = {**row, **wins}
    failed = [{k: r[k] for k in ("pair", "side", "target", "error")}
              for r in runs if not r["ok"]]
    out = {t: {s: [{"hash": h, "rows": n} for h, n in sorted(o[s])] for s in SIDES}
           for t, o in sorted(outputs.items())}
    identical = (all(len(o["base"] | o["change"]) == 1 for o in outputs.values())
                 if outputs else None)
    ran = {r["side"] for r in runs if r["ok"]} == set(SIDES)
    return {"metrics": dict(metrics), "failed": failed, "outputs": out,
            "hash_identical": identical,
            "ok": ran and not failed and identical is not False}


def child(side_root: str, name: str, sf: str) -> int:
    """One cold query run: prestage untimed, then time toPandas()."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(ROOT))
    from perfbench.run import stop_processes  # puts this checkout on sys.path

    sys.path[:0] = [side_root]  # ... so the side's package goes first
    sys.path.append(str(ROOT / "tests"))
    from _harness import normalize

    from dataengineeringproject_spark import registry
    from dataengineeringproject_spark.session import get_spark

    try:
        spark = get_spark("ab")
        t0 = time.perf_counter()
        registry.prestage(spark, sf)
        t1 = time.perf_counter()
        pdf = registry.queries()[name](spark, sf).toPandas()
        t2 = time.perf_counter()
        key = repr((sorted(pdf.columns), normalize(pdf)))
        print(json.dumps({"metrics": {"wall_s": t2 - t1, "prestage_s": t1 - t0},
                          "rows": len(pdf), "hash": hashlib.md5(key.encode()).hexdigest()}))
    finally:
        stop_processes()
    return 0


def git(*args: str, check: bool = True, env: dict | None = None) -> str:
    return subprocess.run(["git", "-C", str(ROOT), *args], check=check, env=env,
                          capture_output=True, text=True).stdout.strip()


def snapshot(index: Path) -> str:
    """Commit the working tree, untracked files too, via a scratch index (no
    ref moves), so both sides run from fresh checkouts with no bytecode cache."""
    env = {**os.environ, "GIT_INDEX_FILE": str(index)}
    git("add", "-A", env=env)
    return git("commit-tree", git("write-tree", env=env), "-p", "HEAD", "-m", "ab snapshot")


def launch(cmd: list[str], cwd: Path, env: dict, log: Path, live: list) -> dict:
    """Run one child to its end; its result is its last stdout line."""
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        live[:] = [proc]
        out = proc.communicate()[0]
    live.clear()
    try:
        res = json.loads(out.strip().splitlines()[-1])
    except (IndexError, ValueError):
        tail = log.read_text()[-1500:]
        return {"ok": False, "metrics": {}, "error": f"exit {proc.returncode}: {tail}"}
    if proc.returncode or res.get("correct") is False:
        return {"ok": False, "metrics": {}, "error": f"exit {proc.returncode}: {res}"}
    if "correct" in res:  # perfbench's line
        res = {"metrics": {k: m["value"] for k, m in res["metrics"].items()}}
    return {"ok": True, **res}


def main() -> int:
    if sys.argv[1:2] == ["_child"]:
        return child(*sys.argv[2:])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the parent side")
    ap.add_argument("--change", help="git revision of the change side (default: working tree)")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload", help="a perfbench workload")
    mode.add_argument("--query", help="a registered query")
    ap.add_argument("--sf", action="append", default=[], help="fixture dir (--query; repeatable)")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--out", help="write the result with every run here")
    args = ap.parse_args()
    if args.query and (not args.sf or len({Path(sf).name for sf in args.sf}) < len(args.sf)):
        ap.error("--query needs one or more --sf fixtures with distinct directory names")
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")

    sys.path.insert(0, str(ROOT))
    from perfbench.run import stop_processes

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = Path(tempfile.mkdtemp(prefix="ab_"))
    live: list[subprocess.Popen] = []
    try:
        roots = {side: tmp / side for side in SIDES}
        for side, ref in (("base", args.base), ("change", args.change)):
            git("worktree", "add", "--detach", str(roots[side]), ref or snapshot(tmp / "index"))
        shas = {side: git("-C", str(roots[side]), "rev-parse", "HEAD") for side in SIDES}
        scratch = tmp / "run"
        scratch.mkdir()
        env = dict(os.environ)
        if args.query:
            env.update({"TMPDIR": str(scratch), "SPARK_LOCAL_DIRS": str(scratch),
                        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={scratch}"})
            env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

        def run_one(pair: int, side: str) -> list[dict]:
            if args.workload:
                cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--trace",
                       "0", "--seed", str(1 + pair), "--seconds", str(bench["run_seconds"])]
                jobs = [(args.workload, roots[side], env, cmd)]
            else:
                jobs = [(Path(sf).name, scratch, {**env, "PYTHONPATH": str(roots[side])},
                         [sys.executable, str(Path(__file__).resolve()), "_child",
                          str(roots[side]), args.query, sf]) for sf in args.sf]
            recs = []
            for target, cwd, job_env, cmd in jobs:
                rec = {"target": target, **launch(cmd, cwd, job_env, tmp / "stderr.log", live)}
                print(f"pair {pair} {side}: {json.dumps(rec)}", file=sys.stderr, flush=True)
                recs.append(rec)
            return recs

        runs = run_pairs(args.pairs, run_one)
        result = {"mode": "workload" if args.workload else "query",
                  "target": args.workload or args.query, "sf": args.sf, "pairs": args.pairs,
                  "seconds": bench["run_seconds"] if args.workload else None,
                  "base": {"ref": args.base, "sha": shas["base"]},
                  "change": {"ref": args.change or "working tree", "sha": shas["change"]},
                  **summarize(runs, {m["name"]: m["better"] for m in bench["end_to_end"]})}
    finally:
        for proc in live:  # a terminated run: let the child tear itself down
            proc.terminate()
            try:
                proc.wait(60)
            except subprocess.TimeoutExpired:
                pass
        stop_processes()
        for side in SIDES:
            git("worktree", "remove", "--force", str(tmp / side), check=False)
        git("worktree", "prune", check=False)
        shutil.rmtree(tmp, ignore_errors=True)
    if args.out:
        Path(args.out).write_text(json.dumps({**result, "runs": runs}, indent=1) + "\n")
    print(json.dumps(result))
    return 0 if result["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
