"""Steadiness mode: run the benchmark repeatedly and print each metric's
spread next to its bound.

    python3 perfbench/steady.py --runs 10 [--workload NAME ...] [--trace]

Each run is `run.py` in a fresh process with its own seed (1..runs). For
every end-to-end metric it prints the median, the spread (distance
between the first and third quartile, as a share of the median) and the
metric's bound from BENCHMARK.json. A spread above the bound fails the
benchmark's acceptance; the target is below a third of the bound. With
--trace it then makes one traced run per workload and prints its
traced pass time beside the untraced median pass_s: the difference is
the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=900,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    pass_medians = {}
    for wl in args.workload or [w["name"] for w in spec["workloads"]]:
        results = [run(wl, args.first_seed + k, spec["run_seconds"], 0)
                   for k in range(args.runs)]
        bad = [r for r in results if not r["correct"]]
        print(f"\n{wl}: {args.runs} runs, {len(bad)} incorrect")
        print(f"  {'metric':<14} {'median':>12} {'spread':>8} {'bound':>6}")
        for name, bound in bounds.items():
            values = [r["metrics"][name]["value"] for r in results]
            med, s = statistics.median(values), spread(values)
            flag = "FAIL" if s > bound else ("ok" if s < bound / 3 else "near")
            if name == "setup_s":
                flag = "(median drift only)"
            print(f"  {name:<14} {med:>12.4f} {s:>8.4f} {bound:>6.2f}  {flag}")
            print(f"    values: {[round(v, 4) for v in values]}")
        pass_medians[wl] = statistics.median(r["metrics"]["pass_s"]["value"] for r in results)

    if args.trace:
        for wl, untraced in pass_medians.items():
            traced = run(wl, args.first_seed, spec["run_seconds"], 1)
            t = traced["metrics"][f"{wl}.traced_pass_s"]["value"]
            print(f"\n{wl} traced run: correct={traced['correct']}, traced pass {t:.3f} s, "
                  f"untraced median pass_s {untraced:.3f} s, "
                  f"tracing overhead {t / untraced - 1:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
