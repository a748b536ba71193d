"""Run the benchmark on several seeds and report each metric's spread.

    python3 loombench/spread.py --workload <name> --seeds 1-10 [--trace 0|1] [--json OUT]

Run from the repository root. Each seed is one fresh run of
``loombench/run.py`` for ``run_seconds`` of ``BENCHMARK.json``. For each
metric it prints the median, the quartiles as Python's
``statistics.quantiles(values, n=4)`` gives them, and their distance as
a share of the median, which is what a metric's ``bound`` is set
against. ``--json`` also writes every run's result line and wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]

    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=180)
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": wall, "result": res})
        vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
        print(f"seed {seed} wall {wall:.1f}s correct {res['correct']} "
              f"failed {res['failed']}/{res['attempted']} {vals}", flush=True)

    spread = {}
    for k in runs[0]["result"]["metrics"]:
        xs = [r["result"]["metrics"][k]["value"] for r in runs]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread[k] = {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med if med else None}
        share = f"{spread[k]['iqr_share']:.3f}" if med else "-"
        print(f"{k:36s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  iqr/median {share}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "trace": args.trace, "run_seconds": seconds,
                       "runs": runs, "spread": spread}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
