#!/usr/bin/env python3
"""Steadiness check: run one workload on several seeds and report spreads.

    python3 perfbench/steady.py --workload sql-analytics --seeds 1-10 \
        --out perfbench/evidence/sql-analytics-a.json

Runs ``run.py`` once per seed (untraced, sequentially, from the current
directory) and records every run's end-to-end metrics and its median host
steal. For each metric it reports the median and the spread: the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as a
share of the median. The bounds in ``BENCHMARK.json`` come from these files.
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


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            capture_output=True, text=True, timeout=600,
        )
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        detail = json.loads(lines[-3])
        runs.append({
            "seed": seed,
            "run_wall_s": round(time.time() - t0, 2),
            "correct": result["correct"],
            "attempted": result["attempted"],
            "failed": result["failed"],
            "steal_frac": statistics.median(detail["host.steal_frac"]),
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        })
        print(json.dumps(runs[-1]), flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]] for r in runs]
        summary[m["name"]] = {
            "median": statistics.median(vals),
            "spread": spread(vals),
            "bound": m["bound"],
        }
    report = {"workload": args.workload, "seconds": seconds,
              "summary": summary, "runs": runs}
    print(json.dumps(summary, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
