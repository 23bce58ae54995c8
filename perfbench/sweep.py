"""Run workloads over seeds in fresh processes and summarise.

    python3 perfbench/sweep.py                          # every workload, seed 1
    python3 perfbench/sweep.py --trace 1                # per-layer metrics too
    python3 perfbench/sweep.py --workloads pipeline --seeds 1 2 3 4 5

Prints each run's workload-named figures and metrics, then per workload and
metric the median over seeds and the spread (interquartile range as a
share of the median, from ``statistics.quantiles(values, n=4)``). Exits 1
if a run fails or reports a failed operation.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1]), wall


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    ok = True
    for workload in args.workloads:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            runs = [0, 1] if args.trace else [0]
            for trace in runs:
                detail, result, wall = run_once(workload, seed, args.seconds, trace)
                print(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                                  "wall_s": round(wall, 1), "stamps": detail["stamps"],
                                  "named": detail["named"],
                                  "errors": detail["errors"], **result}), flush=True)
                ok &= result["correct"] and result["failed"] == 0
                if trace == 0:
                    for k, v in result["metrics"].items():
                        values.setdefault(k, []).append(v["value"])
        if len(args.seeds) > 1:
            summary = {
                k: {"median": statistics.median(v), "spread": round(spread(v), 4)}
                for k, v in values.items()
            }
            print(json.dumps({"workload": workload, "summary": summary}), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
