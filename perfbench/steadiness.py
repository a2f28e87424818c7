#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and spread: (Q3 - Q1) / median over the runs, with quartiles as
statistics.quantiles(values, n=4) gives them, next to the metric's bound.

    python3 perfbench/steadiness.py --workload cde-tables --runs 10 [--first-seed 1]

Run from the root of a checkout. Prints one JSON line per run (wall time,
host load, result) and a summary table. Exits non-zero if a run fails or
its output checks do not pass.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {name: [] for name in bounds}
    ok = True
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        done = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = done.stdout.strip().splitlines()
        if done.returncode != 0 or len(lines) < 2:
            print(json.dumps({"seed": seed, "wall_s": wall, "error": done.returncode}))
            ok = False
            continue
        host, result = json.loads(lines[-2])["host"], json.loads(lines[-1])
        ok = ok and result["correct"]
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "host": host,
                          "result": result}), flush=True)
        for name in values:
            values[name].append(result["metrics"][name]["value"])
    print(f"{'metric':22s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for name, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:22s} {med:12.5g} {spread:8.3f} {bounds[name]:6.2f}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
