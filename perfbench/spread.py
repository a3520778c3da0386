#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py <workload> <first_seed> <n_runs> [--seconds S]

Runs the benchmark once per seed (first_seed, first_seed + 1, ...) and
prints, per end-to-end metric, the median, the quartile spread
(Q3 - Q1) / median, the metric's bound from BENCHMARK.json, and a third
of that bound (the steadiness target).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("first_seed", type=int)
    ap.add_argument("n_runs", type=int)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in range(args.first_seed, args.first_seed + args.n_runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4)
        print(f"{m['name']:14s} median {med:10.4g}  spread {(q[2] - q[0]) / med:6.3f}  "
              f"bound {m['bound']:.3f}  target < {m['bound'] / 3:.3f}")


if __name__ == "__main__":
    main()
