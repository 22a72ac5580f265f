#!/usr/bin/env python3
"""Runs workloads over several seeds and reports, per end-to-end metric,
the median and the spread (distance between the first and third
quartile, as a share of the median) against the bound in BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/spread.py [--seeds 1,2,3,4,5] [workload ...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    seeds = [int(s) for s in a.seeds.split(",")]
    for w in names:
        values = {}
        for seed in seeds:
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{out.stderr[-2000:]}")
            r = json.loads(out.stdout.strip().split("\n")[-1])
            if not r["correct"]:
                print(f"{w} seed {seed}: {r['failed']} of {r['attempted']} failed")
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, xs in values.items():
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med
            print(f"{w:18s} {k:15s} median {med:10.4f} spread {spread:6.3f} "
                  f"bound {bounds.get(k, float('nan')):.2f}"
                  f"{'  OVER' if spread > bounds.get(k, 1) else ''}")


if __name__ == "__main__":
    main()
