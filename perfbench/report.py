#!/usr/bin/env python3
"""Writes the committed layer split: for each workload, one untraced and
one traced run with the same seed, then

  perfbench/results/layers.json  every metric, span self times, overhead
  perfbench/results/layers.md    the steady-pass split and the overhead

Usage (from the repository root):
  python3 perfbench/report.py [--seed N]

Covers every workload in workloads.json, with BENCHMARK.json's run length.
"""
import argparse
import datetime
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SPLIT = [
    ("build.job_s", "build phase, some Spark job running"),
    ("build.driver_s", "build phase, no job running (driver code)"),
    ("plan_s", "forcing the executed plan"),
    ("collect_s", "collect() and fingerprint"),
    ("sched.wait_s", "job wall time with no task running (inside build.job_s + collect_s)"),
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    report = {}
    for w in run.load_spec()["workloads"]:
        plain, plain_stamp = run.measure(root, w, a.seed, seconds, 0)
        traced, stamp = run.measure(root, w, a.seed, seconds, 1)
        e2e = {k: v["value"] for k, v in plain["metrics"].items()}
        overhead = {k: {"untraced": e2e[k], "traced": v, "traced_minus_untraced": v - e2e[k]}
                    for k, v in stamp["traced_end_to_end"].items()}
        report[w] = {
            "seed": a.seed, "seconds": seconds, "commit": stamp["commit"],
            "date": datetime.date.today().isoformat(),
            "correct": plain["correct"] and traced["correct"],
            "steady_passes": stamp["steady_passes"], "pass_wall_s": stamp["pass_wall_s"],
            "end_to_end": e2e, "end_to_end_notes": plain_stamp["notes"],
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            "self_time": stamp["self_time"], "tracing_overhead": overhead,
        }
        print(f"{w}: done", file=sys.stderr)
    out_dir = os.path.join(run.HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "layers.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")
    with open(os.path.join(out_dir, "layers.md"), "w") as f:
        f.write(markdown(report))


def markdown(report):
    lines = ["# Layer split of the steady pass", "",
             "Written by `python3 perfbench/report.py`; the numbers behind it are in",
             "`layers.json`. Each workload gets one untraced and one traced run with",
             "the same seed. Shares are of the steady pass wall time (the base, in",
             "seconds, is given per workload). The per-layer numbers come from the",
             "traced run; the overhead table is traced minus untraced. It rests on",
             "one pair of runs, so differences inside the run-to-run spread of",
             "README.md are noise, not overhead.", ""]
    for w, r in report.items():
        base = r["pass_wall_s"]
        pl = r["per_layer"]
        lines += [f"## {w}", "",
                  f"Seed {r['seed']}, commit {r['commit']}, {r['date']}; "
                  f"{r['steady_passes']} steady pass(es); base: steady pass wall "
                  f"= {base:.3f} s (traced run).", "",
                  "| share | seconds per pass | share of base | what |",
                  "|---|---|---|---|"]
        for k, what in SPLIT:
            lines.append(f"| `{k}` | {pl[k]:.3f} | {pl[k] / base:.1%} | {what} |")
        rest = base - pl["build_s"] - pl["plan_s"] - pl["collect_s"]
        lines += [f"| rest | {rest:.3f} | {rest / base:.1%} | harness between phases |", "",
                  f"Also: `task.run_s` {pl['task.run_s']:.3f} s, `core_util` "
                  f"{pl['core_util']:.2f} (base: wall x 4 cores), "
                  f"`catalyst.*` {pl['catalyst.analysis_s'] + pl['catalyst.optimization_s'] + pl['catalyst.planning_s']:.3f} s, "
                  f"`build.jobs` {pl['build.jobs']:.0f}, `collect.jobs` {pl['collect.jobs']:.0f}.", "",
                  "| end-to-end metric | untraced | traced | traced - untraced |",
                  "|---|---|---|---|"]
        for k, o in r["tracing_overhead"].items():
            lines.append(f"| `{k}` | {o['untraced']:.4g} | {o['traced']:.4g} | "
                         f"{o['traced_minus_untraced']:+.4g} |")
        lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    main()
