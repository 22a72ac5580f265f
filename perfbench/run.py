#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload sql_relational --seed 1 \\
      --seconds 10 --trace 0

Builds the engine (src/main/scala) and the harness (perfbench/src) with
the Scala compiler that ships in the Spark jars, then runs the workload
in a fresh JVM: one client, closed loop, local[4], 4 shuffle partitions.
The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). The line before it states the configuration.
See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = "perfbench/data/sf0.1"
CORES = 4
XMX = "4g"
SETUPS = 3       # set-ups per run; setup_s is their median
MIN_PASSES = 1   # steady passes per run, at the least
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory the sbt build names
    (`unmanagedBase` in build.sbt)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark jars with a Scala compiler in {jars}")
    return jars


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")


def build(root):
    """Compiles the engine and the harness into one classes directory,
    keyed by the sources' content; a later run reuses it."""
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise BenchError("no engine sources under src/main/scala")
    sources = engine + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    jars = spark_jars(root)
    h = hashlib.sha256(" ".join(sorted(os.listdir(jars))).encode())
    for p in sources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(root), "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    res = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + sources,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise BenchError("compile failed")
    os.rename(tmp, out)
    print(f"perfbench: built {len(sources)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return out


def java_cmd(root, classes, tmp, main, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", f"-Xmx{XMX}"] + opens + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(spark_jars(root), "*"),
        main] + args)


def run_harness(root, classes, queries, seed, seconds, trace):
    """Runs the harness in a fresh JVM with fresh temp dirs and no
    cross-session caches; returns its output files, parsed."""
    run_dir = os.path.join(build_dir(root), "runs", f"{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_GRAPH_CACHE"}
    args = [os.path.join(root, DATA), run_dir, str(seed), str(seconds),
            str(trace), str(SETUPS), str(MIN_PASSES)] + queries
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            res = subprocess.run(java_cmd(root, classes, tmp, "perfbench.Harness", args),
                                 stdout=log, stderr=subprocess.STDOUT, env=env,
                                 cwd=run_dir, timeout=170)
        if res.returncode != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise BenchError(f"harness exited with {res.returncode}")

        def lines(name):
            path = os.path.join(run_dir, name)
            if not os.path.exists(path):
                return []
            with open(path) as f:
                return [json.loads(l) for l in f if l.strip()]
        with open(os.path.join(run_dir, "run.json")) as f:
            out = json.load(f)
        out["samples"] = lines("samples.jsonl")
        out["spans"] = lines("spans.jsonl")
        out["actions"] = lines("actions.jsonl")
        out["run_dir"] = run_dir
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---- end-to-end metrics ------------------------------------------------

TAIL_MIN_SAMPLES = 40


def tail(values):
    """The highest percentile with at least ten samples above it, as
    (value, percentile, samples). Below TAIL_MIN_SAMPLES samples that
    percentile would sit under p75, so the nearest-rank p90 is reported
    instead."""
    xs = sorted(values)
    n = len(xs)
    if n < TAIL_MIN_SAMPLES:
        return xs[-(-9 * n // 10) - 1], 90, n
    return xs[n - 11], (100 * (n - 10)) // n, n


def end_to_end(run):
    steady = [s for s in run["samples"] if s["pass"] > 0]
    lat = [s["total_s"] for s in steady]
    steady_wall = sum(b - a for a, b, *_ in run["steady_passes"]) / 1000.0
    cold = run["cold_pass"]
    t_val, t_pct, t_n = tail(lat)
    m = {
        "setup_s": (statistics.median(s["session_s"] + s["register_s"]
                                      for s in run["setups"]), "s"),
        "cold_pass_s": ((cold[1] - cold[0]) / 1000.0, "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (t_val, "s"),
        "queries_per_s": (len(steady) / steady_wall, "1/s"),
        "heap_used_mb": (run["heap_used_mb"], "MB"),
    }
    notes = {"query_p50_s": {"samples": len(lat)},
             "query_tail_s": {"percentile": t_pct, "samples": t_n},
             "queries_per_s": {"samples": len(steady), "steady_s": round(steady_wall, 3)},
             "setup_s": {"samples": len(run["setups"]),
                         "first_s": round(run["setups"][0]["session_s"]
                                          + run["setups"][0]["register_s"], 3)}}
    return m, notes


# ---- per-layer metrics (traced run) ---------------------------------------

def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(iv, lo, hi):
    return (max(iv[0], lo), min(iv[1], hi))


def self_times(spans):
    """Per span name: total duration and self time (duration minus the part
    of it that child spans cover), in seconds."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        cov = covered([clip((c["start_ms"], c["end_ms"]), s["start_ms"], s["end_ms"])
                       for c in kids.get(s["id"], [])
                       if c["end_ms"] > s["start_ms"] and c["start_ms"] < s["end_ms"]])
        agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += dur / 1000.0
        agg["self_s"] += (dur - cov) / 1000.0
    return out


def per_layer(run):
    spans = run["spans"]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def pass_of(s):
        while s is not None and s["name"] != "pass":
            s = by_id.get(s["parent"])
        return s

    steady_ids = {s["id"] for s in spans if s["name"] == "pass" and s["qid"] > 0}
    n_pass = len(steady_ids)
    lo = min(by_id[i]["start_ms"] for i in steady_ids)
    hi = max(by_id[i]["end_ms"] for i in steady_ids)
    wall = sum(by_id[i]["end_ms"] - by_id[i]["start_ms"] for i in steady_ids) / 1000.0

    def steady(s):
        p = pass_of(s)
        return p is not None and p["id"] in steady_ids

    phases = [s for s in spans if s["name"].startswith("query.") and steady(s)]
    jobs = [s for s in spans if s["name"] == "spark.job" and s["parent"] in by_id
            and steady(by_id[s["parent"]])]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in spans if s["name"] == "spark.stage" and s["parent"] in job_ids]

    def phase_sum(name):
        return sum(s["end_ms"] - s["start_ms"] for s in phases if s["name"] == name) / 1000.0

    def jobs_under(name):
        return [j for j in jobs if by_id[j["parent"]]["name"] == name]

    build_job_s = sum(
        covered([clip((j["start_ms"], j["end_ms"]), b["start_ms"], b["end_ms"])
                 for j in kids.get(b["id"], []) if j["name"] == "spark.job"])
        for b in phases if b["name"] == "query.build") / 1000.0

    def stage_sum(key):
        return sum(s["counts"].get(key, 0.0) for s in stages)

    acts = [a for a in run["actions"] if lo <= a["start_ms"] <= hi]
    setup_reg = [s for s in spans if s["name"] == "tables.register"]
    reg_jobs = [sum(1 for j in kids.get(r["id"], []) if j["name"] == "spark.job")
                for r in setup_reg]
    gc_ms = sum(p[3] - p[2] for p in run["steady_passes"])
    footer = sum(s["footer_reads"] for s in run["samples"] if s["pass"] > 0)
    task_run_s = stage_sum("task_run_ms") / 1000.0
    build_s = phase_sum("query.build")
    per = lambda v: v / n_pass  # noqa: E731
    m = {
        "tables.register_s": (statistics.median(s["register_s"] for s in run["setups"]), "s"),
        "tables.register_jobs": (statistics.median(reg_jobs), "count"),
        "build_s": (per(build_s), "s"),
        "build.jobs": (per(len(jobs_under("query.build"))), "count"),
        "build.job_s": (per(build_job_s), "s"),
        "build.driver_s": (per(build_s - build_job_s), "s"),
        "plan_s": (per(phase_sum("query.plan")), "s"),
        "catalyst.analysis_s": (per(sum(a["analysis_ms"] for a in acts) / 1000.0), "s"),
        "catalyst.optimization_s": (per(sum(a["optimization_ms"] for a in acts) / 1000.0), "s"),
        "catalyst.planning_s": (per(sum(a["planning_ms"] for a in acts) / 1000.0), "s"),
        "collect_s": (per(phase_sum("query.collect")), "s"),
        "collect.jobs": (per(len(jobs_under("query.collect"))), "count"),
        "sched.stages": (per(len(stages)), "count"),
        "sched.tasks": (per(stage_sum("tasks")), "count"),
        "sched.wait_s": (per(sum(j["end_ms"] - j["start_ms"] - j["counts"]["task_busy_ms"]
                                 for j in jobs) / 1000.0), "s"),
        "task.run_s": (per(task_run_s), "s"),
        "task.cpu_s": (per(stage_sum("task_cpu_ns") / 1e9), "s"),
        "task.gc_s": (per(stage_sum("task_gc_ms") / 1000.0), "s"),
        "core_util": (task_run_s / (wall * CORES), "ratio"),
        "shuffle.write_mb": (per(stage_sum("shuffle_write_b") / 1e6), "MB"),
        "shuffle.read_mb": (per(stage_sum("shuffle_read_b") / 1e6), "MB"),
        "spill_mb": (per(stage_sum("spill_b") / 1e6), "MB"),
        "io.input_mb": (per(stage_sum("input_b") / 1e6), "MB"),
        "io.output_mb": (per(stage_sum("output_b") / 1e6), "MB"),
        "tables.footer_reads": (per(footer), "count"),
        "jvm.gc_s": (per(gc_ms / 1000.0), "s"),
        "storage.cached_mb": (run["storage_cached_mb"], "MB"),
    }
    extra = {"steady_passes": n_pass, "pass_wall_s": wall / n_pass,
             "self_time": self_times(spans)}
    return m, extra


# ---- main -----------------------------------------------------------------

def check(run, expected):
    """Marks each sample ok or failed: an exception or a fingerprint that
    differs from the DuckDB oracle's is a failure."""
    failures = []
    for s in run["samples"]:
        if s["error"]:
            failures.append(f"{s['query']} (pass {s['pass']}): {s['error']}")
        elif s["fp"] != expected.get(s["query"]):
            failures.append(f"{s['query']} (pass {s['pass']}): fingerprint "
                            f"{s['fp']} != expected {expected.get(s['query'])}")
    return failures


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root,
                              capture_output=True, text=True, timeout=10
                              ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def measure(root, workload, seed, seconds, trace):
    """Builds, runs and checks one workload; returns the result object and
    the configuration stamp."""
    spec = load_spec()
    if workload not in spec["workloads"]:
        raise BenchError(f"unknown workload {workload!r}")
    data = os.path.join(root, DATA)
    if not os.path.isdir(data):
        raise BenchError(f"no benchmark data in {data}")
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    classes = build(root)
    load0 = os.getloadavg()
    run = run_harness(root, classes, spec["workloads"][workload]["queries"],
                      seed, seconds, trace)
    load1 = os.getloadavg()
    failures = check(run, expected)
    e2e, notes = end_to_end(run)
    stamp = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
             "cores": run["cores"], "shuffle_partitions": run["shuffle_partitions"],
             "xmx": XMX, "sf_dir": DATA, "commit": git_commit(root),
             "loadavg_start": load0[0], "loadavg_end": load1[0],
             "fail_frac": len(failures) / len(run["samples"]),
             "notes": notes, "failures": failures[:20]}
    metrics = e2e
    if trace:
        metrics, extra = per_layer(run)
        stamp["traced_end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        stamp.update(extra)
    result = {"correct": not failures, "attempted": len(run["samples"]),
              "failed": len(failures),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    shutil.rmtree(run["run_dir"], ignore_errors=True)
    return result, stamp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        result, stamp = measure(os.getcwd(), a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps({"config": stamp}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
