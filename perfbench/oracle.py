#!/usr/bin/env python3
"""Writes perfbench/expected.json: the row-multiset fingerprint of every
benchmark query's DuckDB oracle result over the benchmark's data.

Usage (from the repository root):
  python3 perfbench/oracle.py

An oracle that fails or runs longer than ORACLE_TIMEOUT_S is reported and
gets no expected value, so the benchmark counts that query as failed.

The oracle SQL is `graft.SparkEntry.oracleSql`, dumped by the benchmark
build. Each oracle runs in DuckDB against views over the same parquet
tables the Spark queries read, like `oracle/diff.py`: columns are taken
in name order and the whole row multiset is compared. The fingerprint
form matches `perfbench.Fingerprint` in `src/Harness.scala`.
"""
import calendar
import datetime
import decimal
import hashlib
import json
import multiprocessing
import os
import struct
import subprocess
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

ORACLE_TIMEOUT_S = 120
TABLES = ["region", "nation", "supplier", "customer", "part",
          "orders", "lineitem", "documents", "embeddings", "events"]


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if f != f:
            return "NaN"
        if f == 0.0:
            f = 0.0
        return "d%x" % struct.unpack(">Q", struct.pack(">d", f))[0]
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return str(calendar.timegm(v.utctimetuple()) * 1000000 + v.microsecond)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    return str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    s1 = s2 = 0
    for r in rows:
        line = "\x01".join(canon(r[i]) for i in order)
        a, b = struct.unpack(">qq", hashlib.md5(line.encode()).digest())
        s1, s2 = (s1 + a) % 2**64, (s2 + b) % 2**64
    head = "\x01".join(cols[i] for i in order) + "\n" + str(len(rows)) + \
        "\n" + "%016x%016x" % (s1, s2)
    return hashlib.md5(head.encode()).hexdigest()[:24]


def run_oracle(data, tmp, sql, out):
    """Child process: one oracle in DuckDB, its fingerprint to `out`."""
    try:
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{tmp}'")
        con.execute("SET max_temp_directory_size='4GB'")
        con.execute("SET memory_limit='4GB'")
        con.execute("SET threads=4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data}/{t}.parquet')")
        rel = con.sql(sql)
        out.put("fp:" + fingerprint(rel.columns, rel.fetchall()))
    except duckdb.Error as e:
        out.put("failed: " + str(e)[:200])


def main():
    root = os.getcwd()
    spec = run.load_spec()
    names = sorted({q for w in spec["workloads"].values() for q in w["queries"]})
    expected = {}
    classes = run.build(root)
    data = os.path.join(root, run.DATA)
    with tempfile.TemporaryDirectory(dir=run.build_dir(root)) as tmp:
        dump = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(run.java_cmd(root, classes, tmp, "perfbench.DumpOracle",
                                    [dump] + names), check=True)
        with open(dump) as f:
            oracles = json.load(f)
        for name in names:
            if name not in oracles:
                print(f"{name}: no oracle SQL", file=sys.stderr)
                continue
            t0 = time.time()
            q = multiprocessing.Queue()
            p = multiprocessing.Process(target=run_oracle,
                                        args=(data, tmp, oracles[name], q))
            p.start()
            p.join(ORACLE_TIMEOUT_S)
            if p.is_alive():
                p.kill()
                p.join()
                res = "timed out"
            else:
                res = q.get() if not q.empty() else "no result"
            if res.startswith("fp:"):
                expected[name] = res[3:]
            print(f"{name}: {res} ({time.time() - t0:.1f} s)", file=sys.stderr)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
