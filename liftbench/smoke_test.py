#!/usr/bin/env python3
"""Smoke test for liftbench at the tiny input size.

    python3 liftbench/smoke_test.py [--workloads a,b] [--trace 0,1]

Runs each workload once per trace mode through run.py and asserts that the
run passes its correctness checks and prints every metric BENCHMARK.json
declares for that mode, with its declared unit, as a finite number. The
per-layer metrics must also appear in the human-readable table. Exit code
0 means every run passed.
"""
import argparse
import json
import math
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ALL = ("ingest_registry", "upsert_lookup", "stream_neardup", "curate_batch")


def check_run(workload, trace, spec):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)
    lines = proc.stdout.splitlines()
    problems = []
    if proc.returncode != 0:
        problems.append(f"exit code {proc.returncode}: {proc.stderr[-2000:]}")
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return problems + ["last stdout line is not JSON"]
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0 or result.get("attempted", 0) < 1:
        problems.append(f"correct={result.get('correct')} failed={result.get('failed')} "
                        f"attempted={result.get('attempted')}")
    declared = spec["per_layer" if trace else "end_to_end"]
    metrics = result.get("metrics", {})
    table = "\n".join(lines[:-1])
    for m in declared:
        got = metrics.get(m["name"])
        if got is None:
            problems.append(f"metric {m['name']} missing")
            continue
        if got.get("unit") != m["unit"]:
            problems.append(f"metric {m['name']} unit {got.get('unit')} != {m['unit']}")
        v = got.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            problems.append(f"metric {m['name']} value {v!r} is not a finite number")
        if f" {m['name']} " not in table or m["unit"] not in table:
            problems.append(f"metric {m['name']} not printed with its unit")
    extra = set(metrics) - {m["name"] for m in declared}
    if extra:
        problems.append(f"undeclared metrics {sorted(extra)}")
    if not trace and "error_rate" not in table:
        problems.append("error_rate not printed")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(ALL))
    ap.add_argument("--trace", default="0,1")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failed = 0
    for w in a.workloads.split(","):
        for t in (int(x) for x in a.trace.split(",")):
            problems = check_run(w, t, spec)
            print(f"{'ok  ' if not problems else 'FAIL'} {w} trace={t}", flush=True)
            for p in problems:
                print(f"     {p}")
            failed += bool(problems)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
