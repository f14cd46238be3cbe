#!/usr/bin/env python3
"""Run one liftbench workload and print its result as the last stdout line.

    python3 liftbench/run.py --workload ingest_registry --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) and caches the classpath under
liftbench/.build; later runs reuse it until a source file changes. All
scratch data lives under liftbench/.work and is removed after the run.
Exit code 0 means every operation and correctness check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("ingest_registry", "upsert_lookup", "stream_neardup", "curate_batch")
RUN_TIMEOUT_S = 175

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[liftbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's build and main sources,
    and the benchmark's own build and sources."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "project"),):
        if os.path.isdir(top):
            files += [os.path.join(top, f) for f in os.listdir(top)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(stamp):
    """The runtime classpath, rebuilt with sbt when the sources changed."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as fc:
            if fh.read().strip() == stamp:
                cp = fc.read().strip()
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp
    log("building the program and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export liftbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850, start_new_session=True)
    lines = proc.stdout.splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise SystemExit(f"[liftbench] sbt build failed (rc={proc.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def git_head():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return out.stdout.strip() if out.returncode == 0 and out.stdout.strip() else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def valid_result(line, trace):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    # the program reports every metric it measures (all of them are in its
    # table); the result line carries the ones BENCHMARK.json declares
    want = declared_metrics(trace)
    got = r["metrics"]
    missing = sorted(k for k, u in want.items() if got.get(k, {}).get("unit") != u)
    if missing:
        log(f"result lacks declared metrics (or their units): {missing}")
        return None
    r["metrics"] = {k: got[k] for k in want}
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="standard", choices=("standard", "tiny"),
                    help="tiny: small inputs and a short run, for the smoke test")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json"))):
        raise SystemExit("[liftbench] run from a checkout of the program: "
                         "build.sbt, src/main/scala/graft and BENCHMARK.json are required")

    stamp = fingerprint()
    cp = classpath(stamp)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.callstack.depth=80",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "liftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--scale", a.scale, "--work", work, "--results", results,
              "--git-head", git_head(), "--source-hash", stamp])
    last = None
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    deadline = time.time() + RUN_TIMEOUT_S

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *x: (kill(), sys.exit(143)))
    timer = threading.Timer(max(1.0, deadline - time.time()), kill)
    timer.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.strip():
                last = line
                print(line, flush=True)
        rc = proc.wait()
    finally:
        timer.cancel()
        kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    result = valid_result(last, a.trace == 1) if last else None
    if result is None:
        raise SystemExit(f"[liftbench] no valid result line (java exit code {rc})")
    print(json.dumps(result), flush=True)
    sys.exit(rc if rc != 0 or result["correct"] else 1)


if __name__ == "__main__":
    main()
