#!/usr/bin/env python3
"""Slicer serving benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload olap_cold|olap_hot --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness and the
cubesspark sources with sbt (perfbench/build.sbt) and caches the classpath
under .bench_build/; later runs of the same sources reuse it. Each run
writes its artifact (request stream, canary bodies, result.json, spans and
layer table when traced, JVM log) to .bench_build/runs/<run>/ and prints
the summary as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json and perfbench/README.md). The exit
code is 0 only when every check passed.

Test data: $SPARK_GRAFT_SF_DIR, else ~/testdata/sf0.1 (the TPC-H tables).
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(BUILD, "runs")
KEEP_RUNS = 40
WORKLOADS = ("olap_cold", "olap_hot")
# requests generated per run: the cold stream must outlast the window
# (every URL distinct); the hot stream is a popularity sample, replayed
# from the start when a run outlasts it
STREAM_LEN = {"olap_cold": 200, "olap_hot": 20000}
TIME_LIMIT_S = 175
BUILD_LIMIT_S = 840

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import canaries as canary_mod  # noqa: E402
import gen  # noqa: E402


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ----------------------------------------------------------------- build

SOURCES = ["src/main", "build.sbt", "project/build.properties",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]


def sources_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        top = os.path.join(ROOT, rel)
        if not os.path.exists(top):
            raise SystemExit("perfbench: missing %s; run from a full checkout" % rel)
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile (when the sources changed) and return the runtime classpath."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log("building (sbt), log in .bench_build/build.log")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_LIMIT_S)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/")]
    if p.returncode != 0 or not lines:
        raise SystemExit("perfbench: build failed (see .bench_build/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------- summary

def extract_summary(tail):
    """The summary object from captured output: the last line that parses
    as a JSON object with the summary keys, whatever prefix a launcher
    (sbt's `[info] `) put in front of it."""
    for line in reversed(tail.splitlines()):
        start = line.find("{")
        if start < 0:
            continue
        try:
            obj = json.loads(line[start:])
        except ValueError:
            continue
        if isinstance(obj, dict) and {"correct", "attempted", "failed",
                                      "metrics"} <= set(obj):
            return obj
    return None


def prune_runs():
    if not os.path.isdir(RUNS):
        return
    runs = sorted(os.listdir(RUNS),
                  key=lambda d: os.path.getmtime(os.path.join(RUNS, d)))
    for d in runs[:-KEEP_RUNS]:
        shutil.rmtree(os.path.join(RUNS, d), ignore_errors=True)


# ------------------------------------------------------------------ run

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--canaries", default=os.path.join(HERE, "canaries.json"),
                    help="expected canary values (self-test substitutes a "
                         "corrupted copy)")
    a = ap.parse_args(argv)

    bench = spec()
    wanted = bench["per_layer" if a.trace else "end_to_end"]
    data = os.environ.get("SPARK_GRAFT_SF_DIR",
                          os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
    if not os.path.isdir(data):
        raise SystemExit("perfbench: test data not found at %s" % data)
    cp = classpath()
    # set-up time starts after the build: a build happens once per checkout
    t0_ns = time.time_ns()

    run_dir = os.path.join(RUNS, "%s-seed%d-trace%d-%d" % (
        a.workload, a.seed, a.trace, int(time.time())))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    members = gen.members(data)
    stream = (gen.cold_stream if a.workload == "olap_cold" else gen.hot_stream)(
        members, a.seed, STREAM_LEN[a.workload])
    gen.write_jsonl(os.path.join(run_dir, "stream.jsonl"), stream)
    expected = canary_mod.load(a.canaries)
    gen.write_jsonl(os.path.join(run_dir, "warmup.jsonl"),
                    canary_mod.requests(expected))

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JVM_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # a fixed-size heap: no resizing from run to run; no perf-data file in
    # the system temp directory
    cmd += ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seconds", repr(a.seconds),
            "--trace", str(a.trace), "--data", data, "--out", run_dir,
            "--stream", os.path.join(run_dir, "stream.jsonl"),
            "--warmup", os.path.join(run_dir, "warmup.jsonl"),
            "--t0-ns", str(t0_ns)]
    budget = TIME_LIMIT_S - (time.time_ns() - t0_ns) / 1e9
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        try:
            p = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               cwd=run_dir, timeout=budget)
            code = p.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    for scratch in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, scratch), ignore_errors=True)
    result_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        raise SystemExit("perfbench: JVM side failed (%s), see %s" % (
            code, os.path.join(run_dir, "jvm.log")))
    with open(result_file) as f:
        result = json.load(f)

    canary_errors = canary_mod.check(expected, os.path.join(run_dir, "canary"))
    failed = result["failed"] + len(canary_errors)
    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            raise SystemExit("perfbench: metric %s missing or in the wrong unit"
                             % m["name"])
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    summary = {"correct": failed == 0, "attempted": result["attempted"],
               "failed": failed, "metrics": metrics}
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(dict(summary, workload=a.workload, seed=a.seed,
                       seconds=a.seconds, trace=a.trace,
                       failed_share=failed / max(1, result["attempted"]),
                       errors=result["errors"] + canary_errors,
                       detail=result["detail"], host=result["host"],
                       setup_s_each=result["setup_s_each"]), f, indent=1)
    for e in (result["errors"] + canary_errors)[:20]:
        log("check failed: " + e)
    log("artifact: " + os.path.relpath(run_dir, ROOT))
    prune_runs()
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
