#!/usr/bin/env python3
"""Self-test of the benchmark's own checks.

    python3 perfbench/selftest.py          # quick checks
    python3 perfbench/selftest.py --full   # also runs the command once

1. The summary line survives a capture that keeps only the last 2000
   characters of output and prefixes lines the way sbt does (`[info] `):
   it is extracted and parsed back unchanged.
2. The canary checker accepts the bodies of the latest run and rejects them
   once one expected value is corrupted.
3. (--full) The benchmark command itself, given a corrupted expectation,
   exits non-zero and reports `"correct": false`.
"""

import copy
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import canaries  # noqa: E402
import run  # noqa: E402

TAIL = 2000


def corrupted(expected):
    """A copy with one aggregate value of one canary off by 0.1%."""
    bad = copy.deepcopy(expected)
    c = next(c for c in bad if c["name"] == "agg_region")
    c["cells"][0]["fact_count"] = c["cells"][0]["fact_count"] * 1.001
    return bad


def test_summary_tail():
    metrics = {m["name"]: {"value": 1234.56789012345, "unit": m["unit"]}
               for m in run.spec()["end_to_end"]}
    summary = {"correct": True, "attempted": 321, "failed": 0, "metrics": metrics}
    noise = "".join("[error] 26/10/17 INFO Executor: Finished task %d.0 in "
                    "stage 7.0 (TID %d). 2545 bytes result sent\n" % (i, i)
                    for i in range(60))
    out = noise + "[info] " + json.dumps(summary) + "\n[success] Total time: 3 s\n"
    line = "[info] " + json.dumps(summary)
    assert len(line) < TAIL, "summary line of %d chars does not fit" % len(line)
    got = run.extract_summary(out[-TAIL:])
    assert got == summary, "extracted %r" % (got,)
    assert run.extract_summary(noise[-TAIL:]) is None
    print("ok   summary line parses from a %d-char [info]-prefixed tail" % TAIL)


def latest_canary_dir():
    """Canary bodies of the latest finished run."""
    done = sorted(glob.glob(os.path.join(run.RUNS, "*", "summary.json")),
                  key=os.path.getmtime)
    return os.path.join(os.path.dirname(done[-1]), "canary") if done else None


def test_canary_checker():
    body_dir = latest_canary_dir()
    if body_dir is None:
        print("skip canary checker: no run artifact yet (run the benchmark once)")
        return
    expected = canaries.load(os.path.join(HERE, "canaries.json"))
    errors = canaries.check(expected, body_dir)
    assert not errors, errors
    errors = canaries.check(corrupted(expected), body_dir)
    assert len(errors) == 1 and "agg_region" in errors[0], errors
    print("ok   canary checker passes %d canaries of %s and catches a corrupted one"
          % (len(expected), os.path.relpath(os.path.dirname(body_dir), run.ROOT)))


def test_command_fails_on_corrupted_canary():
    os.makedirs(run.BUILD, exist_ok=True)
    bad = os.path.join(run.BUILD, "canaries-corrupted.json")
    with open(bad, "w") as f:
        json.dump(corrupted(canaries.load(os.path.join(HERE, "canaries.json"))), f)
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "olap_cold",
         "--seed", "1", "--seconds", "3", "--trace", "0", "--canaries", bad],
        cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600)
    summary = run.extract_summary(p.stdout)
    assert p.returncode != 0, "command passed with a corrupted canary"
    assert summary is not None and summary["correct"] is False, p.stdout[-500:]
    print("ok   command exits %d with correct=false on a corrupted canary"
          % p.returncode)


if __name__ == "__main__":
    test_summary_tail()
    test_canary_checker()
    if "--full" in sys.argv[1:]:
        test_command_fails_on_corrupted_canary()
