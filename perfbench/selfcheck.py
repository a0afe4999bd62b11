#!/usr/bin/env python3
"""Self-check of the benchmark itself.

Usage: python3 perfbench/selfcheck.py [workload ...]   (default: all)

For each workload it checks that
  1. an untraced run is correct and prints every end-to-end metric of
     BENCHMARK.json with its unit;
  2. a traced run against a copy of pins.json with one fingerprint
     corrupted prints every per-layer metric with its unit and reports
     the corrupted call as failed (calls.failed_frac > 0), so the
     correctness gate is live;
  3. after each run no pass or probe JVM is left and no work directory
     remains (a JVM's Spark local dirs, temp dir and written tables all
     live in its work directory).
Finally it checks that in a directory holding only BENCHMARK.json and
perfbench/ the command exits non-zero without printing a result.
Prints PASS or FAIL lines; exits non-zero on any failure.
"""
import json
import os
import shutil
import subprocess
import sys

import run

BENCH = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
BUILD = os.path.join(run.ROOT, ".bench_build")
failures = []


def ok(cond, what):
    print(("PASS " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def bench(workload, trace, pins=None, cwd=run.ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace)]
    if pins:
        cmd += ["--pins", pins]
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=180)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    return r.returncode, last


def leftovers():
    work = os.path.join(BUILD, "work")
    left = os.listdir(work) if os.path.isdir(work) else []
    jvms = subprocess.run(["pgrep", "-f", "^java .*perfbench[.]Pass"], stdout=subprocess.PIPE,
                          text=True).stdout.split()
    return left, jvms


def check_metrics(workload, res, specs, label):
    m = res.get("metrics", {})
    missing = [s["name"] for s in specs
               if s["name"] not in m or m[s["name"]].get("unit") != s["unit"]]
    ok(not missing, f"{workload} {label}: every metric printed with its unit {missing or ''}")
    ok(set(res) == {"correct", "attempted", "failed", "metrics"},
       f"{workload} {label}: result keys are correct/attempted/failed/metrics")


def main():
    workloads = sys.argv[1:] or sorted(run.WORKLOADS)
    pins = json.load(open(os.path.join(run.HERE, "pins.json")))
    for w in workloads:
        rc, last = bench(w, 0)
        ok(rc == 0, f"{w} untraced: exit code 0")
        res = json.loads(last) if rc == 0 else {}
        ok(res.get("correct") is True and res.get("failed") == 0,
           f"{w} untraced: correct, {res.get('failed')} of {res.get('attempted')} failed")
        check_metrics(w, res, BENCH["end_to_end"], "untraced")
        left, jvms = leftovers()
        ok(not left and not jvms, f"{w} untraced: no work dir {left} or JVM {jvms} left")

        victim = next(c for c in run.WORKLOADS[w][0] if c in pins["fingerprints"])
        bad = dict(pins, fingerprints=dict(pins["fingerprints"], **{victim: "0:0"}))
        bad_path = os.path.join(BUILD, "pins-corrupted.json")
        with open(bad_path, "w") as f:
            json.dump(bad, f)
        rc, last = bench(w, 1, pins=bad_path)
        os.remove(bad_path)
        print(f"{w} traced: {last}")
        ok(rc == 0, f"{w} traced: exit code 0")
        res = json.loads(last) if rc == 0 else {}
        check_metrics(w, res, BENCH["per_layer"], "traced")
        frac = res.get("metrics", {}).get("calls.failed_frac", {}).get("value", 0)
        ok(res.get("correct") is False and frac > 0,
           f"{w} traced: corrupted pin of {victim} counted, calls.failed_frac={frac}")
        left, jvms = leftovers()
        ok(not left and not jvms, f"{w} traced: no work dir {left} or JVM {jvms} left")

    bare = os.path.join(BUILD, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, last = bench(workloads[0], 0, cwd=bare)
    shutil.rmtree(bare)
    ok(rc != 0 and not last.startswith("{"), f"bare directory: exit code {rc}, no result")
    print("selfcheck: " + ("OK" if not failures else f"{len(failures)} FAILED"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
