#!/usr/bin/env python3
"""graft pipeline benchmark.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source (perfbench/build.py),
generates the input tables once (perfbench/gen_data.py), then runs the
workload as fresh-JVM passes (perfbench.Pass), the way a pipeline job
runs under spark-submit, until --seconds of pass time have accumulated
(at least one pass; a pass is never cut short, and no pass starts that
could not end before the run's time limit). An untraced pass JVM starts
together with PROBES probe JVMs that only set up, and its pass begins
once they have ended: set-up is sampled PROBES + 1 times per pass, and
setup_s is the median of the samples. The seed orders the
calls of a pass and picks the ingest batches. Every result is checked
against the fingerprint pinned in perfbench/pins.json, or for the
ingest steps against the fingerprint of the batches that were written.

The last stdout line is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1. A traced run makes one traced pass and,
time permitting, one untraced pass with the same seed, so it can report
the tracing overhead. The line before it is a readable host and tail
record. See perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

SCALE = 0.001
DEADLINE_S = 170.0
# Set-up JVMs started beside each untraced pass JVM. One, so two set-ups
# share the cores: three side by side took 24-27 s under default tiering
# and pushed a measurement round near its time limit (README.md).
PROBES = 1
# One fresh JVM per pass. Heap and young generation are fixed so peak RSS
# follows live data, not the host's memory size or GC timing. The JIT keeps
# its default tiering (C1 then C2), as under spark-submit, so a pass pays
# the compile cost a pipeline job pays. Compiler threads stay alive so their
# CPU can be summed (jvm.jit_s). No perf-data file in the system temp
# directory: a run writes only inside its checkout. Then the module opens
# Spark needs on JDK 17.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:+UseG1GC",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# Each list is sized so a run (two set-ups side by side, then one cold
# pass) takes 40-70 s on a shared 4-vCPU host; README.md gives the time
# budget behind that.
ETL_CALLS = ("q_concat_keys q_pivot q_window_sum q_array_diff q_price_index "
             "q_sessionize").split()
# Write path, in dependency order; the seed interleaves it with ETL_CALLS.
INGEST_STEPS = ["ingest.write", "ingest.overwrite", "ingest.index_prune", "ingest.compact",
                "ingest.read_evolved", "ingest.read_table_agg"]
# Steps whose result is only what they wrote (file and byte counts); the
# steps that read data back are checked against the landed batches.
WRITE_STEPS = {"ingest.write", "ingest.overwrite", "ingest.compact"}
RETRIEVAL_CALLS = ("q_dedup_minhash q_semdedup q_hubness q_lsh_recall q_pq_recall "
                   "q_sq8_recall q_ivf_topk q_kcore q_huber q_geks_index q_logit").split()
WORKLOADS = {
    # short operator calls (read path, planning, codegen) and the write path
    "etl_pipeline": (ETL_CALLS, INGEST_STEPS),
    # dedup, ANN and recall guards, then driver-loop fits: execution and
    # shuffle, eager construction jobs, persisted intermediates, both
    # operator memo caches
    "retrieval_dedup": (RETRIEVAL_CALLS, []),
}


def metric_names(kind):
    """(name, unit) of the end_to_end or per_layer metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def ensure_data(build_dir):
    """Generate the tables once per checkout, keyed by generator and scale."""
    import hashlib
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        key = hashlib.sha256(f.read() + repr(SCALE).encode()).hexdigest()[:16]
    data = os.path.join(build_dir, "data", key)
    if not os.path.exists(os.path.join(data, "_done")):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), tmp, repr(SCALE)],
                       check=True)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
        open(os.path.join(data, "_done"), "w").close()
    return data


class Jvm:
    """One fresh pass JVM (perfbench.Pass), started at construction. A
    probe stops once set up. With `go`, the JVM waits after set-up until
    that file exists before it starts the pass. Its work directory is
    removed when it ends, so nothing a pass writes outlives it."""

    def __init__(self, cp, build_dir, data, workload, calls, seed, traced, tag, go=None):
        self.work = os.path.join(build_dir, "work", f"{os.getpid()}-{tag}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.probe = tag.startswith("probe")
        self.traced = traced
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(self.work, "local"))
        spans = os.path.join(build_dir, "trace", f"{workload}-{seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        cmd = ["java"] + JVM_OPTS + [
            f"-Djava.io.tmpdir={self.work}/tmp", "-cp", cp, "perfbench.Pass",
            "--workload", workload, "--calls", ",".join(calls), "--data", data,
            "--work", self.work, "--seed", str(seed), "--cpus", str(min(2, os.cpu_count() or 1)),
            "--trace", "1" if traced else "0", "--spans", spans,
            "--probe", str(int(self.probe)), "--go", go or ""]
        self.workload = workload
        self.log_path = os.path.join(build_dir, f"{tag}-{workload}.log")
        self.build_dir = build_dir
        with open(self.log_path, "w") as log:
            self.launched = time.time()
            self.p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                                      cwd=self.work)

    def stop(self):
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()
        shutil.rmtree(self.work, ignore_errors=True)

    def finish(self, deadline):
        """Wait for the JVM to end; return its JSON record."""
        try:
            out, _ = self.p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: pass exceeded the run deadline; see {self.log_path}")
        finally:
            self.stop()
        lines = out.strip().splitlines()
        if self.p.returncode != 0 or not lines:
            sys.exit(f"perfbench: pass exited with {self.p.returncode}; see {self.log_path}")
        rec = json.loads(lines[-1])
        rec["exit_lag_s"] = time.time() - rec["end_ms"] / 1e3
        rec["launched_ms"] = self.launched * 1e3
        if not self.probe:
            name = f"pass-{self.workload}{'-traced' if self.traced else ''}.json"
            with open(os.path.join(self.build_dir, name), "w") as f:
                json.dump(rec, f)
        return rec


def run_pass(cp, build_dir, data, workload, calls, seed, traced, deadline):
    """One fresh-JVM pass, alone; returns its JSON record."""
    return Jvm(cp, build_dir, data, workload, calls, seed, traced, f"pass{int(traced)}").finish(
        deadline)


def sampled_pass(cp, build_dir, data, workload, calls, seed, deadline):
    """One untraced pass whose set-up is sampled PROBES + 1 times: the pass
    JVM and PROBES probe JVMs start together, and the pass starts once the
    probes have ended. Returns the pass record and the set-up samples."""
    go = os.path.join(build_dir, "work", f"{os.getpid()}-go")
    jvms = []
    try:
        jvms.append(Jvm(cp, build_dir, data, workload, calls, seed, False, "pass0", go=go))
        jvms += [Jvm(cp, build_dir, data, workload, [], seed, False, f"probe{i}")
                 for i in range(PROBES)]
        setups = [j.finish(deadline)["setup_s"] for j in jvms[1:]]
        open(go, "w").close()
        rec = jvms[0].finish(deadline)
    finally:
        for j in jvms:
            j.stop()
        if os.path.exists(go):
            os.remove(go)
    return rec, setups + [rec["setup_s"]]


def call_order(workload, seed):
    """The seed shuffles the calls and interleaves the ordered write-path
    steps among them."""
    calls, steps = WORKLOADS[workload]
    rnd = random.Random(seed)
    order = list(calls)
    rnd.shuffle(order)
    slots = sorted(rnd.randrange(len(order) + 1) for _ in steps)
    for k, (slot, step) in enumerate(zip(slots, steps)):
        order.insert(slot + k, step)
    return order


def tail(xs):
    """Highest percentile with at least ten samples beyond it: (value, pct, n)."""
    s = sorted(xs)
    i = max(0, len(s) - 11)
    return s[i], 100.0 * (i + 1) / len(s), len(s)


def check(passes, pins):
    attempted = failed = 0
    bad = []
    for rec in passes:
        for c in rec["calls"]:
            attempted += 1
            got = f'{c["rows"]}:{c["hash"]}'
            if c["name"] in WRITE_STEPS:
                want = got  # checked by the read-backs that follow them
            elif c["name"].startswith("ingest."):
                # the fingerprint the landed batches determine; a read step
                # without one is failed, never taken as matching itself
                want = c["expect"]
            else:
                want = pins.get(c["name"])
            if not c["ok"] or got != want:
                failed += 1
                bad.append(f'{c["name"]}: {c["error"] or f"fingerprint {got} != expected {want}"}')
    return attempted, failed, bad


def main():
    # A terminated run still stops its pass JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pins", default=os.path.join(HERE, "pins.json"))
    a = ap.parse_args()
    build_dir = os.path.join(ROOT, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp = build.ensure(build_dir)
    data = ensure_data(build_dir)
    # passes get their own time limit; a first run's build comes on top
    deadline = time.time() + DEADLINE_S
    with open(a.pins) as f:
        pins = json.load(f)["fingerprints"]

    order = call_order(a.workload, a.seed)

    untraced, traced, setups = [], [], []
    if a.trace:
        # The traced pass carries the per-layer metrics, so it runs first.
        # Its untraced twin, same seed, is the reference for the tracing
        # overhead. It runs only if it can end before the deadline: under
        # heavy host steal two cold passes take longer than a run may, and
        # then the overhead is not measured.
        t0 = time.time()
        traced.append(run_pass(cp, build_dir, data, a.workload, order, a.seed, True, deadline))
        if time.time() + (time.time() - t0) < deadline:
            untraced.append(run_pass(cp, build_dir, data, a.workload, order, a.seed, False,
                                     deadline))
    else:
        measured = 0.0
        started = time.time()
        while not untraced or (measured < a.seconds and
                               time.time() + 2 * (time.time() - started) / len(untraced)
                               < deadline):
            rec, samples = sampled_pass(cp, build_dir, data, a.workload, order, a.seed, deadline)
            untraced.append(rec)
            setups += samples
            measured += rec["wall_s"]
    passes = untraced + traced
    attempted, failed, bad = check(passes, pins)
    for b in bad[:20]:
        print("MISMATCH " + b, file=sys.stderr)

    def med(recs, k):
        return statistics.median(r.get(k, 0.0) for r in recs)

    shown_passes = untraced or traced
    lat = [c["s"] for r in shown_passes for c in r["calls"]]
    tail_s, tail_pct, n = tail(lat)
    # Every candidate end-to-end figure; BENCHMARK.json names the gated ones
    # and the record line shows the rest.
    e2e = {k: med(shown_passes, k) for k in ("wall_s", "cpu_s", "peak_rss_mb", "spark_jobs",
                                             "shuffle_bytes")}
    e2e["setup_s"] = statistics.median(setups or [r["setup_s"] for r in shown_passes])
    e2e["query_p50_s"] = statistics.median(lat)
    gated = metric_names("end_to_end")
    shown = " ".join(f"{k}={v:.4f}" for k, v in e2e.items() if k not in dict(gated))
    print(f"seed={a.seed} passes={len(untraced)} setups={','.join(f'{x:.2f}' for x in setups)} "
          f"{shown} query_tail_s=p{tail_pct:.1f} of "
          f"n={n}: {tail_s:.4f} host.steal_s={med(shown_passes, 'host.steal_s'):.2f} "
          f"host.canary_s={med(shown_passes, 'host.canary_s'):.4f}")
    if a.trace:
        if not untraced:
            print("perfbench: no untraced twin fitted the time limit; tracing overhead "
                  "not measured, reported as 0", file=sys.stderr)
        out = {}
        for name, unit in metric_names("per_layer"):
            if name == "calls.failed_frac":
                v = failed / attempted
            elif name == "trace.overhead_wall_s":
                v = med(traced, "wall_s") - med(untraced, "wall_s") if untraced else 0.0
            elif name == "trace.overhead_cpu_s":
                v = med(traced, "cpu_s") - med(untraced, "cpu_s") if untraced else 0.0
            else:
                v = med(traced, name)
            out[name] = {"value": v, "unit": unit}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in gated}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
