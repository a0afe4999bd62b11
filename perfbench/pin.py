#!/usr/bin/env python3
"""Pin the result fingerprint of every workload call.

Usage: python3 perfbench/pin.py

Runs each workload twice, as two fresh-JVM passes in different seed
orders, requires every call to succeed with the same fingerprint in
both, and writes perfbench/pins.json ("rows:sum(xxhash64)" per call)
with the data it was pinned on. The ingest steps are not pinned: they
check themselves against the batches they wrote. The DuckDB oracle
cross-check of the same calls on the same tables is recorded in the
"oracle" field by hand (see README.md, "Pinned fingerprints").
"""
import hashlib
import json
import os
import sys
import time

import run

SEEDS = (1, 2)


def main():
    build_dir = os.path.join(run.ROOT, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp = run.build.ensure(build_dir)
    data = run.ensure_data(build_dir)
    pins = {}
    for workload in sorted(run.WORKLOADS):
        seen = {}
        for seed in SEEDS:
            rec = run.run_pass(cp, build_dir, data, workload, run.call_order(workload, seed),
                               seed, False, time.time() + run.DEADLINE_S)
            for c in rec["calls"]:
                if c["name"].startswith("ingest."):
                    continue
                if not c["ok"]:
                    sys.exit(f"pin: {c['name']} failed: {c['error']}")
                seen.setdefault(c["name"], set()).add(f'{c["rows"]}:{c["hash"]}')
        for name, fps in seen.items():
            if len(fps) != 1:
                sys.exit(f"pin: {name} is not deterministic: {sorted(fps)}")
            pins[name] = fps.pop()
    path = os.path.join(run.HERE, "pins.json")
    old = json.load(open(path)) if os.path.exists(path) else {}
    with open(os.path.join(run.HERE, "gen_data.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:16]
    out = {"scale": run.SCALE, "generator_sha256_16": gen,
           "pinned_by": f"two fresh-JVM passes per workload, seeds {list(SEEDS)}, identical",
           "oracle": old.get("oracle", ""),
           "fingerprints": dict(sorted(pins.items()))}
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"pinned {len(pins)} calls")


if __name__ == "__main__":
    main()
