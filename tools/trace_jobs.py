#!/usr/bin/env python3
"""Spark jobs per call and per phase of a perfbench trace, and shuffle bytes per call.

Usage: trace_jobs.py <trace.jsonl> [<other trace.jsonl>]

A traced perfbench pass (`python3 perfbench/run.py --trace 1`) writes its
spans to `.bench_build/trace/<workload>-<seed>.jsonl`: one record per call
(`kind: call`), per phase of a call (`construct`, `plan`, `execute`) and per
Spark job (`kind: job`, its parent being the phase that submitted it, with
the bytes its stages wrote to and read from the shuffle).

Given one trace, prints a table of the jobs each call ran in each phase and
the bytes it shuffled in all phases: written, read, and their sum (the
benchmark's `shuffle_bytes`), with a total row. An exchange written once and
read by N consumers shows as read = N x written.
Given two (a before and an after), prints both figures and their difference
per call and phase, so a change that moves jobs or bytes between layers or
calls shows where. Calls are matched by name in pass order; a warm re-issue
of a call is its own row, marked "(warm)". Job and byte counts do not
depend on host load, so two traces taken on different hosts compare.
"""
import json
import sys

PHASES = ("construct", "plan", "execute")
BYTES = ("written", "read", "shuffle")
COLUMNS = PHASES + ("all",) + BYTES


def load(path):
    """Ordered {call label: {column: count}} of one trace: jobs per phase,
    all jobs, and shuffle bytes written, read and both."""
    calls, order, counts = {}, [], {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            if r["kind"] == "call":
                label = r["name"] + (" (warm)" if r.get("warm") else "")
                while label in counts:  # the same call issued twice
                    label += "'"
                calls[r["id"]] = label
                order.append(label)
                counts[label] = dict.fromkeys(COLUMNS, 0)
            elif r["kind"] == "job":
                call, phase = r["parent"].split(".", 1)
                c = counts[calls[call]]
                c[phase] += 1
                c["all"] += 1
                c["written"] += r.get("shuffle_write_bytes", 0)
                c["read"] += r.get("shuffle_read_bytes", 0)
                c["shuffle"] = c["written"] + c["read"]
    return [(label, counts[label]) for label in order]


def total(rows):
    return {c: sum(j[c] for _, j in rows) for c in COLUMNS}


def show_one(rows):
    width = max([len(label) for label, _ in rows] + [5])
    print(f"{'call':<{width}} " + " ".join(f"{p:>9}" for p in PHASES)
          + f" {'all':>5} " + " ".join(f"{b:>11}" for b in BYTES))
    for label, j in rows + [("total", total(rows))]:
        print(f"{label:<{width}} " + " ".join(f"{j[p]:>9}" for p in PHASES)
              + f" {j['all']:>5} " + " ".join(f"{j[b]:>11}" for b in BYTES))


def show_delta(before, after):
    a, b = dict(before), dict(after)
    labels = [label for label, _ in before] + [label for label, _ in after if label not in a]
    empty = dict.fromkeys(COLUMNS, 0)
    rows = [(label, a.get(label, empty), b.get(label, empty)) for label in labels]
    rows.append(("total", total(before), total(after)))
    width = max([len(label) for label in labels] + [5])
    cell = {c: 31 if c in BYTES else 15 for c in COLUMNS}
    print(f"{'call':<{width}} " + " ".join(f"{c:>{cell[c]}}" for c in COLUMNS))
    for label, x, y in rows:
        print(f"{label:<{width}} " + " ".join(
            f"{f'{x[c]}->{y[c]} ({y[c] - x[c]:+d})' if x[c] != y[c] else x[c]:>{cell[c]}}"
            for c in COLUMNS))


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[2])
    if len(argv) == 2:
        show_one(load(argv[1]))
    else:
        show_delta(load(argv[1]), load(argv[2]))


if __name__ == "__main__":
    main(sys.argv)
