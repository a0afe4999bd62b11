#!/usr/bin/env python3
"""Spark jobs per call and per phase of a perfbench trace.

Usage: trace_jobs.py <trace.jsonl> [<other trace.jsonl>]

A traced perfbench pass (`python3 perfbench/run.py --trace 1`) writes its
spans to `.bench_build/trace/<workload>-<seed>.jsonl`: one record per call
(`kind: call`), per phase of a call (`construct`, `plan`, `execute`) and per
Spark job (`kind: job`, its parent being the phase that submitted it).

Given one trace, prints a table of the jobs each call ran in each phase,
with a total row. Given two (a before and an after), prints both counts and
their difference per call and phase, so a change that moves jobs between
layers or calls shows where. Calls are matched by name in pass order; a
warm re-issue of a call is its own row, marked "(warm)". Job counts do not
depend on host load, so two traces taken on different hosts compare.
"""
import json
import sys

PHASES = ("construct", "plan", "execute")


def load(path):
    """Ordered {call label: {phase: jobs}} of one trace."""
    calls, order, jobs = {}, [], {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            if r["kind"] == "call":
                label = r["name"] + (" (warm)" if r.get("warm") else "")
                while label in jobs:  # the same call issued twice
                    label += "'"
                calls[r["id"]] = label
                order.append(label)
                jobs[label] = dict.fromkeys(PHASES, 0)
            elif r["kind"] == "job":
                call, phase = r["parent"].split(".", 1)
                jobs[calls[call]][phase] += 1
    return [(label, jobs[label]) for label in order]


def total(rows):
    return {p: sum(j[p] for _, j in rows) for p in PHASES}


def show_one(rows):
    width = max([len(label) for label, _ in rows] + [5])
    print(f"{'call':<{width}} " + " ".join(f"{p:>9}" for p in PHASES) + f" {'all':>5}")
    for label, j in rows + [("total", total(rows))]:
        print(f"{label:<{width}} " + " ".join(f"{j[p]:>9}" for p in PHASES)
              + f" {sum(j.values()):>5}")


def show_delta(before, after):
    a, b = dict(before), dict(after)
    labels = [label for label, _ in before] + [label for label, _ in after if label not in a]
    empty = dict.fromkeys(PHASES, 0)
    rows = [(label, a.get(label, empty), b.get(label, empty)) for label in labels]
    rows.append(("total", total(before), total(after)))
    width = max([len(label) for label in labels] + [5])
    print(f"{'call':<{width}} " + " ".join(f"{p:>15}" for p in PHASES) + f" {'all':>15}")
    for label, x, y in rows:
        cells = [(x[p], y[p]) for p in PHASES] + [(sum(x.values()), sum(y.values()))]
        print(f"{label:<{width}} " + " ".join(
            f"{f'{u}->{v} ({v - u:+d})':>15}" if u != v else f"{u:>15}" for u, v in cells))


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[2])
    if len(argv) == 2:
        show_one(load(argv[1]))
    else:
        show_delta(load(argv[1]), load(argv[2]))


if __name__ == "__main__":
    main(sys.argv)
