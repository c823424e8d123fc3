#!/usr/bin/env python3
"""Compare the exact-repeat counters of two traced runs.

    python3 perfbench/diff_trace.py OLD.json NEW.json

OLD and NEW are trace records written by `run.py --trace 1` (under
.bench_build/perfbench/traces/). For every call of the workload and for
the total, the counters that must repeat exactly on the same seed and the
same code — jobs, stages, tasks, shuffle records, scan input passes,
plan exchanges and sorts, pins left — are compared. Any difference is
printed and the exit code is 1; identical counters exit 0. Two records of
different workloads or seeds are refused (exit 2): their counters are not
expected to match.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def diff(old, new):
    """Lines describing every exact-repeat counter that changed."""
    out = []
    calls = sorted(set(old["exact"]) | set(new["exact"]))
    totals = {"old": {}, "new": {}}
    for call in calls:
        a, b = old["exact"].get(call), new["exact"].get(call)
        if a is None or b is None:
            out.append(f"{call}: only in {'new' if a is None else 'old'}")
            continue
        for k in sorted(set(a) | set(b)):
            if a.get(k) != b.get(k):
                out.append(f"{call}.{k}: {a.get(k)} -> {b.get(k)}")
        for side, rec in (("old", a), ("new", b)):
            for k, v in rec.items():
                totals[side][k] = totals[side].get(k, 0) + v
    for k in sorted(totals["old"]):
        if totals["old"][k] != totals["new"].get(k):
            out.append(f"total.{k}: {totals['old'][k]} -> {totals['new'].get(k)}")
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    old, new = load(argv[1]), load(argv[2])
    for key in ("workload", "seed"):
        if old[key] != new[key]:
            print(f"records differ in {key}: {old[key]} vs {new[key]}",
                  file=sys.stderr)
            return 2
    lines = diff(old, new)
    for line in lines:
        print(line)
    n = sum(len(v) for v in old["exact"].values())
    print(f"{len(lines)} changed of {n} exact-repeat counters "
          f"({old['workload']}, seed {old['seed']})")
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
