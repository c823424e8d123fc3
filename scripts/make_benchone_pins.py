#!/usr/bin/env python3
"""Build/refresh scripts/benchone_pins.json — the machine-readable
steady-state per-query pins that drive Bench.scala's absolute-outlier
retry (trigger: t > max(3s, 3x pin)).

Usage: make_benchone_pins.py bench_full.json [bench_full2.json ...]

Pin = min over the given runs per query (a full sweep after Bench's
warm pre-pass is steady state — DESIGN.md "Bench methodology";
min-of-2-sweeps approximates the JobStats --repeat=5 warm min well
within the 3x retry margin). Existing pins are kept if lower (monotone: a pin only
improves), and queries new to the sweep get their first pin here.
"""
import json
import os
import sys

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "benchone_pins.json")


def main(paths):
    pins = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            pins = json.load(f)
    for p in paths:
        with open(p) as f:
            run = json.load(f)
        items = dict(run.get("queries", {}))
        # the abbreviated sweep format itemizes slow queries in ms
        # (fast ones fold into the "fast" bucket and keep their pins);
        # null = the same failure sentinel as "queries"
        for q, ms in run.get("queries_ms", {}).items():
            items[q] = ms / 1000.0 if ms is not None else None
        for q, t in items.items():
            if t is None or t < 0:
                continue  # failure sentinel
            if q not in pins or t < pins[q]:
                pins[q] = round(float(t), 3)
    with open(OUT, "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")
    print(f"wrote {OUT}: {len(pins)} pins")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
