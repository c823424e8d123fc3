#!/usr/bin/env python3
"""Per-query bench gate: compare a graft Bench JSON line against the
recorded DuckDB per-query baseline (scripts/duckdb_baseline_sf0.1.json,
measured by running every oracle_sql.json entry in DuckDB 1.0 with
threads=32 on the sf0.1 parquet).

Usage: check_ratios.py <bench.json> [--floor SECONDS] [--gate RATIO]
                                    [--slow SECONDS]

Accepts any of these bench shapes: bench_full.json
({"queries": {name: sec}}), a Bench driver line in either form
({"queries": {name: sec}, "fast": {...}} or
{"queries_ms": {name: ms}, "fast": {...}}), or a driver BENCH_rN.json
envelope ({"parsed": <driver line>}). A driver line itemizes only its
slow queries; those folded into its "fast" bucket carry no per-query
time there — run against bench_full.json for full coverage (a note
reports how many were skipped).

The aggregate 2x gate is the driver's; this makes it bind per query so a
single regression can't hide inside the total. Queries where DuckDB
finishes under --floor (default 0.1s) are reported but not gated: at
that size the Spark time is dominated by fixed per-query overhead
(planning + codegen + job scheduling), which is per-query, not per-row,
and disappears at real scale.

--slow (default 3.0s) is the ratio gate's blind-spot alarm: any query
slower than this in ABSOLUTE terms is flagged regardless of its DuckDB
denominator — a query can be arbitrarily slow yet ratio-clean when
DuckDB solves it under the floor (q_string_aggs sat at 5.7s for two
rounds this way). Flagged queries deserve a JobStats --repeat=5
isolation pass; the alarm is REPORT-ONLY by default (a pinned-
acceptable constant like q_pipeline_e2e's composed-stage cost should
not fail every run) — pass --slow-fail=1 to make it gate.
"""
import json
import sys
import os

def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = dict(a.split("=") for a in sys.argv[1:] if a.startswith("--") and "=" in a)
    floor = float(opts.get("--floor", 0.1))
    gate = float(opts.get("--gate", 2.0))
    slow = float(opts.get("--slow", 3.0))
    bench_path = args[0] if args else "/tmp/bench_a.json"
    base_path = os.path.join(os.path.dirname(__file__), "duckdb_baseline_sf0.1.json")

    bench = json.load(open(bench_path))
    if "parsed" in bench:  # driver BENCH_rN.json envelope
        bench = bench["parsed"]
    unbenched = 0
    if "queries" in bench:          # seconds; a driver line adds "fast"
        sp = bench["queries"]
        unbenched = bench.get("fast", {}).get("n", 0)
    elif "queries_ms" in bench:     # driver line: ms ints + "fast" bucket
        sp = {n: ms / 1000.0 for n, ms in bench["queries_ms"].items()}
        unbenched = bench.get("fast", {}).get("n", 0)
    else:                           # bare {name: sec} map
        sp = {n: t for n, t in bench.items() if isinstance(t, (int, float))}
    dk = json.load(open(base_path))

    # Bench reports -1.0 (and an "errors" list, or {"n":..,"names":[..]}
    # capped dict on the driver line) for queries that threw: a broken
    # query is a hard failure, never a fast success, and must not
    # deflate the Spark total.
    err = bench.get("errors", [])
    if isinstance(err, dict):
        err = err.get("names", [])
    broken = sorted(set(err) | {n for n, t in sp.items() if t < 0})
    sp = {n: t for n, t in sp.items() if n not in broken}

    gated, small, missing = [], [], []
    for name, t in sorted(sp.items()):
        d = dk.get(name)
        if d is None:
            missing.append(name)
            continue
        ratio = t / d if d > 0 else float("inf")
        (gated if d >= floor else small).append((name, t, d, ratio))

    fails = [(n, t, d, r) for n, t, d, r in gated if r > gate]
    print(f"gated (duckdb >= {floor}s): {len(gated)} queries, "
          f"{len(fails)} over {gate}x")
    for n, t, d, r in sorted(gated, key=lambda x: -x[3]):
        mark = " FAIL" if r > gate else ""
        print(f"  {n:26s} spark={t:7.2f} duckdb={d:8.3f} ratio={r:6.2f}{mark}")
    tot_s = sum(t for _, t, _, _ in gated + small)
    tot_d = sum(d for _, _, d, _ in gated + small)
    print(f"overhead-dominated (duckdb < {floor}s, reported only): {len(small)}")
    for n, t, d, r in sorted(small, key=lambda x: -x[1])[:10]:
        print(f"  {n:26s} spark={t:7.2f} duckdb={d:8.3f}")
    if missing:
        print(f"no baseline for: {missing}")
    if unbenched:
        print(f"NOTE: {unbenched} queries in the driver line's 'fast' "
              "bucket have no per-query time here — run against "
              "bench_full.json for full coverage")
    # absolute-time alarm: slow in wall-clock terms is a failure even
    # when the DuckDB denominator sits under the ratio floor
    slowq = [(n, t) for n, t in sorted(sp.items()) if t > slow]
    slow_fail = opts.get("--slow-fail", "0") not in ("0", "", "false")
    if slowq:
        print(f"SLOW (> {slow}s absolute, JobStats-isolate these):")
        for n, t in sorted(slowq, key=lambda x: -x[1]):
            print(f"  {n:26s} spark={t:7.2f}")
    if broken:
        print(f"BROKEN (bench error, hard fail): {broken}")
    print(f"TOTAL spark={tot_s:.1f}s duckdb={tot_d:.1f}s ratio={tot_s / tot_d:.2f}"
          + (" [excludes broken queries]" if broken else ""))
    sys.exit(1 if fails or broken or (slow_fail and slowq) else 0)

if __name__ == "__main__":
    main()
