#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft library.

    python3 perfbench/run.py --workload reduce_grid --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the library plus the
JVM runner (perfbench/build.py) and keeps the classes under
.bench_build/perfbench, keyed by a hash of the sources. Each run then:

1. generates the workload's inputs from --seed (gen.py),
2. computes the expected outputs with DuckDB or closed forms (oracle.py),
3. starts one JVM (Spark local mode, one calling thread, a closed loop)
   that sets up, warms, and runs the workload's calls for --seconds,
4. checks every call's output against the expectation, and
5. prints every metric, then one JSON line as the last line of stdout.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced run, whose spans are also written to
.bench_build/perfbench/traces/ for diff_trace.py. The exit code is 0
only when every call's output was correct.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170  # the whole run, build excluded
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP_MB = 3072
SETUP_REPS = 3
# untimed cycles on the full inputs before timing: reduce_grid's calls
# are short, so it needs a second cycle before its call times level off
WARM_CYCLES = {"reduce_grid": 2, "scan_dedup": 1}
BINNED_BREAKS = [float(b) for b in range(-20, 121, 10)]  # as in Workloads

WORKLOADS = ("reduce_grid", "scan_dedup")
END_TO_END = {"setup_s": "s", "peak_heap_mb": "MB"}
# Spark's unified memory region: (heap - 300 MB reserved) * 0.6
UNIFIED_MB = (HEAP_MB - 300) * 0.6

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------- run

def run_jvm(classpath, args, work, deadline):
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args + ["--out", out])
    logpath = os.path.join(work, "jvm.log")
    with open(logpath, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(logpath) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        fail(f"runner failed ({rc})", 4)
    with open(out) as f:
        return json.load(f)


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def call_times(calls):
    """Median call time and the highest percentile with at least ten
    calls beyond it, with that percentile and the call count."""
    s = sorted(c["construct_s"] + c["exec_s"] for c in calls
               if c["error"] is None)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0.0, 0
    if n <= 10:
        return median(s), s[-1], 100.0, n
    return median(s), s[n - 11], 100.0 * (n - 10) / n, n


def cycle_figures(calls):
    """Per cycle of `calls`: input rows and seconds of its successful
    calls, construction seconds, and the peak live heap after a call."""
    cycles = {}
    for c in calls:
        cy = cycles.setdefault(c["cycle"], {"rows": 0, "s": 0.0,
                                            "construct": 0.0, "heap": 0.0})
        if c["error"] is None:
            cy["rows"] += c["rows"]
            cy["s"] += c["construct_s"] + c["exec_s"]
            cy["construct"] += c["construct_s"]
        cy["heap"] = max(cy["heap"], c["heap_mb"])
    return list(cycles.values())


def end_to_end(res, gen_s):
    """Set-up time, and the peak live heap per cycle (every cycle runs the
    same calls), median over the cycles."""
    timed = [c for c in res["calls"] if c["phase"] == "timed"]
    cy = cycle_figures(timed)
    setup = res["setup"]
    m = {
        "setup_s": gen_s + median(setup["session_s"]) + setup["warm_s"],
        "peak_heap_mb": median([c["heap"] for c in cy]),
    }
    notes = {"peak_heap_mb": "live heap after each call (full GC, before "
                             f"teardown): cycle peak, median of {len(cy)} cycles",
             "setup_s": f"generate {gen_s:.2f} s + median session start of "
                        f"{[round(x, 2) for x in setup['session_s']]} s "
                        f"+ warm cycles {setup['warm_s']:.2f} s"}
    return m, notes


FAMILY_TIMES = {
    "graft.api.GroupByReduce.call_s": ("graft.api.GroupByReduce", "call"),
    "graft.keys.binned.call_s": ("graft.keys.binned", "call"),
    "graft.api.GroupByScan.call_s": ("graft.api.GroupByScan", "call"),
    "graft.api.GlobalScan.construct_s": ("graft.api.GlobalScan", "construct"),
    "graft.api.GlobalScan.exec_s": ("graft.api.GlobalScan", "exec"),
    "graft.api.Dispatch.keyStats_s": ("graft.api.Dispatch.keyStats", "call"),
    "graft.ops.Dedup.index_write_s": ("graft.ops.Dedup.writeBandIndex", "call"),
    "graft.ops.Dedup.index_probe_s":
        ("graft.ops.Dedup.dropNearDupsAgainstIndex", "call"),
}

PER_LAYER = [
    "rows_per_s", "call_p50_s", "call_tail_s", "construct_s",
    "construct.jobs", "construct.tasks", "construct.task_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compiles", "codegen.compile_ms",
    "scan.input_bytes", "scan.input_passes",
    "shuffle.write_bytes", "shuffle.records_per_input_row",
    "shuffle.fetch_wait_ms", "spill.disk_bytes",
    "plan.exchanges", "plan.sorts", "pins.left", "pins.storage_mb",
    "jvm.gc_ms",
    *FAMILY_TIMES,
    "graft.ops.Dedup.signature_s", "graft.ops.Dedup.pairs_s",
    "graft.ops.Dedup.components_s", "graft.ops.Dedup.candidates_per_pair",
    "write.output_bytes", "failed_ratio", "trace.overhead",
]


def call_counters(spans):
    """Per call of the first traced cycle: its leaf counters by phase and
    its boundary attributes."""
    first = min(s["cycle"] for s in spans if s["kind"] == "cycle")
    calls = {s["id"]: s for s in spans
             if s["kind"] == "call" and s["cycle"] == first}
    out = {}
    for s in spans:
        if s["parent"] in calls and s["kind"] in ("construct", "exec"):
            call = calls[s["parent"]]
            rec = out.setdefault(call["name"], {
                "family": call["family"], "rows": call["attrs"]["rows"],
                "plan.exchanges": call["attrs"].get("plan_exchanges", 0),
                "plan.sorts": call["attrs"].get("plan_sorts", 0),
                "pins.left": call["attrs"]["pins_left"],
                "pins.storage_mb": call["attrs"]["pins_storage_mb"]})
            for k, v in s["counters"].items():
                rec[f"{s['kind']}.{k}"] = v
    return out


def per_layer(res):
    """Counters of the first traced cycle; times as medians over traced
    calls; call latency over the untraced calls of the same run."""
    calls = call_counters(res["spans"])
    tot = {}
    for rec in calls.values():
        for k, v in rec.items():
            if isinstance(v, (int, float)):
                tot[k] = tot.get(k, 0.0) + v

    def both(k):
        return tot.get(f"construct.{k}", 0.0) + tot.get(f"exec.{k}", 0.0)
    rows = sum(r["rows"] for r in calls.values())
    m = {
        "construct.jobs": tot.get("construct.jobs", 0.0),
        "construct.tasks": tot.get("construct.tasks", 0.0),
        "construct.task_s": tot.get("construct.task_s", 0.0),
        "exec.jobs": tot.get("exec.jobs", 0.0),
        "exec.stages": tot.get("exec.stages", 0.0),
        "exec.tasks": tot.get("exec.tasks", 0.0),
        "exec.task_s": tot.get("exec.task_s", 0.0),
        "exec.cpu_s": tot.get("exec.cpu_s", 0.0),
        "scan.input_bytes": both("input_bytes"),
        "scan.input_passes": both("input_records") / rows,
        "shuffle.write_bytes": both("shuffle_write_bytes"),
        "shuffle.records_per_input_row": both("shuffle_write_records") / rows,
        "shuffle.fetch_wait_ms": both("shuffle_fetch_wait_ms"),
        "spill.disk_bytes": both("spill_disk_bytes"),
        "write.output_bytes": both("output_bytes"),
        "jvm.gc_ms": both("jvm.gc_ms"),
        "codegen.compiles": both("codegen.compiles"),
        "codegen.compile_ms": both("codegen.compile_ms"),
    }
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_ms"] = both(f"catalyst.{p}_ms")
    for k in ("plan.exchanges", "plan.sorts", "pins.left", "pins.storage_mb"):
        m[k] = tot.get(k, 0.0)

    traced = [c for c in res["calls"] if c["phase"] == "traced"]

    def med(family, part):
        xs = [c["construct_s"] + c["exec_s"] if part == "call"
              else c[f"{part}_s"]
              for c in traced if c["family"] == family and c["error"] is None]
        return median(xs)
    for name, (family, part) in FAMILY_TIMES.items():
        m[name] = med(family, part)
    sig = med("graft.ops.Dedup.withMinhashSignature", "call")
    pairs = med("graft.ops.Dedup.nearDupPairs", "call")
    groups = med("graft.ops.Dedup.nearDupGroups", "call")
    m["graft.ops.Dedup.signature_s"] = sig
    m["graft.ops.Dedup.pairs_s"] = pairs - sig if pairs else 0.0
    m["graft.ops.Dedup.components_s"] = groups - pairs if groups else 0.0
    verified = [c for c in traced if c["name"] == "pairs" and c.get("check")]
    cand = res["extra"].get("lsh_candidates")
    m["graft.ops.Dedup.candidates_per_pair"] = (
        cand / len(verified[0]["check"]["pairs"])
        if cand and verified and verified[0]["check"]["pairs"] else 0.0)

    plain = [c for c in res["calls"] if c["phase"] == "timed"]
    m["call_p50_s"], m["call_tail_s"], pct, n = call_times(plain)
    cy = cycle_figures(plain)
    m["rows_per_s"] = median([c["rows"] / c["s"] for c in cy if c["s"]])
    m["construct_s"] = median([c["construct"] for c in cy])
    notes = {"rows_per_s": f"per untraced cycle, median of {len(cy)}",
             "call_p50_s": f"median of {n} untraced calls",
             "call_tail_s": f"p{pct:.1f} of {n} untraced calls, 10 beyond",
             "construct_s": f"per untraced cycle, median of {len(cy)}"}

    # tracing overhead: same calls, traced vs untraced medians
    num = den = 0.0
    for name in {c["name"] for c in plain}:
        a = [c["construct_s"] + c["exec_s"] for c in traced
             if c["name"] == name and c["error"] is None]
        b = [c["construct_s"] + c["exec_s"] for c in plain
             if c["name"] == name and c["error"] is None]
        if a and b:
            num += median(a)
            den += median(b)
    m["trace.overhead"] = num / den - 1.0 if den else 0.0
    return m, notes, calls


def exact_counters(calls):
    """The exact-repeat counters, per call and in total."""
    def pick(rec):
        return {
            "construct.jobs": rec.get("construct.jobs", 0.0),
            "construct.tasks": rec.get("construct.tasks", 0.0),
            "exec.jobs": rec.get("exec.jobs", 0.0),
            "exec.stages": rec.get("exec.stages", 0.0),
            "exec.tasks": rec.get("exec.tasks", 0.0),
            "shuffle.records": rec.get("construct.shuffle_write_records", 0.0)
            + rec.get("exec.shuffle_write_records", 0.0),
            "scan.input_passes": (rec.get("construct.input_records", 0.0)
                                  + rec.get("exec.input_records", 0.0))
            / rec["rows"],
            "plan.exchanges": rec["plan.exchanges"],
            "plan.sorts": rec["plan.sorts"],
            "pins.left": rec["pins.left"],
        }
    return {name: pick(rec) for name, rec in sorted(calls.items())}


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", action="store_true",
                    help="corrupt every call's output before the check "
                         "(the check must then fail)")
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT}/src/main/scala/graft; "
             "run from a checkout of the repository")
    try:
        import duckdb  # noqa: F401
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401
    except ImportError as e:
        fail(f"missing Python dependency: {e}")
    sys.path.insert(0, HERE)
    import build
    import gen
    import oracle

    try:
        classpath = build.build(log)
    except build.BuildError as e:
        fail(str(e), 3)
    deadline = time.time() + DEADLINE_S

    work = os.path.join(BUILD_ROOT, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.perf_counter()
        meta = gen.generate(a.workload, a.seed, data)
        gen_s = time.perf_counter() - t0
        exp = oracle.expected(a.workload, data, meta, BINNED_BREAKS)
        rows = meta["rows"]
        mem_mb = meta["parquet_bytes"] / 2**20
        log(f"inputs: {rows} rows, {mem_mb:.1f} MB parquet; "
            f"Spark unified memory {UNIFIED_MB:.0f} MB "
            f"(inputs fit in memory: {'yes' if mem_mb * 4 < UNIFIED_MB else 'no'}, "
            "at 4x parquet size decoded)")
        res = run_jvm(classpath, [
            "--workload", a.workload, "--data", data, "--work", work,
            "--rows", ",".join(f"{k}={v}" for k, v in rows.items()),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(CORES), "--setup-reps", str(SETUP_REPS),
            "--warm-cycles", str(WARM_CYCLES[a.workload])]
            + (["--perturb"] if a.perturb else []), work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # every call is checked, warm ones included
    failures = []
    attempted = len(res["calls"])
    for c in res["calls"]:
        why = c["error"] or oracle.compare(exp.get(c["name"]), c.get("check"),
                                           meta)
        if why:
            failures.append(f"{c['phase']} cycle {c['cycle']} {c['name']}: {why}")
    for name in dict.fromkeys(c["name"] for c in res["calls"]):
        cs = [c for c in res["calls"]
              if c["name"] == name and c["phase"] != "warm" and not c["error"]]
        if cs:
            log(f"  {name:<22} n={len(cs):<3} construct "
                f"{median([c['construct_s'] for c in cs]):7.3f} s  exec "
                f"{median([c['exec_s'] for c in cs]):7.3f} s")
    log("  cycle walls: " + " ".join(
        f"{c['phase']} {c['wall_s']:.2f} s" for c in res["cycles"]))
    log(f"  largest relative digest difference that passed: {oracle.WORST[0]:.2g}")
    for f in failures[:20]:
        log(f"FAILED {f}")

    if a.trace == 0:
        values, notes = end_to_end(res, gen_s)
        units = END_TO_END
    else:
        values, notes, calls = per_layer(res)
        values["failed_ratio"] = len(failures) / attempted
        units = {k: unit_of(k) for k in PER_LAYER}
        os.makedirs(os.path.join(BUILD_ROOT, "traces"), exist_ok=True)
        trace = os.path.join(BUILD_ROOT, "traces",
                             f"{a.workload}-seed{a.seed}-{int(t_start)}.json")
        with open(trace, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "inputs": {"rows": rows,
                                  "parquet_bytes": meta["parquet_bytes"],
                                  "unified_memory_mb": UNIFIED_MB},
                       "metrics": values,
                       "exact": exact_counters(calls),
                       "spans": res["spans"]}, f)
        log(f"trace written to {os.path.relpath(trace, ROOT)}")

    for k in units:
        note = f"  ({notes[k]})" if k in notes else ""
        print(f"{a.workload} {k} = {values[k]:.6g} {units[k]}{note}")
    correct = not failures
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    if name == "rows_per_s":
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name in ("scan.input_passes", "shuffle.records_per_input_row",
                "graft.ops.Dedup.candidates_per_pair", "failed_ratio",
                "trace.overhead"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
