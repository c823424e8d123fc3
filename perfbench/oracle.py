"""Expected outputs, computed without the code under test.

Reductions, scans and quantiles: DuckDB runs the same semantics as SQL
over the same parquet and digests its answer exactly as the JVM side
digests the library's answer (row count; per value column the count,
sum and key-weighted sum of valid values, valid meaning non-null and
non-NaN). Dedup: closed forms from the generator's planted clusters,
and Jaccard recomputed in Python for every reported pair.
"""
import math

import duckdb

RTOL = 1e-11
THRESHOLD = 0.8  # Dedup's default Jaccard threshold
BANDS = 6  # Dedup's default numHashes / bandSize

WINDOW = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
OK = "NOT isnan(v)"


def _weight(keys):
    terms = " + ".join(f"CAST({k} AS BIGINT) * {31 ** i}"
                       for i, k in enumerate(keys))
    return f"(({terms}) % 97 + 1)" if keys else "1"


def _digest(con, result_sql, keys, values):
    w = _weight(keys)
    parts = ["count(*)"]
    names = ["n"]
    for v in values:
        x = f"CAST({v} AS DOUBLE)"
        ok = f"{x} IS NOT NULL AND NOT isnan({x})"
        parts += [f"count(*) FILTER (WHERE {ok})",
                  f"sum({x}) FILTER (WHERE {ok})",
                  f"sum({x} * {w}) FILTER (WHERE {ok})"]
        names += [f"{v}.valid", f"{v}.sum", f"{v}.wsum"]
    row = con.execute(f"WITH r AS ({result_sql}) SELECT {', '.join(parts)} "
                      "FROM r").fetchone()
    return {"kind": "sums",
            "values": {k: (None if x is None else float(x))
                       for k, x in zip(names, row)}}


def _moments(t, by):
    keys = ", ".join(by)
    return (f"SELECT {keys}, coalesce(sum(v) FILTER (WHERE {OK}), 0.0) AS s, "
            f"avg(v) FILTER (WHERE {OK}) AS m, "
            f"var_samp(v) FILTER (WHERE {OK}) AS var, "
            f"max(v) FILTER (WHERE {OK}) AS mx, "
            f"count(*) FILTER (WHERE {OK}) AS n, "
            f"arg_max(idx, v) FILTER (WHERE {OK}) AS am "
            f"FROM {t} GROUP BY {keys}")


def _filled(domain, data_sql, key, aggs, fill=-1.0):
    """Expected groups with a fill value: the library masks a reduction
    to the fill when its group has no valid value, and an absent group
    takes the fill."""
    cols = ", ".join(f"CASE WHEN a.nvalid >= 1 THEN a.{name} ELSE {fill} END "
                     f"AS {name}" for name, _ in aggs)
    inner = ", ".join(f"{expr} AS {name}" for name, expr in aggs)
    return (f"SELECT d.{key}, {cols} FROM ({domain}) d LEFT JOIN "
            f"(SELECT {key}, {inner}, count(*) FILTER (WHERE {OK}) AS nvalid "
            f"FROM ({data_sql}) GROUP BY {key}) a USING ({key})")


def reduce_grid(con, data, breaks):
    t = f"read_parquet('{data}/grid_random.parquet/*.parquet')"
    s = f"read_parquet('{data}/grid_sorted.parquet/*.parquet')"
    moments = ["s", "m", "var", "mx", "n", "am"]
    out = {
        "k5": _digest(con, _moments(t, ["k5"]), ["k5"], moments),
        "month_hour": _digest(con, _moments(t, ["month", "hour"]),
                              ["month", "hour"], moments),
        "k5000_random": _digest(con, _moments(t, ["k5000"]), ["k5000"],
                                moments),
        "k5000_sorted": _digest(con, _moments(s, ["k5000"]), ["k5000"],
                                moments),
        "high_card": _digest(
            con, f"SELECT khc, coalesce(sum(v) FILTER (WHERE {OK}), 0.0) AS s, "
                 f"avg(v) FILTER (WHERE {OK}) AS m, "
                 f"count(*) FILTER (WHERE {OK}) AS n FROM {t} GROUP BY khc",
            ["khc"], ["s", "m", "n"]),
        "zipf": _digest(
            con, f"SELECT kzipf, coalesce(sum(v) FILTER (WHERE {OK}), 0.0) AS s, "
                 f"max(v) FILTER (WHERE {OK}) AS mx, "
                 f"count(*) FILTER (WHERE {OK}) AS n FROM {t} GROUP BY kzipf",
            ["kzipf"], ["s", "mx", "n"]),
    }
    # closed-right intervals (lo, hi], pandas' default
    bins = " UNION ALL ".join(
        f"SELECT {i} AS bin, {lo!r} AS lo, {hi!r} AS hi"
        for i, (lo, hi) in enumerate(zip(breaks, breaks[1:])))
    binned = f"SELECT b.bin, t.v FROM {t} t JOIN ({bins}) b ON t.x > b.lo AND t.x <= b.hi"
    out["binned_breaks"] = _digest(con, _filled(
        f"SELECT bin FROM ({bins})", binned, "bin",
        [("s", f"sum(v) FILTER (WHERE {OK})"),
         ("m", f"avg(v) FILTER (WHERE {OK})"),
         ("n", f"count(*) FILTER (WHERE {OK})")]), ["bin"], ["s", "m", "n"])
    # 50 equal-width closed-right bins over (0, 100]; domain 0..59
    ubin = ("SELECT greatest(least(CAST(ceil(x / 2.0) AS BIGINT) - 1, 49), 0) "
            f"AS ubin, v FROM {t} WHERE x > 0 AND x <= 100")
    out["binned_uniform"] = _digest(con, _filled(
        "SELECT range AS ubin FROM range(60)", ubin, "ubin",
        [("mx", f"max(v) FILTER (WHERE {OK})"),
         ("n", f"count(*) FILTER (WHERE {OK})")]), ["ubin"], ["mx", "n"])
    return out


def scan_quantile(con, data):
    t = f"read_parquet('{data}/scan.parquet/*.parquet')"

    def per_row(expr):
        return _digest(con, f"SELECT idx, {expr} AS r FROM {t}", ["idx"], ["r"])

    def per_group(by, expr):
        return _digest(con, f"SELECT {by}, {expr} AS r FROM {t} GROUP BY {by}",
                       [by], ["r"])

    stats = con.execute(f"SELECT count(*), count(DISTINCT mega), "
                        f"(SELECT max(c) FROM (SELECT count(*) c FROM {t} "
                        f"GROUP BY mega)) FROM {t}").fetchone()
    return {
        "window_nancumsum": per_row(
            "coalesce(sum(CASE WHEN isnan(v) THEN NULL ELSE v END) OVER "
            f"(PARTITION BY g ORDER BY idx {WINDOW}), 0.0)"),
        "window_ffill": per_row(
            f"last_value(vn IGNORE NULLS) OVER (PARTITION BY g ORDER BY idx {WINDOW})"),
        "carry_ffill": per_row(
            f"last_value(vn IGNORE NULLS) OVER (PARTITION BY mega ORDER BY idx {WINDOW})"),
        "carry_prefix_sum": per_row(
            f"sum(vi) OVER (PARTITION BY mega ORDER BY idx {WINDOW})"),
        "buffered_nanquantile": per_group(
            "mh", f"quantile_cont(v, 0.9) FILTER (WHERE {OK})"),
        "distributed_quantile": per_group("mega", "quantile_cont(vn, 0.5)"),
        "auto_quantile": per_group("mh", "quantile_cont(vn, 0.25)"),
        "key_stats": {"kind": "stats", "values": {
            "rows": stats[0], "groups": stats[1], "max_group_rows": stats[2]}},
    }


def shingles(text):
    toks = text.split()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a, b):
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def _expected_clusters(meta):
    """Planted clusters, each joined by its planted pairs whose Jaccard
    clears the threshold (by construction all of them do)."""
    sh = {}
    out = []
    for members in meta["clusters"]:
        for m in members:
            sh[m] = shingles(meta["texts"][m])
        parent = {m: m for m in members}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                if jaccard(sh[a], sh[b]) >= THRESHOLD:
                    parent[find(a)] = find(b)
        groups = {}
        for m in members:
            groups.setdefault(find(m), []).append(m)
        out += [sorted(g) for g in groups.values() if len(g) > 1]
    return out


def id_digest(ids):
    """Checks.sums of a `doc_id` column keyed by itself."""
    return {"kind": "sums", "values": {
        "n": float(len(ids)), "doc_id.valid": float(len(ids)),
        "doc_id.sum": float(sum(ids)),
        "doc_id.wsum": float(sum(i * (i % 97 + 1) for i in ids))}}


def dedup_corpus(meta):
    clusters = _expected_clusters(meta)
    ids = sorted(meta["texts"])
    losers = {m for c in clusters for m in c[1:]}
    members = [(m, c[0]) for c in clusters for m in c]
    return {
        "drop_near_dups": id_digest([i for i in ids if i not in losers]),
        "write_band_index": {"kind": "stats", "values": {
            "rows": BANDS * len(ids), "ids": len(ids)}},
        "probe_index": id_digest(meta["batch_fresh"]),
        "signature": {"kind": "sums", "values": {
            "n": float(len(ids)), "doc_id.valid": float(len(ids)),
            "doc_id.sum": float(sum(ids)), "doc_id.wsum": float(sum(ids))}},
        "groups": {"kind": "sums", "values": {
            "n": float(len(members)), "keep_id.valid": float(len(members)),
            "keep_id.sum": float(sum(k for _, k in members)),
            "keep_id.wsum": float(sum(k * (m % 97 + 1) for m, k in members))}},
        "pairs": {"kind": "pairs", "clusters": clusters},
    }


def expected(workload, data, meta, breaks):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        if workload == "reduce_grid":
            return reduce_grid(con, data, breaks)
        return {**scan_quantile(con, data), **dedup_corpus(meta)}
    finally:
        con.close()


WORST = [0.0]  # largest relative digest difference that passed


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    ok = math.isclose(a, b, rel_tol=RTOL, abs_tol=RTOL)
    if ok and a != b:
        WORST[0] = max(WORST[0], abs(a - b) / max(abs(a), abs(b)))
    return ok


def _check_pairs(exp, got, texts):
    sh = {}

    def s(i):
        if i not in sh:
            sh[i] = shingles(texts[i])
        return sh[i]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x
    for a, b, j in got["pairs"]:
        a, b = int(a), int(b)
        true = jaccard(s(a), s(b))
        if abs(true - j) > 1e-12 or true < THRESHOLD:
            return f"pair ({a}, {b}) reports Jaccard {j}, recomputed {true}"
        parent[find(a)] = find(b)
    comps = {}
    for x in list(parent):
        comps.setdefault(find(x), []).append(x)
    found = sorted(sorted(c) for c in comps.values())
    if found != sorted(exp["clusters"]):
        return (f"pair graph has {len(found)} clusters, "
                f"{len(exp['clusters'])} planted")
    return None


def compare(exp, got, meta=None):
    """None when `got` (the JVM's digest of one call's output) matches
    `exp`; otherwise a one-line reason."""
    if exp is None:
        return "no expected output for this call"
    if got is None or got.get("kind") != exp["kind"]:
        return f"output kind {got and got.get('kind')} != {exp['kind']}"
    kind = exp["kind"]
    if kind == "pairs":
        return _check_pairs(exp, got, meta["texts"])
    for k, want in exp["values"].items():
        have = got["values"].get(k)
        if not _close(None if want is None else float(want),
                      None if have is None else float(have)):
            return f"{k}: {have} != expected {want}"
    if set(got["values"]) != set(exp["values"]):
        return "digest fields differ"
    return None
