"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes
the same parquet bytes. Sizes are fixed here, not by the seed, so runs
with different seeds do the same amount of work.

Shapes follow flox's asv benchmarks and the input axes of "A
Six-dimensional Analysis of In-memory Aggregation" (EDBT 2019): group
cardinality (5, 288 = month x hour, 5000, ~N/4), skew (a Zipf key),
input order (random vs sorted by key), function class (distributive,
algebraic, holistic, order-dependent) and size.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REDUCE_ROWS = 400_000
SCAN_ROWS = 100_000
CORPUS_DOCS = 4_000
CORPUS_CLUSTERS = 300  # planted near-duplicate clusters, 2-4 docs each
BATCH_DOCS = 400  # half near-duplicates of corpus docs, half fresh
DOC_WORDS = 64
VOCAB = 20_000
FILES = 8  # parquet files per input, so a scan splits across cores


def _write(table, path):
    """Write `table` as FILES parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // FILES)
    for i in range(FILES):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _nan_some(rng, x, share):
    x[rng.random(x.size) < share] = np.nan
    return x


def reduce_grid(seed, out):
    rng = np.random.default_rng([seed, 1])
    n = REDUCE_ROWS
    cols = {
        "idx": np.arange(n, dtype=np.int64),
        "v": _nan_some(rng, rng.gamma(2.0, 10.0, n), 0.05),
        "x": rng.uniform(0.0, 100.0, n),
        "k5": rng.integers(0, 5, n, dtype=np.int32),
        "month": rng.integers(1, 13, n, dtype=np.int32),
        "hour": rng.integers(0, 24, n, dtype=np.int32),
        "k5000": rng.integers(0, 5000, n, dtype=np.int32),
        "khc": rng.integers(0, n // 4, n, dtype=np.int64),
        "kzipf": (np.minimum(rng.zipf(1.3, n), 5000) - 1).astype(np.int32),
    }
    t = pa.table(cols)
    _write(t, os.path.join(out, "grid_random.parquet"))
    order = np.lexsort((cols["idx"], cols["k5000"]))
    _write(t.take(order), os.path.join(out, "grid_sorted.parquet"))
    return {"rows": {"grid_random": n, "grid_sorted": n}}


def scan_quantile(seed, out):
    rng = np.random.default_rng([seed, 2])
    n = SCAN_ROWS
    vn = rng.gamma(2.0, 10.0, n)
    cols = {
        "idx": rng.permutation(n).astype(np.int64),
        "g": rng.integers(0, 5000, n, dtype=np.int32),
        "mega": rng.integers(0, 4, n, dtype=np.int32),
        "mh": rng.integers(0, 288, n, dtype=np.int32),
        "v": _nan_some(rng, rng.gamma(2.0, 10.0, n), 0.05),
        "vn": pa.array(vn, mask=rng.random(n) < 0.3),
        "vi": rng.integers(0, 100, n, dtype=np.int64),
    }
    _write(pa.table(cols), os.path.join(out, "scan.parquet"))
    return {"rows": {"scan": n}}


def _words(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen, words = set(), []
    while len(words) < VOCAB:
        w = "".join(rng.choice(letters, rng.integers(4, 10)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _mutate(rng, toks):
    """Replace one token with a different word: Jaccard of the 3-shingle
    sets stays >= 59/65 against the source, >= 56/68 between two
    mutations of one source."""
    out = list(toks)
    i = int(rng.integers(0, len(out)))
    while True:
        w = int(rng.integers(0, VOCAB))
        if w != out[i]:
            out[i] = w
            return out


def dedup_corpus(seed, out):
    rng = np.random.default_rng([seed, 3])
    words = _words(rng)
    sizes = rng.integers(2, 5, CORPUS_CLUSTERS)
    singles = CORPUS_DOCS - int(sizes.sum())
    docs, clusters = [], []
    for size in sizes:
        base = list(rng.integers(0, VOCAB, DOC_WORDS))
        members = [base] + [_mutate(rng, base) for _ in range(size - 1)]
        clusters.append(range(len(docs), len(docs) + size))
        docs.extend(members)
    docs.extend(list(rng.integers(0, VOCAB, DOC_WORDS)) for _ in range(singles))
    ids = rng.permutation(CORPUS_DOCS).astype(np.int64) + 1_000
    texts = [" ".join(words[w] for w in d) for d in docs]
    order = rng.permutation(CORPUS_DOCS)
    corpus = pa.table({"doc_id": ids[order],
                       "text": pa.array([texts[i] for i in order])})
    _write(corpus, os.path.join(out, "corpus.parquet"))

    half = BATCH_DOCS // 2
    src = rng.integers(0, CORPUS_DOCS, half)
    btoks = [_mutate(rng, docs[i]) for i in src]
    btoks += [list(rng.integers(0, VOCAB, DOC_WORDS)) for _ in range(half)]
    bids = np.arange(BATCH_DOCS, dtype=np.int64) + 10_000_000
    btexts = [" ".join(words[w] for w in d) for d in btoks]
    _write(pa.table({"doc_id": bids, "text": btexts}),
           os.path.join(out, "batch.parquet"))
    return {
        "rows": {"corpus": CORPUS_DOCS, "batch": BATCH_DOCS},
        "texts": dict(zip(ids.tolist(), texts)),
        "clusters": [[int(ids[i]) for i in c] for c in clusters],
        "batch_dups": [int(b) for b in bids[:half]],
        "batch_fresh": [int(b) for b in bids[half:]],
    }


def scan_dedup(seed, out):
    meta = dedup_corpus(seed, out)
    meta["rows"].update(scan_quantile(seed, out)["rows"])
    return meta


GENERATORS = {"reduce_grid": reduce_grid, "scan_dedup": scan_dedup}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out`; return metadata
    (rows per input, plus what the dedup check needs)."""
    meta = GENERATORS[workload](seed, out)
    size = 0
    for d, _, files in os.walk(out):
        size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    meta["parquet_bytes"] = size
    return meta
