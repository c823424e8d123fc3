"""The benchmark's own tests: the output checks reject perturbed outputs,
the generator is seeded, and the counter diff flags changes.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Set PERFBENCH_E2E=1 to also run the whole benchmark once with --perturb
(builds on first use, about a minute after that) and assert that it
exits non-zero with every call failed.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import diff_trace  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402


class DigestCheck(unittest.TestCase):
    """Checks.sums (JVM) and oracle._digest (DuckDB) digest the same way;
    a perturbation like the JVM's --perturb one must be rejected."""

    SQL = ("SELECT k, CAST(k AS DOUBLE) * 1.5 + 0.25 AS r FROM range(1, 500) t(k)")

    def digest(self, sql):
        return oracle._digest(duckdb.connect(), sql, ["k"], ["r"])

    def test_equal_outputs_pass(self):
        self.assertIsNone(oracle.compare(self.digest(self.SQL),
                                         self.digest(self.SQL)))

    def test_perturbed_output_is_rejected(self):
        # the JVM adds 1 to the first value column on weight-1 rows
        bad = ("SELECT k, CASE WHEN k % 97 = 0 THEN r + 1 ELSE r END AS r "
               f"FROM ({self.SQL})")
        why = oracle.compare(self.digest(self.SQL), self.digest(bad))
        self.assertIsNotNone(why)
        self.assertIn("r.", why)

    def test_one_changed_row_is_rejected(self):
        # 0.1% of one of 499 values: far above the 1e-9 relative tolerance
        bad = f"SELECT k, CASE WHEN k = 7 THEN r * 1.001 ELSE r END AS r FROM ({self.SQL})"
        self.assertIsNotNone(oracle.compare(self.digest(self.SQL),
                                            self.digest(bad)))

    def test_missing_row_is_rejected(self):
        bad = f"SELECT * FROM ({self.SQL}) WHERE k <> 3"
        self.assertIsNotNone(oracle.compare(self.digest(self.SQL),
                                            self.digest(bad)))

    def test_stats_mismatch_is_rejected(self):
        exp = {"kind": "stats", "values": {"rows": 10, "groups": 4}}
        self.assertIsNone(oracle.compare(exp, json.loads(json.dumps(exp))))
        bad = {"kind": "stats", "values": {"rows": 11, "groups": 4}}
        self.assertIsNotNone(oracle.compare(exp, bad))

    def test_missing_output_is_rejected(self):
        exp = self.digest(self.SQL)
        self.assertIsNotNone(oracle.compare(exp, {}))
        self.assertIsNotNone(oracle.compare(None, exp))


class PairsCheck(unittest.TestCase):
    """Every reported pair's Jaccard is recomputed; planted clusters must
    be recovered exactly."""

    def setUp(self):
        base = " ".join(f"w{i}" for i in range(40))
        near = base.replace("w20", "zz")
        other = " ".join(f"v{i}" for i in range(40))
        self.meta = {"texts": {1: base, 2: near, 3: other},
                     "clusters": [[1, 2]], "batch_fresh": []}
        self.exp = oracle.dedup_corpus(self.meta)["pairs"]
        self.j = oracle.jaccard(oracle.shingles(base), oracle.shingles(near))

    def test_true_pairs_pass(self):
        got = {"kind": "pairs", "pairs": [[1, 2, self.j]]}
        self.assertIsNone(oracle.compare(self.exp, got, self.meta))

    def test_wrong_jaccard_is_rejected(self):
        got = {"kind": "pairs", "pairs": [[1, 2, 1.0]]}
        self.assertIsNotNone(oracle.compare(self.exp, got, self.meta))

    def test_false_pair_is_rejected(self):
        got = {"kind": "pairs", "pairs": [[1, 2, self.j], [1, 3, 0.0]]}
        self.assertIsNotNone(oracle.compare(self.exp, got, self.meta))

    def test_lost_cluster_is_rejected(self):
        got = {"kind": "pairs", "pairs": []}
        self.assertIsNotNone(oracle.compare(self.exp, got, self.meta))


class Generator(unittest.TestCase):

    def files_hash(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d)
            h = hashlib.sha256()
            for root, _, files in sorted(os.walk(d)):
                for f in sorted(files):
                    with open(os.path.join(root, f), "rb") as fh:
                        h.update(fh.read())
            return h.hexdigest()

    def test_same_seed_same_inputs(self):
        for w in gen.GENERATORS:
            self.assertEqual(self.files_hash(w, 5), self.files_hash(w, 5))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.files_hash("scan_dedup", 5),
                            self.files_hash("scan_dedup", 6))

    def test_planted_pairs_clear_the_threshold(self):
        with tempfile.TemporaryDirectory() as d:
            meta = gen.generate("scan_dedup", 3, d)
        clusters = oracle._expected_clusters(meta)
        self.assertEqual(sorted(map(sorted, meta["clusters"])), sorted(clusters))


class DiffTrace(unittest.TestCase):

    def record(self, tasks):
        return {"workload": "w", "seed": 1, "exact": {
            "a": {"exec.jobs": 2.0, "exec.tasks": tasks, "pins.left": 0.0}}}

    def test_identical_counters(self):
        self.assertEqual(diff_trace.diff(self.record(8.0), self.record(8.0)), [])

    def test_changed_counter_is_flagged(self):
        lines = diff_trace.diff(self.record(8.0), self.record(9.0))
        self.assertIn("a.exec.tasks: 8.0 -> 9.0", lines)
        self.assertIn("total.exec.tasks: 8.0 -> 9.0", lines)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1",
                     "set PERFBENCH_E2E=1 to run the benchmark end to end")
class EndToEnd(unittest.TestCase):

    def test_perturbed_run_fails(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "reduce_grid", "--seed", "1", "--seconds", "1", "--trace", "0",
             "--perturb"], cwd=os.path.dirname(HERE), capture_output=True,
            text=True, timeout=900)
        self.assertNotEqual(p.returncode, 0)
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"])


if __name__ == "__main__":
    unittest.main()
