"""Tests of the benchmark's Python side. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

import gen10x  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.highest_percentile(2))
        self.assertIsNone(stats.highest_percentile(19))
        self.assertEqual(stats.highest_percentile(20), 50)
        self.assertEqual(stats.highest_percentile(39), 50)
        self.assertEqual(stats.highest_percentile(40), 75)
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(200), 95)
        self.assertEqual(stats.highest_percentile(1000), 99)
        self.assertEqual(stats.highest_percentile(10000), 99.9)
        for n in (20, 40, 100, 200, 1000, 10000):
            p = stats.highest_percentile(n)
            self.assertGreaterEqual(round(n * (100 - p) / 100, 6), 10)

    def test_timing_reports_median_count_and_supported_percentile(self):
        self.assertEqual(stats.timing([3.0, 1.0, 2.0]), {"median": 2.0, "n": 3})
        t = stats.timing([float(i) for i in range(40)])
        self.assertEqual((t["n"], t["p75"]), (40, 30.0))


class Generator(unittest.TestCase):

    def generate(self, seed):
        d = tempfile.mkdtemp(dir=run.RUNS if os.path.isdir(run.RUNS) else None)
        self.addCleanup(shutil.rmtree, d, True)
        gen10x.generate(run.BASE_DATA, d, seed)
        return {t: pq.read_table(os.path.join(d, t + ".parquet"))
                for t in ("documents", "embeddings")}

    def test_deterministic_per_seed_and_changes_with_seed(self):
        a, b, c = self.generate(7), self.generate(7), self.generate(8)
        for t in a:
            self.assertTrue(a[t].equals(b[t]), t)
            self.assertFalse(a[t].equals(c[t]), t)

    def test_ten_times_rows_and_replica_semantics(self):
        g = self.generate(7)
        salts, strides = gen10x.replica_params(7)
        base = pq.read_table(os.path.join(run.BASE_DATA, "documents.parquet"))
        docs = g["documents"].to_pylist()
        self.assertEqual(len(docs), 10 * base.num_rows)
        self.assertEqual(len(set(salts[1:])), 9)
        self.assertEqual(len(set(strides[1:])), 9)
        self.assertNotIn(0, strides[1:])
        first = base.slice(0, 1).to_pylist()[0]
        self.assertEqual(docs[0], first)
        r3 = docs[3 * base.num_rows]
        self.assertEqual(r3["doc_id"], first["doc_id"] + 3 * 10 ** 9)
        for orig, new in zip(first["text"].split(" "), r3["text"].split(" ")):
            self.assertEqual(new, orig + "_" + salts[3] if len(orig) >= 5 else orig)
        self.assertEqual(r3["n_chars"], len(r3["text"]))
        e = g["embeddings"].to_pylist()
        n = len(e) // 10
        v0, v3 = e[0]["embedding"], e[3 * n]["embedding"]
        self.assertEqual(v3, v0[strides[3]:] + v0[:strides[3]])


class Correctness(unittest.TestCase):

    @staticmethod
    def raw(digests):
        passes = [{"index": i, "keys": {"k": {"digest": d, "error": ""}}}
                  for i, d in enumerate(digests)]
        return {"setup": [{"pass": passes[0]}], "timed": passes[1:]}

    def test_mismatch_and_error_count_as_failures(self):
        keys = [("M", "k")]
        n, f = stats.check(keys, self.raw(["3:aa", "3:aa", "3:aa"]), {})
        self.assertEqual((n, f), (3, []))
        n, f = stats.check(keys, self.raw(["3:aa", "3:ab", "3:aa"]), {})
        self.assertEqual(len(f), 1)
        n, f = stats.check(keys, self.raw(["3:aa"] * 3),
                           {"digests": {"k": "3:ff"}})
        self.assertEqual(len(f), 3)
        n, f = stats.check(keys, self.raw(["3:aa"] * 3), {"rows": {"k": 4}})
        self.assertEqual(len(f), 3)
        r = self.raw(["3:aa"] * 3)
        r["timed"][0]["keys"]["k"]["error"] = "boom"
        self.assertEqual(len(stats.check(keys, r, {})[1]), 1)


if __name__ == "__main__":
    unittest.main()
