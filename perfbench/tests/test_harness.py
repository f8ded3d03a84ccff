"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

They need no build and no JVM.
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_level_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_level(19))
        self.assertEqual(stats.tail_level(20), 50)
        self.assertEqual(stats.tail_level(99), 75)
        self.assertEqual(stats.tail_level(100), 90)
        self.assertEqual(stats.tail_level(199), 90)
        self.assertEqual(stats.tail_level(200), 95)
        self.assertEqual(stats.tail_level(10000), 99.9)

    def test_interpolates_between_ranks(self):
        v = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(stats.percentile(v, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(v, 90), 90.1)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, t0, t1):
        return {"id": i, "parent": parent, "t0": t0, "t1": t1}

    def test_duration_minus_union_of_children(self):
        spans = [self.span(0, -1, 0, 10),
                 self.span(1, 0, 1, 3), self.span(2, 0, 2, 5),  # overlap: [1, 5]
                 self.span(3, 0, 8, 12),                        # clipped to [8, 10]
                 self.span(4, 1, 1.5, 2)]                       # grandchild
        s = stats.self_times(spans)
        self.assertAlmostEqual(s[0], 10 - 4 - 2)
        self.assertAlmostEqual(s[1], 2 - 0.5)
        self.assertAlmostEqual(s[2], 3)
        self.assertAlmostEqual(s[3], 4)
        self.assertAlmostEqual(s[4], 0.5)


class SeedDeterminism(unittest.TestCase):
    def generate(self, workload, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d)
        gen.generate(workload, seed, d)
        return d

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.WORKLOADS:
            a, b, c = self.generate(w, 11), self.generate(w, 11), self.generate(w, 12)
            files = sorted(os.listdir(a))
            self.assertIn("inputs.json", files)
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)
            data = [f for f in files if f.endswith(".parquet")]
            _, differ, _ = filecmp.cmpfiles(a, c, data, shallow=False)
            self.assertTrue(differ, f"{w}: seeds 11 and 12 gave identical inputs")


class PerturbedResult(unittest.TestCase):
    """A wrong output is reported as a failure, not as correct."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.dir)
        pq.write_table(pa.table({"doc_id": [1, 2, 3], "n_chars": [10, 20, 30]}),
                       os.path.join(self.dir, "documents.parquet"))
        self.out = os.path.join(self.dir, "out")
        os.makedirs(self.out)
        self.plan = {"inputs": self.dir, "tables": ["documents"], "version_table": None}

    def result(self, n_chars):
        pq.write_table(pa.table({"doc_id": [1, 2, 3], "n_chars": n_chars}),
                       os.path.join(self.out, "part-0.parquet"))
        return {"passes": [{"ops": [{"name": "t", "ok": True}]}],
                "checks": [{"id": "t", "name": "t", "ok": True, "path": self.out,
                            "oracle": "SELECT doc_id, n_chars FROM documents ORDER BY doc_id"}]}

    def test_exact_output_passes(self):
        r = self.result([10, 20, 30])
        checks = check.verify(self.plan, r)
        self.assertEqual(checks, [("t", None)])
        self.assertEqual(run.tally(r, checks), {"correct": True, "attempted": 2, "failed": 0})

    def test_perturbed_output_fails(self):
        r = self.result([10, 21, 30])
        checks = check.verify(self.plan, r)
        self.assertIsNotNone(checks[0][1])
        self.assertEqual(run.tally(r, checks), {"correct": False, "attempted": 2, "failed": 1})

    def test_float_tolerance(self):
        self.assertTrue(check.same_value(0.1 + 0.2, 0.3))
        self.assertFalse(check.same_value(0.3001, 0.3))


if __name__ == "__main__":
    unittest.main()
