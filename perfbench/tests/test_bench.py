"""The benchmark's own tests: the tail-percentile rule, span self time, and
seeded input generation.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
from metrics import Trace, self_time, tail, union_length  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_percentile_rises_with_samples(self):
        value, pct, n = tail(range(1, 1001))
        self.assertEqual((value, pct, n), (990, 99.0, 1000))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(tail(xs), tail(sorted(xs)))

    def test_exactly_twenty_samples_is_the_median_rank(self):
        value, pct, _ = tail(range(1, 21))
        self.assertEqual((value, pct), (10, 50.0))

    def test_fewer_than_twenty_samples_report_the_median(self):
        self.assertEqual(tail([1.0, 2.0, 3.0, 10.0]), (2.5, 50.0, 4))
        self.assertEqual(tail([7.0]), (7.0, 50.0, 1))
        self.assertEqual(tail([]), (0.0, 50.0, 0))


def span(i, start, end, parent=-1, name="s"):
    return {"id": i, "parent": parent, "trace": "t", "name": name,
            "start_ms": start, "end_ms": end}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(self_time(span(0, 0, 10), []), 10)

    def test_disjoint_children(self):
        kids = [span(1, 1, 3, 0), span(2, 5, 6, 0)]
        self.assertEqual(self_time(span(0, 0, 10), kids), 7)

    def test_overlapping_children_count_once(self):
        kids = [span(1, 1, 5, 0), span(2, 3, 8, 0), span(3, 4, 6, 0)]
        self.assertEqual(self_time(span(0, 0, 10), kids), 3)

    def test_children_clipped_to_parent(self):
        kids = [span(1, -5, 2, 0), span(2, 9, 20, 0)]
        self.assertEqual(self_time(span(0, 0, 10), kids), 7)

    def test_self_never_exceeds_wall_nor_goes_negative(self):
        kids = [span(1, 0, 10, 0), span(2, 2, 4, 0)]
        self.assertEqual(self_time(span(0, 0, 10), kids), 0)

    def test_union_length(self):
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6), (6, 7)]), 5)

    def test_layer_sums_self_time_and_assigns_jobs_to_innermost_span(self):
        raw = {
            "spans": [span(0, 0, 100, name="batch"),
                      span(1, 10, 40, 0, "a"), span(2, 30, 60, 0, "b")],
            "jobs": [{"id": 0, "start_ms": 12, "end_ms": 20, "stages": [0]},
                     {"id": 1, "start_ms": 45, "end_ms": 50, "stages": [1]},
                     {"id": 2, "start_ms": 80, "end_ms": 90, "stages": [2]}],
            "stages": [{"id": i, "cpu_ns": 10 ** 9} for i in range(3)],
            "plans": []}
        tr = Trace(raw, 0, 100)
        batch = tr.layer("batch")
        self.assertAlmostEqual(batch["self_s"], 0.05)  # 100 - |[10, 60]|
        self.assertEqual(batch["jobs"], 3)
        self.assertAlmostEqual(batch["no_job_s"], 0.077)
        self.assertEqual(tr.layer("b")["jobs"], 1)
        self.assertAlmostEqual(tr.layer("a")["task_cpu_s"], 1.0)


class SeededInputs(unittest.TestCase):
    SMALL = {
        "ingest": dict(gen.INGEST, history_days=2, batch_days=3, rows_per_day=200),
        "corpus": dict(gen.CORPUS, base_docs=120, batch_docs=20, batches=3,
                       takedown_windows=2, takedown_size=5),
        "tables": dict(gen.TABLES, customer=30, supplier=5, part=40, orders=100,
                       events=50, documents=40, embeddings=20),
    }

    def generate(self, kind, seed, out):
        gen.GENERATORS[kind](out, seed, self.SMALL[kind])
        return out

    def same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        stack = [cmp]
        while stack:
            c = stack.pop()
            if c.left_only or c.right_only:
                return False
            _, mismatch, errors = filecmp.cmpfiles(c.left, c.right, c.common_files,
                                                   shallow=False)
            if mismatch or errors:
                return False
            stack.extend(c.subdirs.values())
        return True

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for kind in self.SMALL:
            with self.subTest(kind=kind), tempfile.TemporaryDirectory() as d:
                a = self.generate(kind, 11, f"{d}/a")
                b = self.generate(kind, 11, f"{d}/b")
                c = self.generate(kind, 12, f"{d}/c")
                self.assertTrue(self.same_tree(a, b))
                self.assertFalse(self.same_tree(a, c))


if __name__ == "__main__":
    unittest.main()
