"""Tests for the benchmark's own arithmetic and fixture reuse.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        v, q, n = stats.percentile(xs, 0.9)
        self.assertEqual((v, q, n), (90, 0.9, 100))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_falls_back_to_highest_supported_quantile(self):
        xs = list(range(1, 41))
        v, q, n = stats.percentile(xs, 0.9)
        self.assertEqual(n, 40)
        self.assertAlmostEqual(q, 0.75)
        self.assertEqual(v, 30)
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_few_samples_report_the_median(self):
        v, q, n = stats.percentile([3.0, 1.0, 2.0], 0.9)
        self.assertEqual((v, q, n), (2.0, 0.5, 3))

    def test_median_and_order_independence(self):
        self.assertEqual(stats.median([5, 1, 4, 2, 3]), 3)
        self.assertEqual(stats.percentile([9, 1, 5] * 10, 0.5)[0], 5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "start_us": s, "end_us": e}

    def test_self_time_subtracts_child_coverage(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 60), self.span(3, 1, 15, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 50)  # children cover 10..60
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [self.span(0, -1, 10, 20), self.span(1, 0, 0, 15), self.span(2, 0, 18, 40)]
        self.assertEqual(stats.self_times(spans)[0], 10 - 5 - 2)

    def test_covered_union(self):
        self.assertEqual(stats.covered([(0, 5), (3, 8), (10, 12)], 0, 20), 10)
        self.assertEqual(stats.covered([], 0, 20), 0)


class StealTest(unittest.TestCase):
    def write(self, d, line):
        p = os.path.join(d, "stat")
        with open(p, "w") as f:
            f.write(line + "\ncpu0 1 2 3 4 5 6 7 8 9 10\n")
        return p

    def test_steal_share_between_two_readings(self):
        d = tempfile.mkdtemp()
        try:
            a = stats.cpu_stat(self.write(d, "cpu  100 0 50 800 10 0 0 40 7 0"))
            b = stats.cpu_stat(self.write(d, "cpu  150 0 60 880 10 0 0 60 9 0"))
            self.assertEqual(a, (40, 1000))  # guest fields are not counted
            self.assertEqual(b, (60, 1160))
            self.assertAlmostEqual(stats.steal_pct(a, b), 100 * 20 / 160)
        finally:
            shutil.rmtree(d)

    def test_unknown_host_reads_minus_one(self):
        self.assertEqual(stats.cpu_stat("/nonexistent/stat"), (0, 0))
        self.assertEqual(stats.steal_pct((0, 0), (0, 0)), -1.0)

    def test_this_host(self):
        steal, total = stats.cpu_stat()
        self.assertGreaterEqual(total, steal)


class CarveReuseTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.base = os.path.join(self.dir, "base")
        os.makedirs(self.base)
        for t in run.fixtures.TABLES:
            with open(os.path.join(self.base, f"{t}.parquet"), "w") as f:
                f.write(t)
        self.builds = 0

        def fake_make_carve(cmd, **kw):
            self.builds += 1
            os.makedirs(cmd[4], exist_ok=True)
        self.patch = mock.patch.object(run.subprocess, "run", side_effect=fake_make_carve)
        self.patch.start()

    def tearDown(self):
        self.patch.stop()
        shutil.rmtree(self.dir)

    def test_reused_while_the_base_is_unchanged(self):
        d1 = run.carve(self.base, 10)
        d2 = run.carve(self.base, 10)
        self.assertEqual(d1, d2)
        self.assertEqual(self.builds, 1)

    def test_rebuilt_when_a_base_file_is_rewritten(self):
        run.carve(self.base, 10)
        p = os.path.join(self.base, "events.parquet")
        st = os.stat(p)
        with open(p, "w") as f:
            f.write("events")  # same size; only the stamp's mtime moves
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        run.carve(self.base, 10)
        self.assertEqual(self.builds, 2)

    def test_rebuilt_when_a_base_file_changes_size(self):
        run.carve(self.base, 10)
        with open(os.path.join(self.base, "orders.parquet"), "a") as f:
            f.write("more")
        run.carve(self.base, 10)
        self.assertEqual(self.builds, 2)


class CompareTest(unittest.TestCase):
    """The oracle compare keeps tools/check.py's strict string-cell rule."""
    check = run._check_module()

    def frame(self, **cols):
        return run.pd.DataFrame(cols)

    def test_equal_frames_match_in_any_column_order(self):
        a = self.frame(k=["x", "y"], v=[1.5, 2.0], n=[1, 2])
        b = a[["n", "v", "k"]].copy()
        self.assertIsNone(run.compare(self.check, a, b))

    def test_a_changed_cell_is_reported(self):
        a = self.frame(v=[1.5, 2.0])
        self.assertIn("v[1]", run.compare(self.check, a, self.frame(v=[1.5, 2.5])))

    def test_int_against_float_fails_like_the_gate(self):
        got, exp = self.frame(n=[3]), self.frame(n=[3.0])
        self.assertIsNotNone(run.compare(self.check, got, exp))

    def test_row_count_and_columns(self):
        a = self.frame(v=[1.0, 2.0])
        self.assertIn("rows", run.compare(self.check, a, self.frame(v=[1.0])))
        self.assertIn("columns", run.compare(self.check, a, self.frame(w=[1.0, 2.0])))


class FixtureTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        d = tempfile.mkdtemp()
        try:
            for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                run.fixtures.generate(os.path.join(d, name), seed, sf=0.001)
            read = lambda n: open(os.path.join(d, n, "lineitem.parquet"), "rb").read()
            self.assertEqual(read("a"), read("b"))
            self.assertNotEqual(read("a"), read("c"))
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
