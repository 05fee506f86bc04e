"""Tests for the benchmark's own statistics and its result digest.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The digest test compiles and runs perfbench.DigestCheck in a local Spark
session, so it needs the graft checkout and a Spark distribution; it is
skipped without them.
"""

import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([], 50), 0.0)

    def test_order_does_not_matter(self):
        xs = [random.Random(1).random() for _ in range(57)]
        self.assertEqual(stats.percentile(xs, 90), stats.percentile(sorted(xs), 90))

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertIsNone(stats.tail_percentile(19))
        for n in (20, 40, 100, 1000, 10000):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10)

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10.0] * 10), 0.0)
        xs = [9, 10, 10, 10, 10, 10, 10, 10, 10, 11]
        self.assertLess(stats.quartile_spread(xs), 0.05)


class BacklogTest(unittest.TestCase):
    def test_growing_backlog(self):
        pts = [(t / 10, 50.0 * t / 10) for t in range(30)]  # +50 events/s
        self.assertTrue(stats.backlog_grows(pts, rate=200))

    def test_level_backlog_with_noise(self):
        rng = random.Random(3)
        pts = [(t / 10, 80 + rng.uniform(-40, 40)) for t in range(30)]
        self.assertFalse(stats.backlog_grows(pts, rate=200))

    def test_one_step_then_level_is_not_growth(self):
        pts = [(t / 10, 0.0 if t < 3 else 100.0) for t in range(40)]
        self.assertFalse(stats.backlog_grows(pts, rate=2000))

    def test_too_few_points(self):
        self.assertFalse(stats.backlog_grows([(1.0, 500.0)], rate=10))


class NeedTest(unittest.TestCase):
    def test_empty_samples_end_the_run(self):
        import run
        self.assertEqual(run.need([1.5], "x"), [1.5])
        with self.assertRaises(SystemExit) as cm:
            run.need([], "nominal-rate sink batches")
        self.assertIn("nominal-rate sink batches", str(cm.exception.code))


class SpanTest(unittest.TestCase):
    def span(self, i, kind, s, e):
        return {"id": i, "kind": kind, "start": s, "end": e}

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0.0)

    def test_self_time_subtracts_covered_children_once(self):
        spans = stats.build_tree([
            self.span(0, "root", 0, 100),
            self.span(1, "build", 0, 30),
            self.span(2, "phase", 5, 10),      # inside the build
            self.span(3, "job", 40, 90),
            self.span(4, "stage", 45, 70),
            self.span(5, "stage", 60, 80),     # overlaps the first stage
        ])
        parents = {sp["id"]: sp["parent"] for sp in spans}
        self.assertEqual(parents, {0: None, 1: 0, 2: 1, 3: 0, 4: 3, 5: 3})
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 30 - 50)   # gaps 30-40 and 90-100
        self.assertEqual(st[1], 25)
        self.assertEqual(st[3], 50 - 35)          # stages cover 45-80
        self.assertEqual(st[4], 25)

    def test_layers_sum_to_wall(self):
        spans = [self.span(0, "root", 0, 100), self.span(1, "build", 0, 20),
                 self.span(2, "compile", 25, 30), self.span(3, "execution", 30, 95),
                 self.span(4, "job", 35, 90), self.span(5, "stage", 40, 85)]
        layers = stats.layer_self_times(spans)
        self.assertAlmostEqual(sum(layers.values()), 100)
        self.assertEqual(layers["unattributed"], 5 + 5)
        self.assertEqual(layers["scheduler"], 5 + 5 + 5 + 5)
        self.assertEqual(layers["executor"], 45)

    def test_children_are_clipped_to_the_parent(self):
        spans = stats.build_tree([self.span(0, "root", 0, 10), self.span(1, "stage", -5, 20)])
        self.assertEqual(spans[1]["parent"], 0)
        self.assertEqual(stats.self_times(spans)[0], 0)


def _checkout_with_spark():
    root = os.path.dirname(HERE)
    spark = os.environ.get("SPARK_HOME") or shutil.which("spark-submit")
    return os.path.isdir(os.path.join(root, "src/main/scala/graft")) and bool(spark)


@unittest.skipUnless(_checkout_with_spark(), "needs a graft checkout and a Spark distribution")
class DigestTest(unittest.TestCase):
    def test_digest_ignores_row_and_column_order(self):
        import run
        out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                              or os.path.join(os.path.dirname(HERE), ".bench_build"))
        classpath = run.build(os.path.dirname(HERE), out)
        with tempfile.TemporaryDirectory(dir=out) as tmp:
            res = subprocess.run(
                ["java", "-XX:-UsePerfData"]
                + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in run.ADD_OPENS]
                + ["-Xmx1g", f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
                   "perfbench.DigestCheck"], cwd=tmp, capture_output=True, text=True,
                timeout=170)
        self.assertEqual(res.returncode, 0, res.stdout[-3000:] + res.stderr[-3000:])
        self.assertIn("DIGEST OK", res.stdout)


if __name__ == "__main__":
    unittest.main()
