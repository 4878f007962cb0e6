"""Tests for the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests

Run from the root of a checkout; the generator test builds the JVM side
first when it is not built yet.
"""
import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
SCRATCH = Path.cwd() / ".bench_build" / "tests"  # inside the checkout, git-ignored
import benchlib  # noqa: E402
import sfgen  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(benchlib.percentile([1, 2, 3, 4, 5], 50), 3)
        self.assertEqual(benchlib.percentile([5, 1, 3, 2, 4], 0), 1)
        self.assertEqual(benchlib.percentile([1, 2, 3, 4, 5], 100), 5)
        self.assertAlmostEqual(benchlib.percentile([10, 20], 25), 12.5)

    def test_tail_leaves_ten_samples_above(self):
        for n in range(11, 300):
            p = benchlib.tail_percentile(n)
            xs = list(range(n))
            above = sum(1 for x in xs if x > benchlib.percentile(xs, p))
            self.assertGreaterEqual(above, 10, n)
            if p < 99:
                above_next = sum(1 for x in xs if x > benchlib.percentile(xs, p + 1))
                self.assertLess(above_next, 10, n)

    def test_tail_needs_more_than_ten_samples(self):
        self.assertIsNone(benchlib.tail_percentile(10))
        self.assertEqual(benchlib.tail_percentile(14), 30)

    def test_spread(self):
        self.assertAlmostEqual(benchlib.spread([10.0] * 10), 0.0)
        self.assertGreater(benchlib.spread([8, 9, 10, 11, 12, 8, 9, 10, 11, 12]), 0.1)


class DigestTest(unittest.TestCase):
    """Digests are taken on the JVM side only; DigestTest.scala holds the
    checks: order-insensitive vs ordered comparison, columns by name,
    multisets, float tolerance and value classes."""

    def test_digest(self):
        import run
        classes = run.build()
        out = SCRATCH / "digest-test"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        cp = f"{classes}:{run.SPARK_HOME / 'jars'}/*"
        run.scalac([HERE / "tests" / "DigestTest.scala"], out, cp)
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{out}:{cp}", "perfbench.DigestTest"],
                           capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_and_clips(self):
        self.assertEqual(benchlib.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(benchlib.union_ms([(0, 10), (5, 15), (20, 30)], 8, 22), 9)
        self.assertEqual(benchlib.union_ms([]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": "op", "parent": None, "start_ms": 0, "end_ms": 100},
            {"id": "build", "parent": "op", "start_ms": 0, "end_ms": 10},
            {"id": "job1", "parent": "op", "start_ms": 20, "end_ms": 60},
            {"id": "job2", "parent": "op", "start_ms": 50, "end_ms": 70},  # overlaps job1
            {"id": "late", "parent": "op", "start_ms": 95, "end_ms": 120},  # runs past the op
            {"id": "stage", "parent": "job1", "start_ms": 25, "end_ms": 55},
        ]
        st = benchlib.self_times(spans)
        self.assertEqual(st["op"], 100 - 10 - 50 - 5)
        self.assertEqual(st["job1"], 40 - 30)
        self.assertEqual(st["job2"], 20)
        self.assertEqual(st["stage"], 30)


class SeedTest(unittest.TestCase):
    """The same seed gives byte-identical inputs; another seed does not."""

    def _same_tree(self, a, b):
        names = sorted(p.relative_to(a) for p in Path(a).rglob("*") if p.is_file())
        self.assertEqual(names, sorted(p.relative_to(b) for p in Path(b).rglob("*") if p.is_file()))
        return all(filecmp.cmp(Path(a) / n, Path(b) / n, shallow=False) for n in names)

    def test_sf_tables(self):
        SCRATCH.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as t:
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                sfgen.generate(seed, Path(t) / name)
            self.assertTrue(self._same_tree(Path(t) / "a", Path(t) / "b"))
            self.assertFalse(self._same_tree(Path(t) / "a", Path(t) / "c"))

    def test_scan_inputs(self):
        import run
        classes = run.build()
        cp = f"{classes}:{run.SPARK_HOME / 'jars'}/*"
        SCRATCH.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as t:
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Gen",
                                os.path.join(t, name), str(seed), "300", "300"],
                               check=True, capture_output=True)
            self.assertTrue(self._same_tree(Path(t) / "a", Path(t) / "b"))
            self.assertFalse(self._same_tree(Path(t) / "a", Path(t) / "c"))


if __name__ == "__main__":
    unittest.main()
