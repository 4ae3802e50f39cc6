"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py      (from the repo root)

The tracer self-checks build the benchmark and run one JVM on a small
dataset (a minute or two); the rest is pure Python.
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402


class CanonTest(unittest.TestCase):
    def test_doubles_keep_six_significant_digits(self):
        self.assertEqual(oracle.canon_double(1234567.0), "123457e1")
        self.assertEqual(oracle.canon_double(0.1 + 0.2), "300000e-6")
        self.assertEqual(oracle.canon_double(-2.5), "-250000e-5")
        self.assertEqual(oracle.canon_double(0.0), "0")
        self.assertEqual(oracle.canon_double(1e-30), "100000e-35")

    def test_summation_order_noise_vanishes(self):
        a = sum([0.1] * 10)
        self.assertNotEqual(a, 1.0)
        self.assertEqual(oracle.canon_double(a), oracle.canon_double(1.0))

    def test_fingerprint_ignores_row_and_column_order(self):
        rows = [(1, "a", 0.5), (2, "b", None)]
        fp = oracle.fingerprint(["k", "s", "x"], rows)
        self.assertEqual(fp, oracle.fingerprint(["k", "s", "x"], rows[::-1]))
        self.assertEqual(fp, oracle.fingerprint(["x", "k", "s"], [(r[2], r[0], r[1]) for r in rows]))
        self.assertNotEqual(fp, oracle.fingerprint(["k", "s", "x"], rows + rows[:1]))


class DatagenTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            datagen.generate(a, 0.001, 5)
            datagen.generate(b, 0.001, 5)
            for t in oracle.TABLES:
                self.assertTrue(pq.read_table(f"{a}/{t}.parquet").equals(pq.read_table(f"{b}/{t}.parquet")), t)


class TracerSelfCheck(unittest.TestCase):
    def test_tracer_self_checks(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--selfcheck"],
                           cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=900)
        print(p.stdout)
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertNotIn("FAIL", p.stdout)


if __name__ == "__main__":
    unittest.main()
