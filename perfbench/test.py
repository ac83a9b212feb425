"""The benchmark's own tests.

Usage (from the repository root): python3 perfbench/test.py

Checks the steadiness arithmetic here, then builds the benchmark and runs
its JVM self-test (perfbench.SelfTest: the percentile rule, the self-time
arithmetic and generator determinism).
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402
import steady  # noqa: E402


class SteadyTest(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        med, q1, q3, sp = steady.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((med, q1, q3), (5.5, 2.75, 8.25))
        self.assertAlmostEqual(sp, 1.0)

    def test_constant_samples_have_no_spread(self):
        self.assertEqual(steady.spread([2.0] * 10)[3], 0.0)

    def test_worse_follows_direction(self):
        lower = {"better": "lower"}
        higher = {"better": "higher"}
        self.assertAlmostEqual(steady.worse_by(lower, 1.0, 1.1), 0.1)
        self.assertAlmostEqual(steady.worse_by(higher, 1.0, 1.1), -0.1)
        self.assertAlmostEqual(steady.worse_by(higher, 1.0, 0.8), 0.2)


class ResultLineTest(unittest.TestCase):
    def test_last_result_line_wins(self):
        out = ('noise\n{"correct": true, "attempted": 1, "failed": 0, '
               '"metrics": {}}\n{"other": 1}\n')
        self.assertEqual(run.result_line(out)["attempted"], 1)

    def test_no_result(self):
        self.assertIsNone(run.result_line("nothing here\n"))


class JvmSelfTest(unittest.TestCase):
    def test_selftest(self):
        cp, opts = build.build()
        proc = subprocess.run(
            ["java"] + opts + build.jvm_opts(run.WORK, "1g") +
            ["-cp", cp, "perfbench.SelfTest"],
            cwd=build.ROOT, capture_output=True, text=True, timeout=600)
        print(proc.stdout)
        self.assertEqual(proc.returncode, 0, proc.stdout + proc.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
