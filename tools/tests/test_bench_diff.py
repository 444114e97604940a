"""Tests of bench_diff's median-mode verdicts and its solo same-code A/B
ladder, on in-memory receipt dicts.

    python3 -m unittest discover -s tools/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import bench_diff  # noqa: E402


def receipt(q, value):
    return {"value": value, "queries": {q: value}}


def runs(q, values):
    return [receipt(q, v) for v in values]


Q = "q01_probe"
BASE = runs(Q, [10.0, 10.0, 10.0])
# every new run over the 1.5x gate: a reproduced REGRESSION
REGRESSED = runs(Q, [20.0, 20.0, 20.0])
# under the gate but every run above base and the median >= 1.25x: a DRIFT
DRIFTED = runs(Q, [13.0, 13.0, 13.0])
FLAGS = {"REGRESSION": REGRESSED, "DRIFT": DRIFTED}


def verdict(new_runs, solo, solo_base):
    lines = []
    regressions, drifts = bench_diff.compare(
        BASE, new_runs, solo=solo, solo_base=solo_base, out=lines.append)
    return regressions + drifts, "\n".join(lines)


class FlagClassTest(unittest.TestCase):

    def test_fixtures_raise_the_intended_flag(self):
        for kind, new_runs in FLAGS.items():
            with self.subTest(kind=kind):
                failing, text = verdict(new_runs, [], [])
                self.assertEqual(failing, [Q])
                self.assertIn(f"{kind} {Q}", text)

    def test_clean_suite_flags_nothing(self):
        failing, text = verdict(runs(Q, [10.1, 9.9, 10.0]), [], [])
        self.assertEqual(failing, [])
        self.assertNotIn("REGRESSION", text)
        self.assertNotIn("DRIFT", text)


class SoloAbTest(unittest.TestCase):

    def test_thin_receipt_leaves_the_flag_standing(self):
        for kind, new_runs in FLAGS.items():
            for solo, solo_base in [([10.0], [10.0, 10.0]), ([10.0, 10.0], [10.0])]:
                with self.subTest(kind=kind, solo=solo, solo_base=solo_base):
                    failing, text = verdict(new_runs, runs(Q, solo), runs(Q, solo_base))
                    self.assertEqual(failing, [Q])
                    self.assertIn("too thin", text)
                    self.assertNotIn("adjudicated host drift", text)

    def test_non_positive_solo_base_median_leaves_the_flag_standing(self):
        for kind, new_runs in FLAGS.items():
            for solo_base in ([0.0, 0.0], [-1.0, -2.0]):
                with self.subTest(kind=kind, solo_base=solo_base):
                    failing, text = verdict(new_runs, runs(Q, [10.0, 10.0]),
                                            runs(Q, solo_base))
                    self.assertEqual(failing, [Q])
                    self.assertIn("not positive", text)
                    self.assertNotIn("adjudicated host drift", text)

    def test_confirming_ab_fails(self):
        for kind, new_runs in FLAGS.items():
            with self.subTest(kind=kind):
                failing, text = verdict(new_runs, runs(Q, [20.0, 21.0]),
                                        runs(Q, [10.0, 10.5]))
                self.assertEqual(failing, [Q])
                self.assertIn("CONFIRMS", text)

    def test_clean_ab_clears_as_host_drift(self):
        for kind, new_runs in FLAGS.items():
            with self.subTest(kind=kind):
                failing, text = verdict(new_runs, runs(Q, [10.0, 10.2]),
                                        runs(Q, [10.1, 10.0]))
                self.assertEqual(failing, [])
                self.assertIn("adjudicated host drift", text)
                self.assertIn("[10.00, 10.20]", text)

    def test_partial_reproduction_keeps_a_regression_but_clears_a_drift(self):
        solo, solo_base = runs(Q, [12.6, 12.6]), runs(Q, [10.0, 10.0])
        failing, text = verdict(REGRESSED, solo, solo_base)
        self.assertEqual(failing, [Q])
        self.assertIn("REGRESSION stands", text)
        failing, text = verdict(DRIFTED, solo, solo_base)
        self.assertEqual(failing, [])
        self.assertIn("watch item", text)


if __name__ == "__main__":
    unittest.main()
