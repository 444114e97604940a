"""Tests of the benchmark's own metric code, on synthetic spans.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import metrics  # noqa: E402


def span(name, kind, start_s, end_s, pass_=0, module="", layer=None, extra=None):
    parent = "run" if kind in ("setup", "cold", "steady") else f"pass{pass_}"
    return {"name": name, "kind": kind, "module": module or name, "pass": pass_,
            "parent": parent, "start_ms": start_s * 1e3, "end_ms": end_s * 1e3,
            "ok": True, "layer": layer or {}, "extra": extra or {}}


class PercentileTest(unittest.TestCase):

    def test_interpolates_between_closest_ranks(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), (2.5, 4))
        value, n = metrics.percentile(list(range(1, 11)), 90)
        self.assertAlmostEqual(value, 9.1)
        self.assertEqual(n, 10)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 50), (3, 5))

    def test_extremes_and_single_sample(self):
        self.assertEqual(metrics.percentile([7, 3, 9], 0), (3, 3))
        self.assertEqual(metrics.percentile([7, 3, 9], 100), (9, 3))
        self.assertEqual(metrics.percentile([42.0], 90), (42.0, 1))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class FailedFracTest(unittest.TestCase):

    def test_reports_the_base(self):
        self.assertEqual(metrics.failed_frac(0, 23), (0.0, 23))
        self.assertEqual(metrics.failed_frac(2, 8), (0.25, 8))

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.failed_frac(0, 0)


class SlotUtilTest(unittest.TestCase):

    def test_share_of_held_slots(self):
        # 6 slot-seconds of task run time over 4 slots for 3 s = 50%
        self.assertAlmostEqual(metrics.slot_util(6.0, 4, 3.0), 0.5)

    def test_empty_pass(self):
        self.assertEqual(metrics.slot_util(1.0, 4, 0.0), 0.0)


class IntervalUnionTest(unittest.TestCase):

    def test_disjoint_overlapping_and_nested(self):
        jobs = [(0, 2), (1, 3), (5, 6), (5.2, 5.5)]
        self.assertAlmostEqual(metrics.interval_union(jobs, 0, 10), 4.0)

    def test_clips_to_the_window(self):
        self.assertAlmostEqual(metrics.interval_union([(-5, 1), (9, 20)], 0, 10), 2.0)
        self.assertEqual(metrics.interval_union([(11, 12), (-3, -1)], 0, 10), 0.0)

    def test_touching_intervals_count_once(self):
        self.assertAlmostEqual(metrics.interval_union([(0, 1), (1, 2), (0, 2)], 0, 10), 2.0)


def synthetic_run():
    """Three set-ups, a cold pass and two steady passes of two queries."""
    spans = [span("setup", "setup", 0, 7), span("setup", "setup", 7, 9),
             span("setup", "setup", 9, 10.5)]
    t = 20.0
    for p, (qa, qb) in enumerate([(3.0, 5.0), (1.0, 2.0), (1.2, 2.4)]):
        start = t
        la = {"jobs": 2, "tasks": 6, "run_s": 2.0, "compile_s": 0.1, "storage_peak_mb": 5.0}
        lb = {"jobs": 1, "tasks": 1, "run_s": 0.5, "compile_s": 0.2, "storage_peak_mb": 9.0}
        spans.append(span("qa", "query", t, t + qa, p, "ops.window", la))
        t += qa
        spans.append(span("trace.drain", "trace", t, t + 0.1, p))
        t += 0.1
        spans.append(span("qb", "query", t, t + qb, p, "report", lb))
        t += qb
        spans.append(span("cache.release", "release", t, t + 0.05, p,
                          extra={"live_entries": 0.0}))
        t += 0.05
        spans.append(span("pass", "cold" if p == 0 else "steady", start, t, p))
    return {"threads": "4", "live_heap_mb": 80.5, "spans": spans,
            "jobs": [(21.0e3, 22.0e3), (24.0e3, 24.5e3)]}


class EndToEndTest(unittest.TestCase):

    def test_metrics_and_sample_counts(self):
        e = metrics.end_to_end(synthetic_run())
        self.assertEqual(e["setup_s"], (2.0, "s", 3))
        self.assertAlmostEqual(e["cold_s"][0], 8.15)
        pass_s, unit, n = e["pass_s"]
        self.assertAlmostEqual(pass_s, (3.15 + 3.75) / 2)
        self.assertEqual(n, 2)
        # steady latencies 1000, 1200, 2000, 2400 ms
        self.assertAlmostEqual(e["query_p50_ms"][0], 1600.0)
        self.assertEqual(e["query_p50_ms"][2], 4)
        self.assertNotIn("query_p90_ms", e)
        p90, n = metrics.percentile(metrics.steady_latencies_ms(synthetic_run()), 90)
        self.assertAlmostEqual(p90, 2280.0)
        self.assertEqual(n, 4)
        self.assertEqual(e["live_heap_mb"], (80.5, "MB", 1))


class PerLayerTest(unittest.TestCase):

    def test_module_spans_and_driver_split(self):
        run = synthetic_run()
        rows = [metrics._pass_layers(p, run["jobs"], 4) for p in metrics.passes(run["spans"])]
        cold = rows[0]
        self.assertAlmostEqual(cold["ops.window_s"], 3.0)
        self.assertAlmostEqual(cold["report.s"], 5.0)
        self.assertEqual(cold["sched.jobs"], 3)
        self.assertAlmostEqual(cold["sched.tasks_per_job"], 7 / 3)
        self.assertEqual(cold["storage.peak_mb"], 9.0)
        # the cold pass spans 20.0-28.15 s; jobs cover 1.5 s of it and the
        # drain 0.1 s, which is not driver time
        self.assertAlmostEqual(cold["driver.outside_jobs_s"], 8.15 - 0.1 - 1.5)
        self.assertAlmostEqual(cold["exec.slot_util"], 2.5 / (4 * 8.05))
        self.assertAlmostEqual(cold["trace.pass_s"], 8.05)
        self.assertAlmostEqual(cold["spans.residual_frac"], 0.0)

    def test_medians_over_steady_passes(self):
        layers = metrics.per_layer(synthetic_run())
        self.assertAlmostEqual(layers["ops.window_s"][0], 1.1)
        self.assertEqual(layers["ops.window_s"][2], 2)
        self.assertAlmostEqual(layers["codegen.compile_s"][0], 0.3)
        self.assertEqual(layers["cache.live_entries"][0], 0.0)
        self.assertEqual(set(layers), set(metrics.layer_units()))

    def test_residual_counts_uncovered_time(self):
        run = synthetic_run()
        p = metrics.passes(run["spans"])[1]
        p["span"]["end_ms"] += 315.0  # 0.315 s the children do not cover
        self.assertAlmostEqual(metrics.residual_frac(p), 0.315 / 3.465)


class DeclarationTest(unittest.TestCase):
    """BENCHMARK.json declares exactly the metrics this code reports."""

    def test_declared_metrics_match(self):
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            declared = json.load(f)
        e2e = metrics.end_to_end(synthetic_run())
        self.assertEqual({m["name"]: m["unit"] for m in declared["end_to_end"]},
                         {k: unit for k, (_, unit, _) in e2e.items()})
        self.assertEqual({m["name"]: m["unit"] for m in declared["per_layer"]},
                         metrics.layer_units())


if __name__ == "__main__":
    unittest.main()
