"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime as dt
import decimal
import json
import os
import unittest

import numpy as np

import digest
import run
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileTest(unittest.TestCase):
    def test_median_with_count(self):
        self.assertEqual(stats.percentile([5, 1, 3], 50), (3, 3))

    def test_nearest_rank(self):
        xs = list(range(1, 1001))
        self.assertEqual(stats.percentile(xs, 99), (990, 1000))

    def test_refuses_unsupported_tail(self):
        # p99 of 500 samples leaves 5 beyond it: refused
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(500)), 99)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile([], 50)

    def test_highest_supported(self):
        q, v, n = stats.highest_supported(list(range(1, 201)))
        self.assertEqual((q, n), (95, 200))
        self.assertEqual(v, 190)
        self.assertIsNone(stats.highest_supported([1, 2, 3]))

    def test_subwindow_median_outvotes_one_stall(self):
        # three quiet sub-windows at 10 ms, one stalled at 500 ms
        times = list(range(400))
        values = [500 if 300 <= t < 400 else 10 for t in times]
        p50, p90 = stats.subwindow_percentiles(times, values, 0, 400, 4, (50, 90))
        self.assertEqual((p50, p90), (10, 10))
        self.assertEqual(stats.percentile(values, 90)[0], 500)

    def test_subwindow_refuses_thin_window(self):
        # 40 samples per sub-window leave 4 beyond p90: refused
        with self.assertRaises(stats.TooFewSamples):
            stats.subwindow_percentiles(list(range(160)), [1] * 160, 0, 160, 4, (90,))


class OpenLoopTest(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # the generator ran 30 ms late on the second request: its latency
        # still counts from when it was due, and the lateness is reported
        due = [0, 10, 20]
        sent = [0, 40, 40]
        recv = [5, 50, 45]
        lat, late = stats.open_loop_latencies(due, sent, recv)
        self.assertEqual(lat, [5, 40, 25])
        self.assertEqual(late, [0, 30, 20])

    def test_early_send_is_not_negative_lateness(self):
        _, late = stats.open_loop_latencies([100], [90], [120])
        self.assertEqual(late, [0])


class DigestTest(unittest.TestCase):
    def test_column_and_row_order(self):
        a = digest.digest(["x", "y"], [(1, "a"), (2, "b")])
        b = digest.digest(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)

    def test_values_matter(self):
        a = digest.digest(["x"], [(1,), (2,)])
        self.assertNotEqual(a, digest.digest(["x"], [(1,), (3,)]))
        self.assertNotEqual(a, digest.digest(["z"], [(1,), (2,)]))

    def test_int_and_float_differ(self):
        self.assertNotEqual(digest.digest(["x"], [(1,)]), digest.digest(["x"], [(1.0,)]))

    def test_floats_bit_exact(self):
        self.assertNotEqual(digest.digest(["x"], [(0.1 + 0.2,)]), digest.digest(["x"], [(0.3,)]))
        self.assertEqual(digest.digest(["x"], [(np.float32(0.5),)]),
                         digest.digest(["x"], [(0.5,)]))
        self.assertEqual(digest.digest(["x"], [(float("nan"),)]),
                         digest.digest(["x"], [(np.float64("nan"),)]))

    def test_timestamp_units(self):
        t = dt.datetime(2024, 1, 2, 3, 4, 5, 678901)
        us = np.datetime64("2024-01-02T03:04:05.678901", "us")
        ns = us.astype("datetime64[ns]")
        tz = t.replace(tzinfo=dt.timezone.utc)
        ds = {digest.digest(["t"], [(v,)]) for v in (t, us, ns, tz)}
        self.assertEqual(len(ds), 1)
        later = np.datetime64("2024-01-02T03:04:05.678901001", "ns")
        self.assertNotEqual(digest.digest(["t"], [(later,)]), ds.pop())

    def test_decimal_scale_is_kept(self):
        self.assertNotEqual(digest.digest(["d"], [(decimal.Decimal("1.50"),)]),
                            digest.digest(["d"], [(decimal.Decimal("1.5"),)]))


class MetricNameTest(unittest.TestCase):
    def test_names(self):
        for good in ("setup_s", "exec.task_run_ms", "p99", "a-b.c_d"):
            stats.check_metric(good, "ms")
        for bad in ("", "_x", ".x", "x y", "x" * 65, "é"):
            with self.assertRaises(ValueError):
                stats.check_metric(bad, "ms")

    def test_units(self):
        for good in ("ms", "1/s", "%", "rows/s", "count"):
            stats.check_metric("x", good)
        for bad in ("", "m s", "x" * 17):
            with self.assertRaises(ValueError):
                stats.check_metric("x", bad)

    def test_spec_rules(self):
        spec = {"workloads": [{"name": "w", "why": "."}],
                "end_to_end": [{"name": "setup_s", "unit": "s", "better": "lower",
                                "bound": 0.3}],
                "per_layer": []}
        with self.assertRaises(ValueError):
            stats.validate_spec(spec)
        spec["end_to_end"][0]["bound"] = 0.2
        stats.validate_spec(spec)
        spec["per_layer"].append({"name": "w", "unit": "ms", "better": "lower"})
        with self.assertRaises(ValueError):
            stats.validate_spec(spec)

    def test_benchmark_json_matches_harness(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        stats.validate_spec(spec)
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in spec["end_to_end"]], [tuple(m) for m in run.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         [tuple(m) for m in run.PER_LAYER])
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [
            {"name": "exec.action", "id": 1, "parent": 0, "start_ns": 0, "end_ns": 10_000_000,
             "trace": "t"},
            {"name": "plan.analysis", "id": 2, "parent": 1, "start_ns": 1_000_000,
             "end_ns": 3_000_000, "trace": "t"},
        ]
        st = run.self_times(spans)
        self.assertAlmostEqual(st["exec"], 8.0)
        self.assertAlmostEqual(st["plan"], 2.0)


if __name__ == "__main__":
    unittest.main()
