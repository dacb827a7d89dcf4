"""Percentile, aggregation and spec arithmetic of the benchmark.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import metrics  # noqa: E402


class MetricsTest(unittest.TestCase):
    def test_median_and_spread(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(metrics.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(metrics.median([]), 0.0)
        # quartiles of 1..9 (exclusive method) are 2.5 and 7.5; median 5
        self.assertAlmostEqual(metrics.spread(list(range(1, 10))), 1.0)
        self.assertEqual(metrics.spread([2.0] * 10), 0.0)

    def test_end_to_end_from_a_driver_result(self):
        r = {"op_cpu_seconds": [1.0, 3.0, 2.0, 10.0], "timed_cpu_s": 16.0,
             "op_seconds": [9.0, 9.0, 1.0], "timed_s": 19.0, "rows": 32000,
             "input_bytes": 8_000_000, "files_out": 3, "stored_bytes": 2_500_000}
        m = metrics.end_to_end(r, setup_s=12.5)
        self.assertEqual(m, {"setup_s": 12.5, "op_cpu_s": 2.5, "rows_per_cpu_s": 2000.0,
                             "mb_per_cpu_s": 0.5, "files_out": 3, "stored_mb": 2.5})
        # the wall-time figures are per layer, from the wall times
        w = metrics.wall(r, 30.0)
        self.assertEqual(w["wall.setup_s"], 30.0)
        self.assertEqual(w["wall.op_p50_s"], 9.0)
        self.assertAlmostEqual(w["wall.rows_per_s"], 32000 / 19.0)
        # a query pass is the op when the driver reports passes
        r["pass_cpu_seconds"] = [5.0, 7.0, 6.0]
        r["pass_seconds"] = [4.0, 3.0, 5.0]
        self.assertEqual(metrics.end_to_end(r, 1.0)["op_cpu_s"], 6.0)
        self.assertEqual(metrics.wall(r, 1.0)["wall.op_p50_s"], 4.0)

    def test_relative_delta(self):
        self.assertAlmostEqual(metrics.relative_delta(1.1, 1.0), 10.0)
        self.assertEqual(metrics.relative_delta(1.0, 0.0), 0.0)

    def test_with_units_covers_the_spec_in_order(self):
        vals = {n: 1.0 for n, _, _ in metrics.END_TO_END}
        out = metrics.with_units(vals, metrics.END_TO_END)
        self.assertEqual(list(out), [n for n, _, _ in metrics.END_TO_END])
        self.assertEqual(out["setup_s"], {"value": 1.0, "unit": "s"})

    def test_benchmark_json_lists_exactly_these_metrics(self):
        spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
