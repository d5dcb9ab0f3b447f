"""Unit tests of the benchmark's own statistics and output format.

    python3 -m unittest discover -s benchmark/tests
"""

import json
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([5.0], 90), 5.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertEqual(stats.beyond(20, 50), 10)

    def test_reportable_needs_ten_beyond(self):
        self.assertTrue(stats.reportable(100, 90))
        self.assertFalse(stats.reportable(99, 90))
        self.assertTrue(stats.reportable(20, 50))
        self.assertFalse(stats.reportable(19, 50))
        self.assertFalse(stats.reportable(12, 50))

    def test_p90_dropped_without_enough_samples(self):
        raw = fake_raw(kinds={"scalar": [1.0] * 100, "frame": [2.0] * 50})
        names = [m[0] for m in stats.end_to_end("rest-mixed", raw)]
        self.assertIn("scalar_p90_ms", names)
        self.assertIn("frame_p50_ms", names)
        self.assertNotIn("frame_p90_ms", names)

    def test_percentile_carries_sample_count(self):
        raw = fake_raw(kinds={"scalar": [float(i) for i in range(100)]})
        rows = {m[0]: m for m in stats.end_to_end("rest-mixed", raw)}
        self.assertEqual(rows["scalar_p50_ms"][3], 100)
        self.assertEqual(rows["scalar_p90_ms"][2], "ms")


class QuartileSpread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.0]
        q1, med, q3, spread = stats.quartile_spread(xs)
        self.assertEqual([q1, med, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(spread, (q3 - q1) / med)

    def test_constant_values_have_no_spread(self):
        self.assertEqual(stats.quartile_spread([2.0] * 10)[3], 0.0)


class OutputFormat(unittest.TestCase):
    def test_one_metric_per_line_with_name_and_unit(self):
        line = stats.metric_line("cold_s", 12.345678901, "s")
        self.assertEqual(line, "cold_s 12.345678901 s")
        self.assertEqual(stats.parse_metric_line(line), ("cold_s", 12.345678901, "s", None))
        line = stats.metric_line("fetch_p90_ms", 41.5, "ms", 100)
        self.assertEqual(line, "fetch_p90_ms 41.5 ms n=100")
        self.assertEqual(stats.parse_metric_line(line), ("fetch_p90_ms", 41.5, "ms", 100))

    def test_other_lines_are_not_metrics(self):
        self.assertIsNone(stats.parse_metric_line("# variants: a/1 b/2"))
        self.assertIsNone(stats.parse_metric_line('{"correct": true}'))
        self.assertIsNone(stats.parse_metric_line("a b c d e"))

    def test_every_workload_reports_the_gated_metrics(self):
        for workload in ("batch-ws", "rest-mixed", "stream-ingest"):
            raw = fake_raw(kinds={"batch": [1.0] * 30, "fbr": [1.0, 2.0]})
            got = {m[0]: m[2] for m in stats.end_to_end(workload, raw)}
            for name, unit in stats.GATED:
                self.assertEqual(got[name], unit)

    def test_result_line_has_exactly_the_contract_keys(self):
        raw = fake_raw()
        obj = json.loads(stats.result_line(raw, [("setup_s", 0.5, "s")]))
        self.assertEqual(set(obj), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(obj["metrics"], {"setup_s": {"value": 0.5, "unit": "s"}})
        self.assertTrue(obj["correct"])

    def test_failures_make_the_run_incorrect(self):
        raw = fake_raw(attempted=10, failed=1)
        obj = json.loads(stats.result_line(raw, []))
        self.assertEqual((obj["correct"], obj["attempted"], obj["failed"]), (False, 10, 1))
        ratio = {m[0]: m[1] for m in stats.end_to_end("rest-mixed", raw)}["error_ratio"]
        self.assertEqual(ratio, 0.1)

    def test_throughput_is_units_over_the_median_round(self):
        raw = fake_raw()  # rounds of 2, 1 and 4 s, 10 units each
        rows = {m[0]: m for m in stats.end_to_end("batch-ws", raw)}
        self.assertEqual(rows["throughput_per_s"][1:], (5.0, "1/s", 3))
        self.assertEqual(rows["pass_s"][1:], (2.0, "s", 3))

    def test_gated_metrics_match_benchmark_json(self):
        spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], stats.GATED)


def fake_raw(kinds=None, attempted=5, failed=0):
    return {"setup_s": [1.0, 2.0, 3.0], "cold_s": 4.0, "kinds": kinds or {"x": [1.0]},
            "rounds_s": [2.0, 1.0, 4.0], "units_per_round": 10.0, "attempted": attempted,
            "failed": failed, "retained_heap_mb": 100.0, "layers": {}, "info": []}


if __name__ == "__main__":
    unittest.main()
