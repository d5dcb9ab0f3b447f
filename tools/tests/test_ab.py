"""Unit tests of tools/ab.py's summary arithmetic.

    python3 -m unittest discover -s tools/tests
"""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import ab  # noqa: E402


def run(failed=0, attempted=20, **metrics):
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


class Summary(unittest.TestCase):
    METRICS = [("throughput_per_s", "higher"), ("cold_s", "lower")]

    def test_medians_ratio_and_wins(self):
        base = [run(throughput_per_s=t, cold_s=c) for t, c in
                [(2.0, 4.0), (3.0, 3.0), (2.5, 5.0), (2.8, 3.5)]]
        change = [run(throughput_per_s=t, cold_s=c) for t, c in
                  [(2.5, 3.0), (2.9, 3.2), (3.0, 4.0), (3.1, 3.0)]]
        rows = {r[0]: r for r in ab.summarize(base, change, self.METRICS)}
        name, bm, cm, ratio, iqr, wins, n = rows["throughput_per_s"]
        self.assertEqual((bm, cm), (2.65, 2.95))
        self.assertAlmostEqual(ratio, 2.95 / 2.65)
        # statistics.quantiles' exclusive method over 2.0 2.5 2.8 3.0
        self.assertAlmostEqual(iqr, 2.95 - 2.125)
        self.assertEqual((wins, n), (3, 4))  # pair 2 is worse
        _, bm, cm, ratio, _, wins, n = rows["cold_s"]
        self.assertEqual((bm, cm), (3.75, 3.1))
        self.assertEqual((wins, n), (3, 4))  # lower is better; pair 2 is worse

    def test_ties_are_not_wins_and_missing_metrics_are_skipped(self):
        base = [run(throughput_per_s=1.0), run(throughput_per_s=2.0)]
        change = [run(throughput_per_s=1.0), run(throughput_per_s=2.0)]
        rows = ab.summarize(base, change, self.METRICS)
        self.assertEqual([r[0] for r in rows], ["throughput_per_s"])
        self.assertEqual(rows[0][5], 0)
        self.assertEqual(rows[0][3], 1.0)

    def test_failed_share_pools_every_run(self):
        runs = [run(failed=1, attempted=20), run(failed=0, attempted=30)]
        self.assertAlmostEqual(ab.failed_share(runs), 1 / 50)
        self.assertEqual(ab.failed_share([]), 0.0)

    def test_metric_lines(self):
        self.assertEqual(ab.metric_line("fetch_p50_ms 12.5 ms n=20"), ("fetch_p50_ms", 12.5))
        self.assertEqual(ab.metric_line("cold_s 3.1 s"), ("cold_s", 3.1))
        self.assertIsNone(ab.metric_line("# probe fill_stl: exchanges=2"))
        self.assertIsNone(ab.metric_line("pair 1 done now"))

    def test_gated_reads_benchmark_json(self):
        import json
        spec = json.loads((ab.ROOT / "BENCHMARK.json").read_text())
        names = [n for n, _ in ab.gated(spec)]
        self.assertIn("throughput_per_s", names)
        self.assertEqual(dict(ab.gated(spec))["throughput_per_s"], "higher")


if __name__ == "__main__":
    unittest.main()
