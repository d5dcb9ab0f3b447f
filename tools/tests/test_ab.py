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

    def test_verdicts(self):
        # lower is better: 1.3 is 30% worse than 1.0, beyond a 0.25 bound
        self.assertEqual(ab.verdict(1.0, 1.3, 0.1, "lower", 0.25), "worse")
        self.assertEqual(ab.verdict(1.0, 1.2, 0.1, "lower", 0.25), "ok")
        # higher is better: 0.7 is 30% below 1.0
        self.assertEqual(ab.verdict(1.0, 0.7, 0.1, "higher", 0.25), "worse")
        self.assertEqual(ab.verdict(1.0, 1.5, 0.1, "higher", 0.25), "ok")
        # a base IQR of 30% of its median is wider than a 0.25 bound
        self.assertEqual(ab.verdict(1.0, 1.0, 0.3, "lower", 0.25), "unresolved")
        self.assertEqual(ab.verdict(1.0, 1.0, 0.25, "lower", 0.25), "ok")
        # a median beyond the bound is worse however wide the spread
        self.assertEqual(ab.verdict(1.0, 2.0, 0.5, "lower", 0.25), "worse")

    def test_report_prints_bound_and_verdict(self):
        base = [run(cold_s=c) for c in (1.0, 1.0, 1.0, 1.0)]
        change = [run(cold_s=c) for c in (2.0, 2.0, 2.0, 2.0)]
        rows = ab.summarize(base, change, [("cold_s", "lower"), ("fetch_p50_ms", "lower")])
        text = ab.report(rows, base, change, [("cold_s", "lower")], {"cold_s": 0.25})
        line = next(l for l in text.splitlines() if l.startswith("cold_s"))
        self.assertEqual(line.split()[-2:], ["0.25", "worse"])
        self.assertIn("verdict", text.splitlines()[0])

    def test_extra_metrics_get_no_verdict(self):
        base = [run(fetch_p50_ms=10.0), run(fetch_p50_ms=11.0)]
        change = [run(fetch_p50_ms=30.0), run(fetch_p50_ms=31.0)]
        metrics = [("fetch_p50_ms", "lower")]
        text = ab.report(ab.summarize(base, change, metrics), base, change, metrics, {})
        line = next(l for l in text.splitlines() if l.startswith("fetch_p50_ms"))
        self.assertEqual(line.split()[-2:], ["-", "-"])

    def test_gated_reads_benchmark_json(self):
        import json
        spec = json.loads((ab.ROOT / "BENCHMARK.json").read_text())
        names = [n for n, _ in ab.gated(spec)]
        self.assertIn("throughput_per_s", names)
        self.assertEqual(dict(ab.gated(spec))["throughput_per_s"], "higher")
        self.assertEqual(set(ab.bounds(spec)), set(names))
        self.assertEqual(ab.bounds(spec)["retained_heap_mb"], 0.15)


if __name__ == "__main__":
    unittest.main()
