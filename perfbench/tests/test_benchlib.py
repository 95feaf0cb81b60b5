"""Unit tests of the benchmark's statistics and checks.

Run from the root of a checkout: python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_needs_ten_samples_beyond_it(self):
        self.assertEqual(benchlib.percentile(range(1, 22), 50), 11)
        with self.assertRaises(benchlib.TooFewSamples):
            benchlib.percentile(range(1, 20), 50)

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertAlmostEqual(benchlib.percentile(range(100), 90), 89.1)
        with self.assertRaises(benchlib.TooFewSamples):
            benchlib.percentile(range(99), 90)
        with self.assertRaises(benchlib.TooFewSamples):
            benchlib.percentile(range(49), 80)
        benchlib.percentile(range(50), 80)

    def test_ties_do_not_count_as_beyond(self):
        with self.assertRaises(benchlib.TooFewSamples):
            benchlib.percentile([1.0] * 16 + [2.0] * 4 + [3.0] * 5, 50)

    def test_empty(self):
        with self.assertRaises(benchlib.TooFewSamples):
            benchlib.percentile([], 50)


class BacklogTest(unittest.TestCase):
    RATE = 1000

    def series(self, backlog):
        return [(i * 500.0, b) for i, b in enumerate(backlog)]

    def test_steady_backlog_is_sustained(self):
        noisy = [400, 650, 380, 700, 420, 610, 390, 720, 450, 600, 410, 690]
        self.assertFalse(benchlib.backlog_grows(self.series(noisy), self.RATE))

    def test_rate_above_capacity_grows(self):
        # input 1000 rows/s, engine drains 800 rows/s: +100 rows per 500 ms batch
        growing = [500 + 100 * i for i in range(40)]
        self.assertTrue(benchlib.backlog_grows(self.series(growing), self.RATE))

    def test_one_slow_batch_is_not_growth(self):
        spike = [500] * 10 + [3000] + [500] * 10
        self.assertFalse(benchlib.backlog_grows(self.series(spike), self.RATE))

    def test_too_short_to_judge(self):
        self.assertFalse(benchlib.backlog_grows(self.series([1, 2, 3]), self.RATE))


def batch_result(digest_ok=True, n=60):
    ops = [{"client": 0, "pass": -1, "index": 0, "query": "q", "start_ms": 0.0,
            "end_ms": 5.0, "ok": True, "error": "", "digest": "1:1", "cold": True}]
    for i in range(n):
        ok = digest_ok or i != 3
        ops.append({"client": i % 2, "pass": i, "index": 0, "query": "q",
                    "start_ms": 1000.0 + i, "end_ms": 1010.0 + 2 * i, "ok": ok,
                    "error": "" if ok else "digest 1:2 != expected 1:1",
                    "digest": "1:1", "cold": False})
    return {"ops": ops, "setup_end_ms": 1000.0, "measured_end_ms": 3000.0, "datagen_ms": 0.0,
            "queries_per_pass": 1, "clients": 2, "scale_factor": 0.01, "peak_rss_mb": 1.0}


class BatchMetricsTest(unittest.TestCase):
    def test_metrics(self):
        m, attempted, failed, errors, _ = benchlib.batch_metrics(batch_result(), 0.0)
        self.assertEqual((attempted, failed, errors), (61, 0, []))
        self.assertAlmostEqual(m["setup_s"], 1.0)
        self.assertAlmostEqual(m["throughput_per_s"], 30.0)
        self.assertEqual(set(m), set(benchlib.END_TO_END))

    def test_digest_mismatch_is_a_failure(self):
        _, _, failed, errors, _ = benchlib.batch_metrics(batch_result(digest_ok=False), 0.0)
        self.assertEqual(failed, 1)
        self.assertTrue(any("digest" in e for e in errors))

    def test_too_few_operations_fail_loudly(self):
        m, _, _, errors, _ = benchlib.batch_metrics(batch_result(n=40), 0.0)
        self.assertNotIn("latency_ms.p80", m)
        self.assertTrue(any("p80" in e for e in errors))


if __name__ == "__main__":
    unittest.main()
