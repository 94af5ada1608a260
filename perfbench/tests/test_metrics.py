"""Unit tests of the benchmark's metric arithmetic.

Run: python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_percentile_follows_sample_count(self):
        # n samples: the (n-10)-th smallest, i.e. the 100*(n-10)/n-th percentile
        for n, pct in ((11, 100 / 11), (12, 100 * 2 / 12), (40, 75.0), (100, 90.0), (1000, 99.0)):
            values = list(range(1, n + 1))
            value, p, count = metrics.tail(values)
            self.assertEqual(count, n)
            self.assertAlmostEqual(p, pct)
            self.assertEqual(value, n - 10)
            self.assertEqual(sum(v > value for v in values), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12])[0], 2)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail(list(range(10)))


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [
            {"trace": "a", "id": "a", "parent": "", "start_ms": 0.0, "end_ms": 100.0},
            {"trace": "a", "id": "a/b", "parent": "a", "start_ms": 10.0, "end_ms": 40.0},
            {"trace": "a", "id": "a/c", "parent": "a", "start_ms": 30.0, "end_ms": 60.0},
            {"trace": "a", "id": "a/j", "parent": "a/b", "start_ms": 5.0, "end_ms": 20.0},
        ]
        self_ms = {s["id"]: s["self_ms"] for s in metrics.self_times(spans)}
        self.assertEqual(self_ms, {"a": 50.0, "a/b": 20.0, "a/c": 30.0, "a/j": 15.0})


class EndToEndTest(unittest.TestCase):
    def test_metrics_from_samples(self):
        actions = [{"name": f"q{i}", "wall_s": float(i), "rows": 2, "error": None, "etl": {}}
                   for i in range(1, 13)]
        result = {
            "setups": [{"start_s": 1.0, "tables_s": 1.0, "warmup_s": x} for x in (9.0, 1.0, 2.0)],
            "passes": [{"wall_s": 80.0, "cpu_s": 200.0, "actions": actions}],
            "peak_rss_mb": 1000.0,
        }
        m, info = metrics.end_to_end(result)
        self.assertEqual(m["setup_s"], 4.0)
        self.assertEqual(m["action_p50_s"], 6.5)
        self.assertEqual(m["action_tail_s"], 2.0)
        self.assertEqual(info["action_samples"], 12)
        self.assertAlmostEqual(m["records_per_s"], 24 / 80.0)


if __name__ == "__main__":
    unittest.main()
