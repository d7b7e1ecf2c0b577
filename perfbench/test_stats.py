"""Unit tests for the benchmark's statistics code.

Run from the repository root:  python3 -m unittest perfbench/test_stats.py
(`python3 perfbench/run.py --self-test` runs these and the JVM-side
checksum tests.)
"""

import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_percentile_leaves_ten_samples_beyond(self):
        for n in range(21, 2000, 7):
            p = stats.tail_percentile(n)
            self.assertIsNotNone(p, n)
            values = list(range(n))
            pct, value, beyond = stats.tail(values)
            self.assertEqual(pct, p)
            self.assertGreaterEqual(beyond, stats.TAIL_BEYOND, n)
            self.assertEqual(beyond, sum(1 for v in values if v > value))
            # one percent higher would leave fewer than ten beyond
            if p < 99:
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, stats.TAIL_BEYOND, n)

    def test_known_points(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90, 10))

    def test_too_few_samples_reports_median_only(self):
        self.assertIsNone(stats.tail_percentile(20))
        self.assertIsNone(stats.tail([1.0] * 12))
        self.assertIsNone(stats.tail([]))
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)

    def test_order_of_samples_does_not_matter(self):
        values = [random.Random(7).random() for _ in range(57)]
        shuffled = values[:]
        random.Random(8).shuffle(shuffled)
        self.assertEqual(stats.tail(values), stats.tail(shuffled))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        spans = [{"id": 1, "parent": None, "start": 0, "end": 10}]
        self.assertEqual(stats.self_times(spans), {1: 10})

    def test_overlapping_children_count_once(self):
        spans = [
            {"id": 1, "parent": None, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 40},
            {"id": 3, "parent": 1, "start": 30, "end": 60},   # overlaps 2
            {"id": 4, "parent": 1, "start": 35, "end": 50},   # inside 3
            {"id": 5, "parent": 1, "start": 90, "end": 120},  # sticks out
        ]
        st = stats.self_times(spans)
        # covered inside the parent: [10,60] and [90,100] -> 60
        self.assertEqual(st[1], 40)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[5], 30)

    def test_grandchildren_only_reduce_their_own_parent(self):
        spans = [
            {"id": "op", "parent": None, "start": 0, "end": 50,
             "name": "op.read"},
            {"id": "q", "parent": "op", "start": 5, "end": 45,
             "name": "queries.run"},
            {"id": "j", "parent": "q", "start": 10, "end": 30,
             "name": "scheduler.job"},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st, {"op": 10, "q": 20, "j": 20})
        self.assertEqual(stats.self_time_by_layer(spans),
                         {"op": 10, "queries": 20, "scheduler": 20})

    def test_disjoint_children_partition_the_parent(self):
        rng = random.Random(3)
        cuts = sorted(rng.uniform(0, 1000) for _ in range(20))
        spans = [{"id": 0, "parent": None, "start": 0.0, "end": 1000.0}]
        for i in range(0, len(cuts), 2):
            spans.append({"id": i + 1, "parent": 0, "start": cuts[i],
                          "end": cuts[i + 1]})
        st = stats.self_times(spans)
        self.assertAlmostEqual(sum(st.values()), 1000.0)


class Spread(unittest.TestCase):
    def test_quartile_spread(self):
        self.assertEqual(stats.quartile_spread([10.0] * 10), 0.0)
        self.assertAlmostEqual(
            stats.quartile_spread([9, 10, 10, 10, 11, 9, 10, 10, 10, 11]),
            0.05)


class MetricNames(unittest.TestCase):
    """run.py prints exactly the metrics BENCHMARK.json declares."""

    def test_names_match_benchmark_json(self):
        import json
        import run
        path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        summary = {"setup_s": 1.0, "peak_rss_mb": 1.0, "gauges": {}}
        ops = [{"i": 0, "kind": "read", "name": "x", "ms": 5.0, "rows": 1,
                "ok": True, "c": {}}]
        e2e, _ = run.end_to_end(ops, summary)
        layers = run.per_layer(ops, [], summary)
        self.assertEqual(sorted(e2e), sorted(
            m["name"] for m in bench["end_to_end"]))
        self.assertEqual(sorted(layers), sorted(
            m["name"] for m in bench["per_layer"]))
        for m in bench["end_to_end"] + bench["per_layer"]:
            unit = (e2e.get(m["name"]) or layers.get(m["name"]))[1]
            self.assertEqual(unit, m["unit"], m["name"])


if __name__ == "__main__":
    unittest.main()
