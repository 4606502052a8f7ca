"""Self-tests of the benchmark's helpers: python3 -m unittest discover perfbench"""
import json
import os
import unittest

import report
import stats


class PercentileTest(unittest.TestCase):
    def test_reports_value_and_count(self):
        self.assertEqual(stats.percentile(range(1, 101), 0.9), (90, 100))
        self.assertEqual(stats.percentile(range(1, 21), 0.5), (10, 20))

    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(1, 100), 0.9)  # 99 samples: 9 beyond p90
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(1, 20), 0.5)

    def test_order_does_not_matter(self):
        xs = list(range(200))
        self.assertEqual(stats.percentile(reversed(xs), 0.9), stats.percentile(xs, 0.9))


class DueTimeTest(unittest.TestCase):
    order = [3, 0, 4, 1, 2]

    def test_warm_drops_have_no_due_time(self):
        self.assertIsNone(stats.due_time_ms(3, self.order, 1000, 100, warm_drops=2))
        self.assertIsNone(stats.due_time_ms(0, self.order, 1000, 100, warm_drops=2))

    def test_due_time_follows_offer_position(self):
        self.assertEqual(stats.due_time_ms(4, self.order, 1000, 100, warm_drops=2), 1000)
        self.assertEqual(stats.due_time_ms(1, self.order, 1000, 100, warm_drops=2), 1100)
        self.assertEqual(stats.due_time_ms(2, self.order, 1000, 100, warm_drops=2), 1200)


class OverloadTest(unittest.TestCase):
    def test_backlog_counts_offered_minus_committed(self):
        moved = [0, 100, 200, 300]
        got = stats.backlog_series(moved, [150, 350], [500, 1000], rows_per_drop=500)
        self.assertEqual(got, [(150, 1), (350, 1)])

    def test_steady_backlog_is_not_overloaded(self):
        backlog = [(t, 3) for t in range(12)]
        self.assertFalse(stats.overloaded(backlog, p90_s=2.0))

    def test_growing_backlog_is_overloaded(self):
        backlog = [(t, 2 * t) for t in range(12)]
        self.assertTrue(stats.overloaded(backlog, p90_s=2.0))

    def test_p90_over_limit_is_overloaded(self):
        self.assertTrue(stats.overloaded([(0, 1)], p90_s=5.5))
        self.assertFalse(stats.overloaded([(0, 1)], p90_s=4.9))


class SpanTest(unittest.TestCase):
    spans = [
        {"id": 1, "parent": 0, "name": "pass", "start": 0, "end": 100},
        {"id": 2, "parent": 1, "name": "a", "start": 10, "end": 40},
        {"id": 3, "parent": 1, "name": "b", "start": 30, "end": 60},
        {"id": 4, "parent": 3, "name": "c", "start": 35, "end": 50},
        {"id": 5, "parent": 1, "name": "late", "start": 90, "end": 120},
    ]

    def test_self_time_subtracts_the_union_of_children(self):
        # children cover 10-60 and 90-100 (clipped): 60 of 100
        self.assertEqual(stats.self_time(self.spans[0], self.spans), 40)
        self.assertEqual(stats.self_time(self.spans[2], self.spans), 15)
        self.assertEqual(stats.self_time(self.spans[3], self.spans), 15)

    def test_jobs_go_to_their_span_or_the_innermost_by_time(self):
        jobs = [{"id": 0, "span": 2, "start": 20},   # carried id, inside
                {"id": 1, "span": -1, "start": 36},  # pool thread: innermost is c
                {"id": 2, "span": 2, "start": 70},   # stale id: by time, pass
                {"id": 3, "span": -1, "start": 130}]  # outside every span
        self.assertEqual(stats.attribute_jobs(jobs, self.spans), {0: 2, 1: 4, 2: 1, 3: None})

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([]), 0)


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_the_report(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]], list(report.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
