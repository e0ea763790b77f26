"""Tests of the benchmark's bookkeeping rules (no JVM needed):

    python3 -m unittest perfbench/test_metrics.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def batch(bid, start, trig, rows):
    return [bid, start, trig, rows] + [0.0] * 9


class TailPercentile(unittest.TestCase):
    def test_highest_rung_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_too_few_samples_has_no_tail(self):
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertIsNone(metrics.tail_percentile(0))

    def test_tail_value_has_ten_samples_beyond_it(self):
        values = list(range(1, 101))
        p50, tail, pct = metrics.p50_tail(values)
        self.assertEqual((p50, tail, pct), (50, 90, 90.0))
        self.assertEqual(sum(v > tail for v in values), 10)

    def test_falls_back_to_the_median(self):
        p50, tail, pct = metrics.p50_tail([5.0, 1.0, 3.0])
        self.assertEqual((p50, tail, pct), (3.0, 3.0, 50.0))

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 75), 3)
        self.assertEqual(metrics.percentile([7], 99.9), 7)


class IngestLag(unittest.TestCase):
    def test_tranche_lands_in_the_batch_that_reaches_its_cumulative_rows(self):
        batches = [batch(0, 1000, 500, 100), batch(1, 2000, 400, 0), batch(2, 3000, 700, 300)]
        self.assertEqual(metrics.tranche_times(batches, 100, 5),
                         [1500, 3700, 3700, 3700, None])

    def test_batches_are_taken_in_id_order(self):
        batches = [batch(1, 3000, 100, 100), batch(0, 1000, 100, 100)]
        self.assertEqual(metrics.tranche_times(batches, 100, 2), [1100, 3100])

    def test_write_time_is_the_foreachbatch_write_end(self):
        batches = [batch(0, 1000, 500, 200)]
        writes = [[0, 1100, 1300]]
        self.assertEqual(metrics.tranche_times(batches, 100, 2, at="write", writes=writes),
                         [1300, 1300])

    def test_lag_is_commit_minus_due_for_tranches_due_in_window(self):
        tranches = [[0, 0.0, 5.0], [1, 1000.0, 1002.0], [2, 2000.0, 2001.0]]
        commits = [1500.0, 2500.0, None]
        self.assertEqual(metrics.ingest_lags(tranches, commits, (500.0, 3000.0)), [1500.0])
        self.assertEqual(metrics.ingest_lags(tranches, commits, (0.0, 3000.0)), [1500.0, 1500.0])


class BusyRate(unittest.TestCase):
    def test_rows_over_trigger_time_of_batches_committed_in_window(self):
        batches = [batch(0, 0.0, 900.0, 1000),      # commits before the window
                   batch(1, 1000.0, 500.0, 2000),   # in
                   batch(2, 2000.0, 250.0, 0),      # empty: no work
                   batch(3, 3000.0, 500.0, 1000),   # in
                   batch(4, 3800.0, 400.0, 9000)]   # commits after the window
        self.assertEqual(metrics.busy_rate(batches, (1000.0, 4000.0)), 3000 / 1.0)

    def test_idle_time_between_triggers_does_not_count(self):
        fast = [batch(i, 1000.0 * i, 100.0, 2500) for i in range(1, 5)]
        slow = [batch(i, 1000.0 * i, 500.0, 2500) for i in range(1, 5)]
        self.assertEqual(metrics.busy_rate(fast, (1000.0, 5000.0)), 25000.0)
        self.assertEqual(metrics.busy_rate(slow, (1000.0, 5000.0)), 5000.0)

    def test_no_batch_in_window(self):
        self.assertIsNone(metrics.busy_rate([batch(0, 0.0, 100.0, 10)], (1000.0, 2000.0)))


class Freshness(unittest.TestCase):
    def due_of(self, t):
        return 10000.0 + 1000.0 * t

    # calls: [dash, callIdx, due, sent, done, code, ok, rows]
    def test_answer_age_uses_the_store_as_the_answering_refresh_saw_it(self):
        visible = [10500.0, 11500.0, 12500.0, 13500.0]
        refreshes = [[11600.0, 12900.0, 1.0], [12900.0, 14200.0, 1.0]]
        calls = [
            [0, 0, 13000.0, 13000.0, 13010.0, 200, 1, 10],  # gen built at 11600: tranche 1
            [0, 0, 14500.0, 14500.0, 14504.0, 200, 1, 10],  # gen built at 12900: tranche 2
        ]
        out = metrics.freshness(calls, refreshes, visible, self.due_of, (12000.0, 15000.0), {0})
        self.assertEqual(out, [13010.0 - 11000.0, 14504.0 - 12000.0])

    def test_refresh_finishing_after_the_send_does_not_answer(self):
        visible = [10500.0, 11500.0]
        refreshes = [[11600.0, 13005.0, 1.0]]
        calls = [[0, 0, 13000.0, 13000.0, 13010.0, 200, 1, 10]]
        out = metrics.freshness(calls, refreshes, visible, self.due_of, (12000.0, 15000.0), {0})
        self.assertEqual(out, [13010.0 - self.due_of(-1)])

    def test_skips_failed_refreshes_failed_calls_and_system_calls(self):
        visible = [10500.0]
        refreshes = [[10600.0, 10700.0, 0.0]]
        calls = [[0, 0, 13000.0, 13000.0, 13010.0, 200, 1, 10],
                 [0, 0, 13000.0, 13000.0, 13010.0, 503, 0, -1],
                 [0, 5, 13000.0, 13000.0, 13010.0, 200, 1, 5]]
        out = metrics.freshness(calls, refreshes, visible, self.due_of, (12000.0, 15000.0), {0})
        self.assertEqual(out, [13010.0 - self.due_of(-1)])


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": "r", "name": "streaming.batch", "start_ms": 0.0, "end_ms": 100.0, "parent": None},
            {"id": "w", "name": "sources.export_write", "start_ms": 10.0, "end_ms": 60.0, "parent": "r"},
            {"id": "j1", "name": "scheduler.job", "start_ms": 20.0, "end_ms": 40.0, "parent": "w"},
            {"id": "j2", "name": "scheduler.job", "start_ms": 30.0, "end_ms": 50.0, "parent": "w"},
            {"id": "p", "name": "streaming.plan", "start_ms": 50.0, "end_ms": 70.0, "parent": "r"},
        ]
        layers, share = metrics.self_times(spans)
        self.assertAlmostEqual(layers["streaming"], (100 - 60) / 1000.0 + 0.020)
        self.assertAlmostEqual(layers["sources"], (50 - 30) / 1000.0)
        self.assertAlmostEqual(layers["scheduler"], 0.040)
        self.assertAlmostEqual(share, 0.40)


class BenchmarkFile(unittest.TestCase):
    def test_declares_exactly_the_metrics_the_runs_print(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         [(n, metrics.layer_unit(n)) for n in metrics.PER_LAYER])


if __name__ == "__main__":
    unittest.main()
