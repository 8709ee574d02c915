"""Tests of the benchmark's metric arithmetic on synthetic inputs.

Run from the repository root:  python3 -m unittest discover -s perfbench
"""
import math
import unittest

import metrics


class PercentileRule(unittest.TestCase):
    def test_highest_supported_keeps_ten_samples_beyond(self):
        self.assertIsNone(metrics.highest_supported(19))
        self.assertEqual(metrics.highest_supported(20), 50)
        self.assertEqual(metrics.highest_supported(100), 90)
        self.assertEqual(metrics.highest_supported(1000), 99)
        self.assertEqual(metrics.highest_supported(999), 98)
        for n in (20, 57, 100, 1000, 12345):
            p = metrics.highest_supported(n)
            self.assertGreaterEqual(n * (1 - p / 100.0), 10 - 1e-9)

    def test_tail_lowers_an_unsupported_percentile(self):
        xs = list(range(1, 101))  # 100 samples support p90, not p99
        value, used = metrics.tail(xs, 99)
        self.assertEqual(used, 90)
        self.assertAlmostEqual(value, metrics.percentile(xs, 90))
        value, used = metrics.tail(list(range(2000)), 99)
        self.assertEqual(used, 99)

    def test_percentile_interpolates_and_handles_inf(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([5], 99), 5)
        self.assertEqual(metrics.percentile([1, math.inf, math.inf], 99),
                         math.inf)


class LatencyJoin(unittest.TestCase):
    LOG = [
        ["v1",
         '{"path":"file:///in/qz/qz-000001-1000.txt","timestamp":1,"batchId":0}',
         '{"path":"file:///in/qz/qz-000002-1500.txt","timestamp":2,"batchId":1}'],
        # a compacted log file repeats earlier entries
        ["v1",
         '{"path":"file:///in/qz/qz-000001-1000.txt","timestamp":1,"batchId":0}',
         '{"path":"file:///in/qz/qz-000003-2000.txt","timestamp":3,"batchId":1}'],
    ]

    def test_source_log_maps_each_file_to_its_first_batch(self):
        self.assertEqual(metrics.source_log_batches(self.LOG), {
            "qz-000001-1000.txt": 0, "qz-000002-1500.txt": 1,
            "qz-000003-2000.txt": 1})

    def test_commit_time_is_trigger_start_plus_trigger_execution(self):
        progress = [
            {"id": "q", "batchId": 0, "timestamp": "1970-01-01T00:00:03.000Z",
             "durationMs": {"triggerExecution": 400, "addBatch": 300}},
            {"id": "other", "batchId": 0,
             "timestamp": "1970-01-01T00:00:09.000Z",
             "durationMs": {"triggerExecution": 1, "addBatch": 1}},
            {"id": "q", "batchId": 1, "timestamp": "1970-01-01T00:00:06.000Z",
             "durationMs": {"triggerExecution": 2500, "addBatch": 2000}},
            # an idle trigger names the next batch id but commits nothing
            {"id": "q", "batchId": 2, "timestamp": "1970-01-01T00:00:12.000Z",
             "durationMs": {"triggerExecution": 2, "latestOffset": 2}},
        ]
        self.assertEqual(metrics.commit_times(progress, "q"),
                         {0: 3400.0, 1: 8500.0})

    def test_a_restart_drops_the_set_up_triggers(self):
        progress = [{"id": "q", "batchId": b, "timestamp": ts}
                    for b, ts in ((0, "1970-01-01T00:00:03.000Z"),
                                  (1, "1970-01-01T00:00:09.500Z"),
                                  (2, "1970-01-01T00:00:12.000Z"))]
        self.assertEqual(
            [p["batchId"] for p in metrics.since_restart(progress, 9500.0)],
            [1, 2])
        self.assertEqual(metrics.since_restart(progress, None), progress)

    def test_each_record_waits_from_its_due_time_to_its_commit(self):
        files = [{"name": "qz-000001-1000.txt", "due_ms": 1000, "lines": 2},
                 {"name": "qz-000002-1500.txt", "due_ms": 1500, "lines": 1},
                 {"name": "qz-000004-2500.txt", "due_ms": 2500, "lines": 3}]
        batch_of = metrics.source_log_batches(self.LOG)
        lat, missing = metrics.record_latencies(
            files, batch_of, {0: 3400.0, 1: 8500.0})
        self.assertEqual(lat[:3], [2400.0, 2400.0, 7000.0])
        # the never-committed file counts as over any limit
        self.assertEqual(lat[3:], [math.inf] * 3)
        self.assertEqual(missing, 3)
        lat, _ = metrics.record_latencies(files[:1], batch_of, {0: 3400.0},
                                          origin_ms=3000)
        self.assertEqual(lat, [400.0, 400.0])

    def test_backlog_counts_written_but_uncommitted_records(self):
        files = [{"name": "qz-000001-1000.txt", "due_ms": 1000, "lines": 2},
                 {"name": "qz-000002-1500.txt", "due_ms": 1500, "lines": 1},
                 {"name": "qz-000004-2500.txt", "due_ms": 2500, "lines": 3}]
        batch_of = metrics.source_log_batches(self.LOG)
        commits = {0: 3400.0, 1: 8500.0}
        self.assertEqual(metrics.backlog_rows(files, batch_of, commits, 3000),
                         6)
        self.assertEqual(metrics.backlog_rows(files, batch_of, commits, 5000),
                         4)
        self.assertEqual(metrics.backlog_rows(files, batch_of, commits, 9000),
                         3)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_ms([(0, 4), (2, 6), (8, 12)], 1, 10),
                         7)
        self.assertEqual(metrics.union_ms([], 0, 5), 0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "streaming", "start_ms": 0,
             "end_ms": 1000},
            {"id": 2, "parent": 1, "layer": "streaming", "start_ms": 0,
             "end_ms": 800},
            {"id": 3, "parent": 2, "layer": "KeyedUpsertSink",
             "start_ms": 100, "end_ms": 700},
            # overlapping children are not double-subtracted
            {"id": 4, "parent": 1, "layer": "sources", "start_ms": 700,
             "end_ms": 900},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["KeyedUpsertSink"], 0.6)
        self.assertAlmostEqual(st["sources"], 0.2)
        # trigger self 0.1 s + addBatch self 0.2 s
        self.assertAlmostEqual(st["streaming"], 0.3)

    def test_trigger_spans_follow_execution_order_and_take_upserts(self):
        progress = [{"id": "q", "batchId": 7,
                     "timestamp": "1970-01-01T00:00:01.000Z",
                     "durationMs": {"triggerExecution": 1000,
                                    "latestOffset": 50, "walCommit": 50,
                                    "queryPlanning": 100, "addBatch": 700,
                                    "commitOffsets": 50}}]
        n = iter(range(100, 200))
        spans = metrics.trigger_spans(progress, "q", "j2", lambda: next(n))
        # 50 ms no part reports sits between queryPlanning and addBatch
        add = [s for s in spans if s["name"] == "j2.addBatch"][0]
        self.assertEqual((add["start_ms"], add["end_ms"]), (1250.0, 1950.0))
        plan = [s for s in spans if s["name"] == "j2.queryPlanning"][0]
        self.assertEqual((plan["start_ms"], plan["end_ms"]), (1100.0, 1200.0))
        up = {"id": 1, "parent": 0, "name": "KeyedUpsertSink.upsert",
              "layer": "KeyedUpsertSink", "start_ms": 1220.0,
              "end_ms": 1890.0, "batch_id": 7}
        spans.append(up)
        metrics.link_upserts(spans)
        self.assertEqual(up["parent"], add["id"])
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["KeyedUpsertSink"], 0.67)
        self.assertAlmostEqual(st["sources"], 0.05)
        # the trigger's unreported 50 ms, walCommit, queryPlanning,
        # commitOffsets, and addBatch less the 640 ms of the upsert that
        # falls inside it
        self.assertAlmostEqual(st["streaming"],
                               (50 + 50 + 100 + 50 + 60) / 1e3)


if __name__ == "__main__":
    unittest.main()
