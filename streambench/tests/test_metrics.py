"""Latency, freshness and percentile arithmetic on a synthetic file →
micro-batch map (the decoded checkpoint) and commit log.

    python3 -m unittest discover -s streambench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_weighted(self):
        s = [(10, 1), (20, 1), (30, 1), (40, 1)]
        self.assertEqual(metrics.percentile(s, 0.5), 20)
        self.assertEqual(metrics.percentile(s, 0.9), 40)
        # weight moves the rank: three events at 10 ms, one at 100 ms
        self.assertEqual(metrics.percentile([(100, 1), (10, 3)], 0.5), 10)
        self.assertEqual(metrics.percentile([(100, 1), (10, 3)], 0.9), 100)
        self.assertEqual(metrics.percentile([], 0.5), 0.0)


class CommitLogTest(unittest.TestCase):
    def test_commit_times_of_one_app(self):
        hist = [{"version": 0, "txn_app": None, "txn_batch": None, "commit_ms": 0},
                {"version": 1, "txn_app": "silver-churn", "txn_batch": 0, "commit_ms": 1500},
                {"version": 2, "txn_app": "other", "txn_batch": 1, "commit_ms": 1600},
                {"version": 3, "txn_app": "silver-churn", "txn_batch": 1, "commit_ms": 2500}]
        self.assertEqual(metrics.commit_times(hist, "silver-churn"), {0: (1, 1500), 1: (3, 2500)})


def synthetic_raw():
    """Two backlog files drained at t=0..2000, then three steady files due at
    10000, 10100, 10200 ms (the window is [10000, 10200)); churn events only,
    the other entities are empty."""
    files = [
        {"name": "p0", "phase": "catchup", "due_ms": 0, "published_ms": 0, "bytes": 100, "counts": {"churn": 1000}},
        {"name": "p1", "phase": "catchup", "due_ms": 0, "published_ms": 0, "bytes": 100, "counts": {"churn": 1000}},
        {"name": "p2", "phase": "steady", "due_ms": 10000, "published_ms": 10003, "bytes": 10, "counts": {"churn": 3}},
        {"name": "p3", "phase": "steady", "due_ms": 10100, "published_ms": 10101, "bytes": 10, "counts": {"churn": 1}},
        {"name": "p4", "phase": "steady", "due_ms": 10200, "published_ms": 10200, "bytes": 10, "counts": {"churn": 2}},
    ]
    batches = {e: {} for e in metrics.ENTITIES}
    batches["churn"] = {"p0": 0, "p1": 1, "p2": 2, "p3": 2, "p4": 3}
    hist = {e: [] for e in metrics.ENTITIES}
    hist["churn"] = [
        {"version": 1, "txn_app": "silver-churn", "txn_batch": 0, "commit_ms": 1000},
        {"version": 2, "txn_app": "silver-churn", "txn_batch": 1, "commit_ms": 2000},
        {"version": 3, "txn_app": "silver-churn", "txn_batch": 2, "commit_ms": 10500},
        {"version": 4, "txn_app": "silver-churn", "txn_batch": 3, "commit_ms": 11000},
    ]
    return {
        "files": files, "file_batches": batches, "history": hist,
        "app_ids": {e: f"silver-{e}" for e in metrics.ENTITIES},
        "catchup_ms": [0, 2000], "window_ms": [10000, 10200], "steady_ms": [9800, 12500],
        "gold": [{"start_ms": 10600, "end_ms": 10800, "versions": {"churn": 3}},
                 {"start_ms": 11000, "end_ms": 11900, "versions": {"churn": 4}}],
    }


class StreamMetricsTest(unittest.TestCase):
    def test_throughput_averages_leg_drain_times(self):
        raw = synthetic_raw()
        # a second leg drains the same two backlog files by t=4000
        raw["files"][0]["counts"]["usage"] = 500
        raw["files"][1]["counts"]["usage"] = 500
        raw["file_batches"]["usage"] = {"p0": 0, "p1": 0}
        raw["history"]["usage"] = [
            {"version": 1, "txn_app": "silver-usage", "txn_batch": 0, "commit_ms": 4000}]
        m, offered, failed, rows = metrics.stream_metrics(raw)
        # 3000 backlog events over the legs' mean drain time (2 s + 4 s) / 2
        self.assertEqual(m["throughput_per_s"], 1000.0)

    def test_latency_freshness_throughput(self):
        m, offered, failed, rows = metrics.stream_metrics(synthetic_raw())
        # window events: p2 (3 events, due 10000) and p3 (1, due 10100), both
        # committed at 10500 -> latencies 500 (x3) and 400 (x1)
        self.assertEqual(m["latency_p50_ms"], 500)
        self.assertEqual(m["latency_p90_ms"], 500)
        # the first refresh reading churn >= v3 ends at 10800
        self.assertEqual(m["freshness_p50_ms"], 800)
        # 2000 backlog events committed 2 s after the catch-up start
        self.assertEqual(m["throughput_per_s"], 1000.0)
        self.assertEqual((offered, failed), (2006, 0))

    def test_uncommitted_events_fail(self):
        raw = synthetic_raw()
        raw["history"]["churn"] = raw["history"]["churn"][:3]  # batch 3 never commits
        m, offered, failed, rows = metrics.stream_metrics(raw)
        self.assertEqual(failed, 2)
        self.assertEqual(metrics.backlog_max(
            [f for f in raw["files"] if f["phase"] == "steady"],
            [r for r in rows if r["file"] in ("p2", "p3", "p4")]), 6)

    def test_commit_rate_counts_from_the_first_commit(self):
        m, offered, failed, rows = metrics.stream_metrics(synthetic_raw())
        steady = [r for r in rows if r["file"] in ("p2", "p3", "p4")]
        # commits at 10500 (4 events) and 11000 (2 events): 2 events in 0.5 s
        self.assertEqual(metrics.commit_rate(steady, 10000, 11000), 4.0)
        # one commit in the span gives no rate
        self.assertEqual(metrics.commit_rate(steady, 10000, 10600), 0.0)

    def test_event_no_refresh_covered_counts_to_steady_end(self):
        raw = synthetic_raw()
        raw["gold"] = [{"start_ms": 10300, "end_ms": 10400, "versions": {"churn": 2}}]
        m, offered, failed, rows = metrics.stream_metrics(raw)
        # no Gold-leg refresh read churn v3: fresh no earlier than 12500
        self.assertEqual(m["freshness_p50_ms"], 2500)
        self.assertEqual(m["freshness_p90_ms"], 2500)

    def test_refresh_end_picks_first_covering_refresh(self):
        gold = [{"end_ms": 5, "versions": {"churn": 1}}, {"end_ms": 9, "versions": {"churn": 3}},
                {"end_ms": 7, "versions": {"churn": 2}}]
        self.assertEqual(metrics.refresh_end(gold, "churn", 2), 7)
        self.assertIsNone(metrics.refresh_end(gold, "churn", 4))


class MixMetricsTest(unittest.TestCase):
    def test_best_of_passes(self):
        execs = []
        for p in range(3):
            for q, ms, gold in (("a", 100 + p, False), ("b", 200 - p, True),
                                ("c", 400, True), ("d", 800 + 10 * p, False)):
                execs.append({"query": q, "ms": ms, "gold": gold, "ok": True, "pass": p})
        execs[-1]["ok"] = False  # pass 2 is not complete
        raw = {"execs": execs, "families": {q: "churn" for q in "abcd"}}
        m, attempted, failed = metrics.mix_metrics(raw)
        # fastest executions: a 100, b 198, c 400, d 800
        self.assertEqual(m["latency_p50_ms"], 198)
        self.assertEqual(m["latency_p90_ms"], 800)
        self.assertEqual(m["freshness_p50_ms"], 198)
        self.assertEqual(m["freshness_p90_ms"], 400)
        # complete passes take 1500 and 1510 ms: 4 queries / 1.5 s
        self.assertAlmostEqual(m["throughput_per_s"], 4 / 1.5)
        self.assertEqual((attempted, failed), (12, 1))


if __name__ == "__main__":
    unittest.main()
