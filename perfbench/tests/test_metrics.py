"""Latency attribution from synthetic progress events."""
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import metrics as M  # noqa: E402


def progress(batch_id, start, end, ts, trigger_ms, rows=1):
    return {"batchId": batch_id, "timestamp": ts, "numInputRows": rows,
            "durationMs": {"addBatch": 1, "triggerExecution": trigger_ms},
            "sources": [{"startOffset": start, "endOffset": end}]}


class AttributionTest(unittest.TestCase):
    def setUp(self):
        # chunk 0..1 in batch 0, chunk 2 in batch 1, chunks 3..4 in batch 2;
        # an idle report (no addBatch) and a no-data batch must be ignored
        self.events = [
            progress(0, None, 1, "2026-01-01T00:00:00.100Z", 50),
            progress(1, 1, 2, "2026-01-01T00:00:00.150Z", 100),
            {"batchId": 2, "timestamp": "2026-01-01T00:00:00.250Z", "numInputRows": 0,
             "durationMs": {"triggerExecution": 1, "latestOffset": 1},
             "sources": [{"startOffset": 2, "endOffset": 2}]},
            progress(2, "2", "4", "2026-01-01T00:00:00.300Z", 200),
        ]
        self.t0 = M.iso_ms("2026-01-01T00:00:00.000Z")

    def test_batches_read_offsets_and_completion(self):
        bs = M.batches_of(self.events)
        self.assertEqual([(b["start"], b["end"]) for b in bs], [(-1, 1), (1, 2), (2, 4)])
        self.assertEqual([b["done"] - self.t0 for b in bs], [150.0, 250.0, 500.0])

    def test_each_chunk_gets_the_batch_that_read_it(self):
        done = M.chunk_done(6, M.batches_of(self.events)) - self.t0
        np.testing.assert_array_equal(done[:5], [150.0, 150.0, 250.0, 500.0, 500.0])
        self.assertTrue(np.isnan(done[5]))  # never read: counts as lost

    def test_event_latency_runs_from_due_time(self):
        done = M.chunk_done(5, M.batches_of(self.events))
        # 1000 ev/s, two events per chunk: event j is due at j ms
        due = self.t0 + np.arange(11.0)
        chunk_of = [0, 0, 1, 1, 2, 2, 3, 3, 4, 4, -1]
        lat = M.event_latency(due, chunk_of, done)
        np.testing.assert_allclose(lat[:10], [150, 149, 148, 147, 246, 245, 494, 493, 492, 491])
        self.assertTrue(np.isnan(lat[10]))  # never sent

    def test_percentiles_ignore_nan_and_geomean_weighs_rates_alike(self):
        self.assertEqual(M.pct([1.0, np.nan, 3.0], 50), 2.0)
        self.assertAlmostEqual(M.geomean([100.0, 400.0]), 200.0)

    def test_backlog_slope(self):
        self.assertAlmostEqual(M.slope([0, 1000, 2000], [0, 50, 100]), 50.0)


if __name__ == "__main__":
    unittest.main()
