"""Generator determinism and the properties the output checks rely on."""
import json
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen  # noqa: E402

REF = dict(products=2000, instruments=100, malformed_frac=0.001)
WIDE = dict(products=200_000, instruments=100, zipf=True, ooo_frac=0.1, ooo_max_ms=4000)
SEGS = [("a", 2000, 1.0), ("b", 20_000, 0.5)]


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_strings(self):
        for prof in (REF, WIDE):
            a = gen.make_query(7, 3, SEGS, prof)
            b = gen.make_query(7, 3, SEGS, prof)
            self.assertEqual(a.lines, b.lines)
            np.testing.assert_array_equal(a.bounds, b.bounds)

    def test_other_seed_other_strings(self):
        self.assertNotEqual(gen.make_query(7, 3, SEGS, REF).lines,
                            gen.make_query(8, 3, SEGS, REF).lines)

    def test_schedule(self):
        q = gen.make_query(1, 0, SEGS, REF, tick_ms=5)
        self.assertEqual(len(q.lines), 2000 + 10_000)
        self.assertEqual(q.bounds[0], 0)
        self.assertEqual(q.bounds[-1], len(q.lines))
        # a chunk never shares a millisecond of event time with the next
        ms = np.floor(q.due_ms).astype(int)
        for k in range(len(q.bounds) - 2):
            lo, mid, hi = q.bounds[k], q.bounds[k + 1], q.bounds[k + 2]
            if lo < mid < hi:
                self.assertLess(ms[mid - 1], ms[mid])

    def test_wire_strings_match_arrays(self):
        q = gen.make_query(3, 1, SEGS, REF)
        bad = 0
        for i, line in enumerate(q.lines):
            if not q.valid[i]:
                bad += 1
                try:
                    rec = json.loads(line)
                    self.assertNotIn("qty", rec)
                except ValueError:
                    pass
                continue
            rec = json.loads(line)
            self.assertEqual(rec["timestamp"], q.ts[i])
            self.assertEqual(rec["product"], "P%d" % q.product[i])
            self.assertEqual(rec["instrument_id"], "I%d" % q.instr[i])
            self.assertEqual(rec["price"], q.price[i])
            self.assertEqual(rec["qty"], q.qty[i])
        self.assertEqual(bad, q.n_malformed)

    def test_ties_are_unique_and_disorder_bounded(self):
        q = gen.make_query(5, 2, [("x", 60_000, 1.0)], WIDE)
        keys = set(zip(q.product.tolist(), q.ts.tolist(), q.instr.tolist()))
        self.assertEqual(len(keys), len(q.lines))
        behind = gen.BASE_MS + 2 * 10 * gen.MINUTE_MS + np.floor(q.due_ms) - q.ts
        self.assertLessEqual(behind.max(), 4000)
        self.assertAlmostEqual(float(np.mean(behind > 0)), 0.1, delta=0.01)


class ReferenceFoldTest(unittest.TestCase):
    def test_hand_case(self):
        # two events share a timestamp: the lower instrument id string
        # ("I10" < "I9") opens, the higher closes
        product = np.array([1, 1, 1, 2])
        ts = np.array([60_500, 60_100, 60_100, 1000])
        instr = np.array([3, 9, 10, 0])
        price = np.array([5.0, 7.0, 6.0, 1.5])
        qty = np.array([1, 2, 3, 4])
        bars = gen.reference_bars(product, ts, instr, price, qty)
        self.assertEqual(bars, {("P1", 60_000): (6.0, 7.0, 5.0, 5.0, 6),
                                ("P2", 0): (1.5, 1.5, 1.5, 1.5, 4)})


if __name__ == "__main__":
    unittest.main()
