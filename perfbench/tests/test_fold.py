"""The reference fold that checks every streaming final bar, against the
program's batch engine `Ohlcv.bars` on a small batch of generated trades.

Builds the program like a benchmark run does (cached) and starts one JVM.
"""
import os
import sys
import tempfile
import time
import unittest
from pathlib import Path

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen  # noqa: E402
import run  # noqa: E402


class FoldAgainstOhlcvBarsTest(unittest.TestCase):
    def test_reference_fold_equals_ohlcv_bars(self):
        # 90 s at 200 ev/s over 50 products: two windows per product, with
        # out-of-order events and (ts, instrument) ties on a product
        q = gen.make_query(11, 0, [("x", 200, 90.0)],
                           dict(products=50, instruments=3, ooo_frac=0.3, ooo_max_ms=4000))
        ref = gen.reference_bars(q.product, q.ts, q.instr, q.price, q.qty)
        build_dir = (run.ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "perfbench"
        build_dir.mkdir(parents=True, exist_ok=True)
        classes = run.build(build_dir)
        with tempfile.TemporaryDirectory(dir=build_dir) as d:
            d = Path(d)
            with open(d / "trades.csv", "w") as f:
                f.write("timestamp,instrument_id,product,price,qty\n")
                for t, i, p, c, n in zip(q.ts.tolist(), q.instr.tolist(), q.product.tolist(),
                                         q.price.tolist(), q.qty.tolist()):
                    f.write("%d,I%d,P%d,%r,%d\n" % (t, i, p, c, n))
            run.run_jvm(classes, d, dict(mode="bars", out=d, trades=d / "trades.csv"),
                        time.time() + 170, meta=False)
            got = {}
            for line in (d / "bars.csv").read_text().splitlines():
                p, ws, o, h, l, c, v = line.split(",")
                got[(p, int(ws))] = (float(o), float(h), float(l), float(c), int(v))
        self.assertGreater(len({k[1] for k in ref}), 1)
        self.assertEqual(got, ref)
        # the data really has same-millisecond events on one product
        keys = list(zip(q.product.tolist(), q.ts.tolist()))
        self.assertLess(len(set(keys)), len(keys))
        self.assertTrue(np.all(q.valid))


if __name__ == "__main__":
    unittest.main()
