"""Seeded wire-format trade generator and the reference bar fold.

The program under test only ever sees the JSON strings made here; the
arrays kept beside them let the benchmark recompute every final bar
independently of the program.
"""
import numpy as np

MINUTE_MS = 60_000
# First event time of every step: 3 s before a minute boundary, so every
# open window closes at the same offset into each step, in every run.
BASE_MS = 1_700_000_040_000 - 3_000


class Query:
    """Input of one streaming query. Segment `seg[j]` of the schedule
    offers event `j` at `due_ms[j]` after the generator starts; the
    generator appends events `bounds[k]` to `bounds[k + 1]` at tick `k`."""

    def __init__(self, **kw):
        self.__dict__.update(kw)


def _zipf_ranks(rng, n_keys, n):
    cdf = np.cumsum(1.0 / np.arange(1, n_keys + 1))
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), n_keys - 1)


def schedule(segments, tick_ms):
    """Due times of an open-loop schedule of (name, rate, seconds)
    segments, and the chunk bounds for ticks of `tick_ms`. Event time
    offsets are floor(due), and chunk k holds dues in [k, k + 1) ticks, so
    a chunk never shares a millisecond of event time with another."""
    dues, seg, starts = [], [], []
    t = 0.0
    for i, (_, rate, seconds) in enumerate(segments):
        n = int(round(rate * seconds))
        starts.append(t)
        dues.append(t + np.arange(n) * 1000.0 / rate)
        seg.append(np.full(n, i))
        t += seconds * 1000.0
    due = np.concatenate(dues) if dues else np.zeros(0)
    ticks = int(np.ceil(t / tick_ms))
    bounds = np.searchsorted(due, np.arange(ticks + 1) * float(tick_ms), side="left")
    return due, np.concatenate(seg).astype(np.int64), np.array(starts), bounds


def make_query(seed, index, segments, profile, tick_ms=5, base_ms=BASE_MS):
    """Events of one query. The same arguments always give the same strings."""
    rng = np.random.default_rng([seed, index])
    due, seg, starts, bounds = schedule(segments, tick_ms)
    n = len(due)
    j = np.arange(n, dtype=np.int64)
    ts = base_ms + index * 10 * MINUTE_MS + np.floor(due).astype(np.int64)
    keys = profile["products"]
    if profile.get("zipf"):
        perm = np.random.default_rng([seed, 7919]).permutation(keys)
        product = perm[_zipf_ranks(rng, keys, n)]
    else:
        product = rng.integers(0, keys, n)
    if profile.get("ooo_frac"):
        late = rng.random(n) < profile["ooo_frac"]
        ts = ts - np.where(late, rng.integers(1, profile["ooo_max_ms"] + 1, n), 0)
    instr = rng.integers(0, profile["instruments"], n)
    cents = rng.integers(100, 100_001, n)  # price 1.00 .. 1000.00
    qty = rng.integers(1, 101, n)
    malformed = rng.random(n) < profile.get("malformed_frac", 0.0)
    valid = ~malformed
    # (product, ts, instrument) must be unique among valid events, or
    # open/close between exact ties would depend on arrival order.
    for _ in range(50):
        key = (product.astype(np.int64) * (1 << 42) + (ts - base_ms + (1 << 30))) * 128 + instr
        key = np.where(valid, key, -1 - j)
        _, first = np.unique(key, return_index=True)
        dup = np.ones(n, dtype=bool)
        dup[first] = False
        if not dup.any():
            break
        instr[dup] = rng.integers(0, profile["instruments"], int(dup.sum()))
    else:
        raise RuntimeError("could not make (product, ts, instrument) unique")

    tsl, pl, il, cl, ql = ts.tolist(), product.tolist(), instr.tolist(), cents.tolist(), qty.tolist()
    lines = [
        '{"timestamp":%d,"instrument_id":"I%d","product":"P%d","price":%d.%02d,"qty":%d}'
        % (tsl[i], il[i], pl[i], cl[i] // 100, cl[i] % 100, ql[i])
        for i in range(n)
    ]
    bad = np.flatnonzero(malformed).tolist()
    for k, i in enumerate(bad):
        if k % 2 == 0:  # a required field missing
            lines[i] = '{"timestamp":%d,"instrument_id":"I%d","product":"P%d","price":%d.%02d}' % (
                tsl[i], il[i], pl[i], cl[i] // 100, cl[i] % 100)
        else:  # not JSON at all
            lines[i] = lines[i][: len(lines[i]) // 2]
    return Query(segments=segments, due_ms=due, seg=seg, seg_start_ms=starts, bounds=bounds,
                 lines=lines, valid=valid, product=product, ts=ts, instr=instr,
                 price=cents / 100.0, qty=qty, n_malformed=len(bad),
                 sentinels=sentinels(index, base_ms))


def sentinels(index, base_ms=BASE_MS):
    """Two events far ahead in event time on a product no step uses: the
    first moves the watermark past every open window, the second makes the
    engine run the batch that fires them."""
    t = base_ms + index * 10 * MINUTE_MS + 9 * MINUTE_MS
    return ['{"timestamp":%d,"instrument_id":"I0","product":"SENTINEL","price":1.00,"qty":1}' % (t + d)
            for d in (0, 1)]


def reference_bars(product, ts, instr, price, qty, width_ms=MINUTE_MS):
    """Final bar of every (product, window): open/close are the prices of
    the earliest/latest event by (event time, instrument id string),
    high/low the extremes, volume the sum of qty.

    Returns {("P<id>", window_start_ms): (open, high, low, close, volume)}.
    """
    ws = ts // width_ms * width_ms
    instr_s = np.array(["I%d" % i for i in range(int(instr.max()) + 1 if len(instr) else 1)])[instr]
    order = np.lexsort((instr_s, ts, ws, product))
    p, w, pr, q = product[order], ws[order], price[order], qty[order]
    if len(p) == 0:
        return {}
    brk = np.flatnonzero((p[1:] != p[:-1]) | (w[1:] != w[:-1])) + 1
    starts = np.concatenate(([0], brk))
    ends = np.concatenate((brk, [len(p)])) - 1
    hi = np.maximum.reduceat(pr, starts)
    lo = np.minimum.reduceat(pr, starts)
    vol = np.add.reduceat(q, starts)
    return {("P%d" % p[s], int(w[s])): (float(pr[s]), float(hi[i]), float(lo[i]), float(pr[e]), int(vol[i]))
            for i, (s, e) in enumerate(zip(starts.tolist(), ends.tolist()))}
