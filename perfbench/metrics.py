"""Latency attribution and summary statistics over what the JVM side
recorded: generator chunks, public `StreamingQueryProgress` JSON and the
sink's per-batch counts."""
import datetime
import json

import numpy as np


def iso_ms(s):
    """Epoch ms of a progress timestamp such as 2026-01-01T00:00:00.123Z."""
    d = datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=datetime.timezone.utc)
    return d.timestamp() * 1000.0


def _offset(v):
    """A MemoryStream offset as progress prints it: null before the first
    batch, else the index of the last chunk appended (0-based)."""
    if v is None:
        return -1
    if isinstance(v, str):
        v = json.loads(v)
    return int(v)


def batches_of(progress):
    """Data-carrying batches of one query, in order, with the chunk range
    (start, end] they read and their completion time."""
    out = []
    for p in progress:
        d = p["durationMs"]
        if "addBatch" not in d:
            continue  # idle progress report, no batch ran
        src = p["sources"][0]
        start, end = _offset(src.get("startOffset")), _offset(src.get("endOffset"))
        t0 = iso_ms(p["timestamp"])
        out.append(dict(id=p["batchId"], start=start, end=end, t0=t0,
                        done=t0 + d.get("triggerExecution", 0), p=p))
    out.sort(key=lambda b: b["id"])
    return out


def chunk_done(n_chunks, batches):
    """Completion time of the batch that read each chunk; NaN if none did."""
    done = np.full(n_chunks, np.nan)
    for b in batches:
        lo, hi = max(b["start"] + 1, 0), min(b["end"] + 1, n_chunks)
        if hi > lo:
            done[lo:hi] = np.where(np.isnan(done[lo:hi]), b["done"], done[lo:hi])
    return done


def event_latency(due, chunk_of, done):
    """Per-event latency, ms: from each event's due time (its place in the
    open-loop schedule) to the completion of the batch that read its chunk
    and so emitted its running bar. NaN where the event was never read;
    `chunk_of` is -1 for an event never sent."""
    chunk_of = np.asarray(chunk_of)
    got = np.where(chunk_of >= 0, np.asarray(done)[chunk_of.clip(0)], np.nan)
    return got - np.asarray(due, dtype=float)


def pct(values, q):
    v = np.asarray(values, dtype=float)
    v = v[~np.isnan(v)]
    return float(np.percentile(v, q)) if len(v) else 0.0


def geomean(values):
    """Geometric mean: each paced rate's percentile counts alike."""
    return float(np.exp(np.mean(np.log(values)))) if len(values) else 0.0


def slope(t_ms, y):
    """Least-squares slope of y over time, per second."""
    t = np.asarray(t_ms, dtype=float) / 1000.0
    y = np.asarray(y, dtype=float)
    if len(t) < 2 or np.ptp(t) == 0:
        return 0.0
    return float(np.polyfit(t, y, 1)[0])
