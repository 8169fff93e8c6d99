#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the JVM harness from source (cached under
$CARGO_TARGET_DIR, default .bench_build), generates the workload's inputs
from the seed, runs one workload, checks its outputs and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import io
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import numpy as np

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402
import metrics as M  # noqa: E402

DEADLINE_S = 170  # every run must end within 180 s
GEN_LATE_LIMIT_MS = 20.0  # a step whose generator ran later than this at p99 is not scored
SKIP_S = 1.0  # per step, events due in the first second are not scored
SLO_MS = 1000.0
LOST_MS = 1e9  # the latency a never-emitted event counts with

STREAM = {
    "ohlcv_wire_ref": dict(
        profile=dict(products=2000, instruments=100, malformed_frac=0.001),
        slack="0 seconds", over_rate=120_000),
    "ohlcv_wire_wide": dict(
        profile=dict(products=200_000, instruments=100, zipf=True, ooo_frac=0.1, ooo_max_ms=4000),
        slack="5 seconds", over_rate=60_000),
}
# The measured query plays an unscored paced warm-up, the paced segments
# and the saturation segment (shares of --seconds). A short query runs first.
PACED = [("s10k", 10_000, 0.35), ("s2k", 2000, 0.35)]
OVER_SHARE = 0.30
WARM = ("warm", 10_000, 7.0)
SATURATED = ("over",)
FIRST = ("first", 10_000, 1.0)
TICK_MS = 5
SAT_CHUNK_MS = 100  # saturation appends 100 ms of the schedule per chunk
SAT_WINDOW = 4  # batches per throughput sample

# One to five queries of each family; see README.md for why not all 25.
BATCH_QUERIES = [
    "ohlcv_1m", "ohlcv_1m_sql", "ohlcv_1m_gapfill", "ohlcv_1m_indicators", "ohlcv_5m_from_1m",
    "text_bm25_topk", "text_ql_topk", "text_prf_expansion",
    "dedup_winnow_pairs", "dedup_winnow_incremental_persisted",
    "graph_triangles", "rel_recursive_chains", "pipeline_shard_build",
]
FAMILIES = ["ohlcv", "text", "dedup", "graph", "rel", "pipeline"]
OPS_FIELDS = [("jobs", "count"), ("tasks", "count"), ("task_run_s", "s"), ("task_cpu_s", "s"),
              ("gc_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]
WORKLOADS = list(STREAM) + ["batch_sf01_core"]

END_TO_END = {"setup_s": "s", "lat_p50_ms": "ms", "lat_p99_ms": "ms", "throughput_per_s": "1/s",
              "rss_peak_mb": "MB"}
PER_LAYER = dict(
    [("gen.late_ms_p99", "ms"), ("gen.offered_eps.s2k", "1/s"), ("gen.offered_eps.s10k", "1/s"),
     ("gen.offered_eps.over", "1/s"), ("gen.invalid_steps", "count"),
     ("source.latest_offset_ms_mean", "ms"), ("source.get_batch_ms_mean", "ms"),
     ("source.backlog_slope_eps.s2k", "1/s"), ("source.backlog_slope_eps.s10k", "1/s"),
     ("lat.p50_ms.s2k", "ms"), ("lat.p99_ms.s2k", "ms"), ("lat.p50_ms.s10k", "ms"),
     ("lat.p99_ms.s10k", "ms"), ("slo.miss_frac", "fraction"),
     ("decode.ns_per_event", "ns"), ("decode.rejected", "count"),
     ("engine.batches", "count"), ("engine.rows_per_batch_p50", "count"),
     ("engine.trigger_ms_p50", "ms"), ("engine.trigger_ms_p99", "ms"), ("engine.trigger_ms_max", "ms"),
     ("engine.planning_ms_p50", "ms"), ("engine.add_batch_ms_p50", "ms"),
     ("engine.wal_commit_ms_p50", "ms"), ("engine.commit_offsets_ms_p50", "ms"),
     ("engine.busy_frac", "fraction"), ("engine.query_setup_ms", "ms"),
     ("engine.local1_lat_p50_ms.s2k", "ms"), ("engine.local4_lat_p50_ms.s2k", "ms"),
     ("state.rows_total", "count"), ("state.rows_updated_p50", "count"),
     ("state.commit_ms_p50", "ms"), ("state.update_ms_p50", "ms"), ("state.removal_ms_p50", "ms"),
     ("state.mem_mb", "MB"), ("state.dropped_by_watermark", "count"),
     ("model.fold_ns_per_event", "ns"), ("sink.ms_p50", "ms"), ("sink.final_bars", "count")]
    + [("q.%s.s" % q, "s") for q in BATCH_QUERIES]
    + [("ops.%s.%s" % (f, x), u) for f in FAMILIES for x, u in OPS_FIELDS]
    + [("batch.cold_pass_s", "s"), ("memo.blocks_stored", "count"), ("memo.blocks_evicted", "count"),
       ("memo.mb_stored", "MB"), ("trace.spans", "count"), ("trace.record_ms", "ms"),
       ("trace.overhead_frac", "fraction")])


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def spark_jars():
    """The jars `build.sbt` compiles against (its `unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar"))) if m else []
    if not jars:
        raise BenchError("no jars in build.sbt's unmanagedBase")
    return jars


def sf_dir():
    """The sf0.1 test-data directory, as TESTDATA.md lists it."""
    m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", (ROOT / "TESTDATA.md").read_text(), re.M)
    if not m or not Path(m.group(1)).is_dir():
        raise BenchError("the sf0.1 test data listed in TESTDATA.md is not there")
    return m.group(1).rstrip("/")


def build(build_dir):
    """Compile the program (src/main) and the harness (perfbench/src) with
    the Scala compiler that ships with Spark; cached by source hash."""
    prog = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not prog:
        raise BenchError("no program sources under src/main/scala: not a checkout of the repo")
    res = ROOT / "src" / "main" / "resources"
    harness = sorted((BENCH / "src").rglob("*.scala"))
    h = hashlib.sha256()
    for f in prog + sorted(p for p in res.rglob("*") if p.is_file()) + harness:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    dest = build_dir / ("classes-" + h.hexdigest()[:16])
    if (dest / "ok").exists():
        return dest
    for old in build_dir.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    jars = spark_jars()
    cp = os.pathsep.join(jars)

    def scalac(out, classpath, files):
        out.mkdir(parents=True, exist_ok=True)
        args = build_dir / "scalac.args"
        args.write_text("\n".join(["-nowarn", "-d", str(out), "-classpath", classpath]
                                  + [str(f) for f in files]))
        r = subprocess.run(["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                            "@" + str(args)], capture_output=True, text=True, timeout=600)
        if r.returncode != 0:
            raise BenchError("compile failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])

    scalac(dest / "prog", cp, prog)
    if res.exists():
        shutil.copytree(res, dest / "prog", dirs_exist_ok=True)
    scalac(dest / "bench", os.pathsep.join([str(dest / "prog"), cp]), harness)
    (dest / "ok").write_text("")
    return dest


JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def props_line(k, v):
    v = str(v).replace("\\", "\\\\").replace("\n", "\\n").replace("\u0001", "\\u0001")
    return "%s=%s" % (k, v)


def run_jvm(classes, run_dir, conf, deadline, meta=True, feed=None):
    """Run the harness with `conf`; `feed(f)` writes its stdin. Returns the
    JVM's meta.json. Set-up time counts from here (`launch_ms`)."""
    conf = dict(conf, launch_ms=time.time() * 1000.0)
    conf_path = run_dir / "conf.properties"
    conf_path.write_text("\n".join(props_line(k, v) for k, v in conf.items()) + "\n")
    (run_dir / "tmp").mkdir(exist_ok=True)
    cmd = ["java"] + JVM_OPTS
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xlog:gc:file=%s" % (run_dir / "gc.log"),
            "-Djava.io.tmpdir=%s" % (run_dir / "tmp"),
            "-Dgraft.index.root=%s" % (run_dir / "indexes"),
            "-cp", os.pathsep.join([str(classes / "bench"), str(classes / "prog")] + spark_jars()),
            "perfbench.Harness", str(conf_path)]
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=log, stderr=subprocess.STDOUT,
                                cwd=run_dir, start_new_session=True)
        CHILDREN.append(proc)
        writer = threading.Thread(target=_feed, args=(proc.stdin, feed), daemon=True)
        writer.start()
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError("JVM exceeded the run deadline")
        finally:
            CHILDREN.remove(proc)
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        raise BenchError("JVM exited with %d:\n%s" % (rc, tail))
    return json.loads((run_dir / "meta.json").read_text()) if meta else None


def _feed(stdin, feed):
    try:
        with io.TextIOWrapper(stdin, encoding="utf-8") as f:
            if feed:
                feed(f)
    except BrokenPipeError:
        pass  # the JVM died; its exit code tells why


CHILDREN = []


def _stop_children(signum, _frame):
    """Stop the JVM (and everything it started) before exiting on a signal."""
    for proc in CHILDREN:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    sys.exit(128 + signum)


def read_tsv(p):
    if not p.exists():
        return []
    return [l.rstrip("\n").split("\t") for l in p.read_text().splitlines() if l.strip()]


# ------------------------------------------------------------ streaming

def stream_queries(workload, seed, seconds, trace):
    """A short first query, whose start is the set-up sample, then the
    measured query: a paced warm-up, the paced segments, and the
    saturation segment whose committed rate is the peak. A traced run adds
    the last paced segment again, alone, for the one-core baseline."""
    cfg = STREAM[workload]
    plan = [("first", [FIRST]),
            ("main", [WARM] + [(n, r, s * seconds) for n, r, s in PACED]
             + [("over", cfg["over_rate"], OVER_SHARE * seconds)])]
    if trace:
        n, r, s = PACED[-1]
        plan.append(("local1", [("warm", r, WARM[2]), (n, r, s * seconds)]))
    return [(name, gen.make_query(seed, i, segs, cfg["profile"], TICK_MS))
            for i, (name, segs) in enumerate(plan)]


def phases(q):
    """Generator phases of a query for the JVM: mode,first tick,end tick,ticks per chunk."""
    out = []
    for i, (name, _, seconds) in enumerate(q.segments):
        k0 = int(round(q.seg_start_ms[i] / TICK_MS))
        k1 = int(round((q.seg_start_ms[i] + seconds * 1000.0) / TICK_MS))
        out.append("%s,%d,%d,%d" % ("sat" if name in SATURATED else "paced", k0, k1, SAT_CHUNK_MS // TICK_MS))
    return ";".join(out)


def run_stream(workload, seed, seconds, trace, classes, run_dir, deadline):
    queries = stream_queries(workload, seed, seconds, trace)
    conf = dict(mode="stream", out=run_dir, trace=int(trace),
                master="local[4]", partitions=4, slack=STREAM[workload]["slack"],
                width_ms=gen.MINUTE_MS, tick_ms=TICK_MS,
                queries=",".join(n for n, _ in queries),
                steps=",".join(n for n, _ in queries if n != "local1"),
                decode_step="main", local1_step="local1")
    for name, q in queries:
        conf["step.%s.sentinels" % name] = "\u0001".join(q.sentinels)
        conf["step.%s.phases" % name] = phases(q)

    def feed(f):  # the inputs go through a pipe: no large files to write and delete
        for _, q in queries:
            f.write("%d %d\n" % (len(q.lines), len(q.bounds)))
            f.write("\n".join(q.lines))
            f.write("\n")
            f.write("\n".join(map(str, q.bounds.tolist())))
            f.write("\n")

    meta = run_jvm(classes, run_dir, conf, deadline, feed=feed)
    return stream_metrics(dict(queries), meta, run_dir, trace)


class Played:
    """What one streaming query did, reconstructed from the JVM's records:
    generator appends (one MemoryStream offset each), progress and sink."""

    def __init__(self, q, st, progress, gen_rows, sinks, finals):
        self.q, self.st = q, st
        self.batches = M.batches_of(progress)
        if not self.batches:
            raise BenchError("no micro-batch ran")
        self.rows = sorted(gen_rows)  # (offset, lo, hi, due_ms, appended_ms)
        self.n_chunks = len(self.rows)
        chunk_of = np.full(len(q.lines), -1)
        for k, lo, hi, _, _ in self.rows:
            chunk_of[lo:hi] = k
        sent = chunk_of >= 0
        v = q.valid & sent
        self.chunk_valid = np.concatenate(([0], np.cumsum([int(q.valid[lo:hi].sum()) for _, lo, hi, _, _ in self.rows])))
        self.chunk_of = chunk_of
        self.done = M.chunk_done(self.n_chunks, self.batches)
        self.errors = []
        # one running bar per valid event (and sentinel) in each batch
        for b in self.batches:
            k0, k1 = b["start"] + 1, b["end"] + 1
            exp = self.valid_in(k0, k1) + max(0, k1 - max(k0, self.n_chunks))
            got = sinks.get(b["id"], (None,))[0]
            if got != exp:
                self.errors.append("batch %d emitted %s running bars for %d events" % (b["id"], got, exp))
        self.n_malformed = int((~q.valid & sent).sum())
        self.rejected = int(sent.sum()) + len(q.sentinels) - sum(x[0] for x in sinks.values())
        self.dropped = sum(int(so.get("numRowsDroppedByWatermark", 0))
                           for b in self.batches for so in b["p"].get("stateOperators", []))
        # every final bar equals the reference fold of the events sent
        ref = gen.reference_bars(q.product[v], q.ts[v], q.instr[v], q.price[v], q.qty[v])
        got = {}
        for key, bar in finals:
            got[key] = bar if key not in got else None  # a window that fired twice is wrong
        wrong = {k for k, bar in ref.items() if got.get(k) != bar}
        extra = set(got) - set(ref)
        self.final_bars = len(finals)
        lost = np.isnan(M.event_latency(np.zeros(len(q.lines)), chunk_of, self.done)) & v
        if wrong or extra:
            self.errors.append("%d final bars wrong or missing, %d unexpected" % (len(wrong), len(extra)))
            ws = q.ts // gen.MINUTE_MS * gen.MINUTE_MS
            lost |= v & np.array([("P%d" % p, w) in wrong for p, w in zip(q.product.tolist(), ws.tolist())])
        self.failed = int(lost.sum()) + len(extra)
        self.attempted = int(v.sum())
        self.setup_ms = self.batches[0]["done"] - st["query_start_ms"]

    def valid_in(self, k0, k1):
        """Valid events in chunks k0 until k1."""
        return int(self.chunk_valid[min(k1, self.n_chunks)] - self.chunk_valid[min(k0, self.n_chunks)])

    def window(self, i):
        """Wall-clock span of segment i, ms since the epoch."""
        t0 = self.st["phase_starts_ms"][i]
        return t0, t0 + self.q.segments[i][2] * 1000.0

    def paced(self, i):
        """Scored view of paced segment i: latencies of its valid events due
        after its first SKIP_S, generator lateness and backlog slope."""
        q = self.q
        t0, t1 = self.window(i)
        due = t0 + (q.due_ms - q.seg_start_ms[i])
        mask = (q.seg == i) & q.valid & (due >= t0 + SKIP_S * 1000.0)
        lat = M.event_latency(due[mask], self.chunk_of[mask], self.done)
        lat = np.where(np.isnan(lat), LOST_MS, lat)  # never emitted: misses every limit
        rows = [r for r in self.rows if t0 < r[3] <= t1]
        late = [a0 - d for _, _, _, d, a0 in rows]
        # backlog = events appended minus events committed, at each batch end
        app_t = np.array([r[4] for r in rows])
        bl_t, bl = [], []
        for b in self.batches:
            if t0 + SKIP_S * 1000.0 <= b["done"] <= t1 and b["end"] < self.n_chunks:
                appended = rows[0][0] + int(np.searchsorted(app_t, b["done"], side="right"))
                bl_t.append(b["done"])
                bl.append(self.valid_in(b["end"] + 1, appended))
        batches = [b for b in self.batches if t0 + SKIP_S * 1000.0 <= b["t0"] and b["done"] <= t1]
        return dict(lat=lat, late=late, slope=M.slope(bl_t, bl), batches=batches,
                    offered=int((q.seg == i).sum()) / q.segments[i][2])

    def saturated(self, i):
        """Valid events per second committed while the generator kept the
        engine saturated: the median, over every run of SAT_WINDOW
        consecutive batches started SKIP_S or more into the segment, of
        their events over their span, so one stalled batch moves it little."""
        t0, t1 = self.window(i)
        ks = [r[0] for r in self.rows if t0 <= r[4] < t1]
        if not ks:
            return 0.0, [], 0.0
        bs = [b for b in self.batches if ks[0] <= b["end"] and b["start"] + 1 <= ks[-1]
              and b["t0"] >= t0 + SKIP_S * 1000.0]
        sent = sum(hi - lo for k, lo, hi, _, _ in self.rows if ks[0] <= k <= ks[-1])
        rates = [sum(self.valid_in(b["start"] + 1, b["end"] + 1) for b in bs[j + 1:j + 1 + SAT_WINDOW])
                 / ((bs[j + SAT_WINDOW]["done"] - bs[j]["done"]) / 1000.0)
                 for j in range(len(bs) - SAT_WINDOW)]
        return (statistics.median(rates) if rates else 0.0), bs, sent / (t1 - t0) * 1000.0


def stream_metrics(queries, meta, run_dir, trace):
    progress, gen_rows, sinks, finals = {}, {}, {}, {}
    for line in (run_dir / "progress.jsonl").read_text().splitlines():
        rec = json.loads(line)
        progress.setdefault(rec["step"], []).append(rec["p"])
    for r in read_tsv(run_dir / "gen.tsv"):
        gen_rows.setdefault(r[0], []).append((int(r[1]), int(r[2]), int(r[3]), float(r[4]), float(r[5])))
    for r in read_tsv(run_dir / "sink.tsv"):
        sinks.setdefault(r[0], {})[int(r[1])] = (int(r[2]), int(r[3]), float(r[4]), float(r[5]))
    for line in (run_dir / "finals.csv").read_text().splitlines():
        label, prod, ws, o, h, l, c, v = line.split(",")
        if prod != "SENTINEL":
            finals.setdefault(label, []).append(((prod, int(ws)), (float(o), float(h), float(l), float(c), int(v))))

    played = {}
    errors = []
    for name, q in queries.items():
        try:
            played[name] = Played(q, meta["step.%s" % name], progress.get(name, []),
                                  gen_rows.get(name, []), sinks.get(name, {}), finals.get(name, []))
        except BenchError as e:
            raise BenchError("query %s: %s" % (name, e))
        errors += ["%s: %s" % (name, e) for e in played[name].errors]
    main = played["main"]
    names = [s[0] for s in main.q.segments]
    paced = [n for n, _, _ in PACED]
    segs = {n: main.paced(names.index(n)) for n in paced}
    peak, over_batches, offered_over = main.saturated(names.index("over"))
    invalid = [n for n in paced if M.pct(segs[n]["late"], 99) > GEN_LATE_LIMIT_MS]
    if len(invalid) == len(paced):
        raise BenchError("generator ran late on every paced step: %s" % invalid)
    groups = [segs[n]["lat"] for n in paced if n not in invalid]
    rejected = sum(p.rejected for p in played.values())
    malformed = sum(p.n_malformed for p in played.values())
    dropped = sum(p.dropped for p in played.values())
    if rejected != malformed:
        errors.append("decode rejected %d records, %d were malformed" % (rejected, malformed))
    if dropped:
        errors.append("%d rows dropped by the watermark" % dropped)
    if peak <= 0:
        errors.append("overload step too short to measure a peak rate")
    e2e = dict(setup_s=(meta["session_up_ms"] + played["first"].setup_ms) / 1000.0,
               lat_p50_ms=M.geomean([M.pct(g, 50) for g in groups]),
               lat_p99_ms=M.geomean([M.pct(g, 99) for g in groups]),
               throughput_per_s=peak, rss_peak_mb=meta["rss_peak_mb"])

    bs = [b for n in paced for b in segs[n]["batches"]] + over_batches

    def dur(key):
        return [b["p"]["durationMs"].get(key, 0) for b in bs]

    def so(key):
        return [sum(x.get(key, 0) for x in b["p"].get("stateOperators", [])) for b in bs]

    all_lat = np.concatenate(groups)
    t_busy, t_end = main.window(names.index(paced[0]))[0], meta["step.main"]["drained_ms"]
    busy = sum(b["p"]["durationMs"].get("triggerExecution", 0) for b in main.batches
               if b["t0"] >= t_busy and b["done"] <= t_end)
    wall = t_end - t_busy
    layer = {
        "gen.late_ms_p99": M.pct([x for n in paced for x in segs[n]["late"]], 99),
        "gen.invalid_steps": len(invalid),
        "source.latest_offset_ms_mean": float(np.mean(dur("latestOffset") or [0])),
        "source.get_batch_ms_mean": float(np.mean(dur("getBatch") or [0])),
        "slo.miss_frac": float(np.mean(all_lat > SLO_MS)) if len(all_lat) else 0.0,
        "decode.ns_per_event": meta.get("decode_ns_per_event", 0.0),
        "decode.rejected": rejected,
        "engine.batches": len(bs),
        "engine.rows_per_batch_p50": M.pct([b["p"]["numInputRows"] for b in bs], 50),
        "engine.trigger_ms_p50": M.pct(dur("triggerExecution"), 50),
        "engine.trigger_ms_p99": M.pct(dur("triggerExecution"), 99),
        "engine.trigger_ms_max": max(dur("triggerExecution") or [0]),
        "engine.planning_ms_p50": M.pct(dur("queryPlanning"), 50),
        "engine.add_batch_ms_p50": M.pct(dur("addBatch"), 50),
        "engine.wal_commit_ms_p50": M.pct(dur("walCommit"), 50),
        "engine.commit_offsets_ms_p50": M.pct(dur("commitOffsets"), 50),
        "engine.busy_frac": busy / wall if wall > 0 else 0.0,
        "engine.query_setup_ms": main.setup_ms,
        "engine.local1_lat_p50_ms.s2k": M.pct(played["local1"].paced(1)["lat"], 50) if "local1" in played else 0.0,
        "engine.local4_lat_p50_ms.s2k": M.pct(segs["s2k"]["lat"], 50),
        "state.rows_total": max(so("numRowsTotal") or [0]),
        "state.rows_updated_p50": M.pct(so("numRowsUpdated"), 50),
        "state.commit_ms_p50": M.pct(so("commitTimeMs"), 50),
        "state.update_ms_p50": M.pct(so("allUpdatesTimeMs"), 50),
        "state.removal_ms_p50": M.pct(so("allRemovalsTimeMs"), 50),
        "state.mem_mb": max(so("memoryUsedBytes") or [0]) / 1e6,
        "state.dropped_by_watermark": dropped,
        "model.fold_ns_per_event": meta.get("fold_ns_per_event", 0.0),
        "sink.ms_p50": M.pct([v[3] - v[2] for r in sinks.values() for v in r.values()], 50),
        "sink.final_bars": sum(p.final_bars for p in played.values()),
        "trace.spans": meta.get("spans", 0),
        "trace.record_ms": meta.get("trace_record_ms", 0.0),
    }
    layer["gen.offered_eps.over"] = offered_over
    for n in paced:
        layer["gen.offered_eps." + n] = segs[n]["offered"]
        layer["source.backlog_slope_eps." + n] = segs[n]["slope"]
        layer["lat.p50_ms." + n] = M.pct(segs[n]["lat"], 50)
        layer["lat.p99_ms." + n] = M.pct(segs[n]["lat"], 99)
    if trace:
        write_stream_trace(run_dir, progress)
    attempted = sum(p.attempted for p in played.values())
    failed = sum(p.failed for p in played.values())
    detail = {n: dict(lat_p50=M.pct(segs[n]["lat"], 50), lat_p99=M.pct(segs[n]["lat"], 99),
                      late_p99=M.pct(segs[n]["late"], 99), slope=segs[n]["slope"], batches=len(segs[n]["batches"]))
              for n in paced}
    (run_dir / "detail.json").write_text(json.dumps(
        dict(segments=detail, saturated_batches=len(over_batches), e2e=e2e), indent=1))
    return e2e, layer, attempted, failed, errors


def write_stream_trace(run_dir, progress):
    """Append one span per micro-batch, with its public durationMs split as
    child spans, to the JVM's spans; all spans of a batch share a trace id."""
    order = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"]
    with open(run_dir / "spans.jsonl", "a") as f:
        for step, ps in progress.items():
            for b in M.batches_of(ps):
                tid = "%s/%d" % (step, b["id"])
                f.write(json.dumps(dict(name="engine.batch", trace=tid, parent="", start_ms=b["t0"],
                                        end_ms=b["done"], rows=b["p"]["numInputRows"])) + "\n")
                t = b["t0"]
                for k in order:
                    d = b["p"]["durationMs"].get(k)
                    if d is not None:
                        f.write(json.dumps(dict(name="engine." + k, trace=tid, parent="engine.batch",
                                                start_ms=t, end_ms=t + d)) + "\n")
                        t += d


# ---------------------------------------------------------------- batch

def load_check_module():
    spec = importlib.util.spec_from_file_location("graft_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_batch(seed, seconds, trace, classes, run_dir, deadline):
    data = sf_dir()
    order = [BATCH_QUERIES[i] for i in np.random.default_rng(seed).permutation(len(BATCH_QUERIES))]
    conf = dict(mode="batch", out=run_dir, trace=int(trace),
                master="local[4]", partitions=4, sf_dir=data, queries=",".join(order),
                seconds=seconds)
    meta = run_jvm(classes, run_dir, conf, deadline)
    rows = read_tsv(run_dir / "queries.tsv")
    cold = {q: float(s) for p, q, s in rows if p == "cold"}
    warm = [(p, q, float(s)) for p, q, s in rows if p != "cold"]
    passes = sorted({p for p, _, _ in warm})
    errors = oracle_compare(run_dir, order, data)
    lat_ms = [s * 1000.0 for _, _, s in warm]
    e2e = dict(setup_s=(meta["session_up_ms"] + meta["tables_ms"]) / 1000.0,
               lat_p50_ms=M.pct(lat_ms, 50), lat_p99_ms=M.pct(lat_ms, 99),
               throughput_per_s=len(warm) / sum(s for _, _, s in warm),
               rss_peak_mb=meta["rss_peak_mb"])
    layer = {n: 0.0 for n in PER_LAYER}
    for q in BATCH_QUERIES:
        layer["q.%s.s" % q] = statistics.median(s for _, n, s in warm if n == q)
    layer["batch.cold_pass_s"] = sum(cold.values())
    layer["trace.spans"] = meta.get("spans", 0)
    layer["trace.record_ms"] = meta.get("trace_record_ms", 0.0)
    if trace:
        layer.update(batch_layers(run_dir, len(passes)))
    return e2e, layer, len(order), len(errors), errors


def oracle_compare(run_dir, names, data):
    """Each query's cold-pass result against its DuckDB oracle, with
    tools/check.py's canonical form."""
    import duckdb
    import pandas as pd
    check = load_check_module()
    con = duckdb.connect()
    for t in check.TABLES:
        p = Path(data) / ("%s.parquet" % t)
        if p.exists():
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    oracle = json.loads((run_dir / "oracle_sql.json").read_text())
    errors = []
    for name in names:
        files = glob.glob(str(run_dir / "results" / name / "*.parquet"))
        if name not in oracle:
            errors.append("%s: no oracle" % name)
            continue
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        g, e = check.canon(got), check.canon(con.sql(oracle[name]).df())
        if list(g.columns) != list(e.columns) or len(g) != len(e) or not g.equals(e):
            errors.append("%s: result differs from its oracle (%d rows vs %d)" % (name, len(g), len(e)))
    return errors


def batch_layers(run_dir, n_passes):
    """Listener totals per query family over the warm passes, per pass."""
    stage_fam = {}
    job_count = {f: 0 for f in FAMILIES}
    for r in read_tsv(run_dir / "jobs.tsv"):
        group = r[1]
        if not group.startswith("warm"):
            continue
        fam = group.split("/", 1)[1].split("_", 1)[0]
        job_count[fam] = job_count.get(fam, 0) + 1
        for s in (r[2].split(",") if len(r) > 2 and r[2] else []):
            stage_fam[int(s)] = fam
    tot = {f: np.zeros(7) for f in FAMILIES}
    for r in read_tsv(run_dir / "stages.tsv"):
        fam = stage_fam.get(int(r[0]))
        if fam in tot:
            tot[fam] += np.array([float(x) for x in r[1:8]])
    out = {}
    for f in FAMILIES:
        t = tot[f] / max(1, n_passes)
        out["ops.%s.jobs" % f] = job_count[f] / max(1, n_passes)
        for i, (x, _) in enumerate(OPS_FIELDS[1:]):
            out["ops.%s.%s" % (f, x)] = float(t[i])
    stored = evicted = 0
    mb = 0.0
    for r in read_tsv(run_dir / "blocks.tsv"):
        if r[1] == "true":
            stored += 1
            mb += (float(r[2]) + float(r[3])) / 1e6
        else:
            evicted += 1
    out.update({"memo.blocks_stored": stored, "memo.blocks_evicted": evicted, "memo.mb_stored": mb})
    return out


# ----------------------------------------------------------------- main

def run_once(workload, seed, seconds, trace, classes, build_dir):
    deadline = time.time() + DEADLINE_S
    run_dir = build_dir / "runs" / ("%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    if workload in STREAM:
        return run_stream(workload, seed, seconds, trace, classes, run_dir, deadline)
    return run_batch(seed, seconds, trace, classes, run_dir, deadline)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    build_dir = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "perfbench"
    build_dir.mkdir(parents=True, exist_ok=True)
    try:
        classes = build(build_dir)
        e2e, layer, attempted, failed, errors = run_once(a.workload, a.seed, a.seconds, a.trace,
                                                         classes, build_dir)
    except BenchError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(2)
    # untraced results of this very build, for the traced run's overhead
    results = classes / ("results-%s.jsonl" % a.workload)
    if not a.trace:
        with open(results, "a") as f:
            f.write(json.dumps(e2e) + "\n")
        units, vals = END_TO_END, e2e
    else:
        past = [json.loads(l)["lat_p50_ms"] for l in results.read_text().splitlines()] \
            if results.exists() else []
        layer["trace.overhead_frac"] = (e2e["lat_p50_ms"] / statistics.median(past) - 1.0) if past else 0.0
        units, vals = PER_LAYER, {n: layer.get(n, 0.0) for n in PER_LAYER}
    for e in errors:
        print("perfbench: CHECK FAILED: %s" % e, file=sys.stderr)
    out = dict(correct=not errors and failed == 0, attempted=int(attempted), failed=int(failed),
               metrics={n: {"value": float(vals[n]), "unit": u} for n, u in units.items()})
    print(json.dumps(out))


if __name__ == "__main__":
    main()
