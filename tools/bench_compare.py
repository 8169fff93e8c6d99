#!/usr/bin/env python3
"""Band-aware cross-round bench comparator.

Usage: python3 tools/bench_compare.py <old BENCH.out.json> [<old2> ...] <new BENCH.out.json>

With several old artifacts, each query's reference is the MAX of its
old medians — a regression is only a regression if it is slower than
EVERY recent round, which keeps one outlier-fast past draw (e.g. the
r14 close's sim_topk_* family, 30% under both its neighbors) from
minting findings against a normal present (the exact failure mode the
r14→r15 judge hand-adjudicated).

Encodes the r15 adjudication discipline (STREAM_AB_r15.md, SURVEY §10)
so a round-over-round delta is only reported as a FINDING when it
clears the measured same-day noise band; everything else is listed as
inside-band drift. Rules:

- batch query: flagged when new/old > 1.3 AND (new-old) > 0.15 s AND
  the new artifact's own warm figure (if present) does not refute it
  (warm <= 1.1x the old cold median = refuted: the regression is not
  reproducible within the very run that reported it).
- queries in the new artifact's queries_contended list are excluded
  (its own canary says the host was contended for their block group).
- streaming engine: flagged when the medians differ by >15% AND the
  sample bands do not overlap (old min..max vs new min..max).

Dev/judge tool only (driver-side python); the shipped library never
uses it.
"""
import json
import sys

STREAM_KEYS = {
    "v1": "streaming_events_per_sec",
    "v1_rocksdb": "streaming_v1rocksdb_events_per_sec",
    "v2": "streaming_v2_events_per_sec",
    "composed": "streaming_composed_events_per_sec",
    "lateness": "streaming_lateness_events_per_sec",
    "cascade": "streaming_cascade_events_per_sec",
}


def unwrap(d):
    """Accept both a raw BENCH.out.json and a driver BENCH_r{N}.json
    wrapper ({n, rc, tail, parsed} — the summary under `parsed` has no
    per-query map, but its streaming fields still compare)."""
    return d.get("parsed") or d


def main(old_paths, new_path):
    if not old_paths:
        raise SystemExit("usage: bench_compare.py <old.json> [<old2>...] <new.json>")
    olds = [unwrap(json.load(open(p))) for p in old_paths]
    old = olds[-1]  # streaming/detail compare against the most recent old
    new = unwrap(json.load(open(new_path)))
    # per-query reference: max of the old medians (see module doc)
    qo = {}
    for o in olds:
        for k, v in o.get("queries", {}).items():
            if v > 0:
                qo[k] = max(qo.get(k, 0.0), v)
    # warm reference: a new-run warm figure only REFUTES a finding if it
    # reaches the OLD round's warm level (falling back to old cold when
    # no old warm exists). Comparing new warm to old COLD would
    # auto-refute real regressions on any query whose warm/cold gap
    # exceeds the regression factor — the block schedule runs cold
    # samples systematically slower than back-to-back warm triples.
    wo = {}
    for o in olds:
        for k, v in o.get("queries_warm", {}).items():
            if v > 0:
                wo[k] = max(wo.get(k, 0.0), v)
    qn = new.get("queries", {})
    warm_n = new.get("queries_warm", {})
    contended = set(new.get("queries_contended", []))
    # r16 run-level flag: the new artifact's own MIN canary fence vs
    # the committed quiet-host band — a uniformly contended run (r15
    # driver grading: +28% diffuse, queries_contended empty) shows
    # here even though no block cleared the run-relative band
    rc = new.get("run_contended")
    if rc is True:
        print("WARNING: new run is RUN-LEVEL CONTENDED "
              f"({new.get('run_contended_reason', '')}) — every batch "
              "figure below is suspect, not just flagged blocks")
    elif rc is None and "run_contended_reason" in new:
        print(f"note: run-level contention unadjudicated: "
              f"{new.get('run_contended_reason')}")
    common = sorted(k for k in qo if k in qn and qo[k] > 0 and qn[k] > 0)
    t_old = sum(qo[k] for k in common)
    t_new = sum(qn[k] for k in common)
    if common:
        print(f"common set: n={len(common)} old={t_old:.1f}s new={t_new:.1f}s "
              f"ratio={t_new / t_old:.3f}")
    else:
        print("common set: none (streaming-only or wrapper artifacts) — "
              "batch comparison skipped")
    findings, drift, refuted = [], [], []
    for k in common:
        r = qn[k] / qo[k]
        if r <= 1.3 or (qn[k] - qo[k]) <= 0.15:
            if r > 1.15:
                drift.append((k, r))
            continue
        warm_ref = wo.get(k, qo[k])
        if k in contended:
            refuted.append((k, r, "contended block (own canary)"))
        elif k in warm_n and 0 <= warm_n[k] <= 1.1 * warm_ref:
            basis = "old warm" if k in wo else "old cold (no old warm)"
            refuted.append((k, r,
                            f"own warm {warm_n[k]:.2f}s <= 1.1x {basis}"))
        else:
            findings.append((k, r))
    print(f"\nFINDINGS (clear the band, unrefuted): {len(findings)}")
    for k, r in sorted(findings, key=lambda x: -x[1]):
        print(f"  {k:<36} {qo[k]:.2f} -> {qn[k]:.2f} s  ({r:.2f}x)")
    print(f"refuted-in-artifact: {len(refuted)}")
    for k, r, why in refuted:
        print(f"  {k:<36} {r:.2f}x  [{why}]")
    print(f"inside-band drift (1.15-1.3x or < 0.15 s): {len(drift)}")

    print("\nstreaming:")
    od, nd = old.get("streaming_detail", {}), new.get("streaming_detail", {})
    for e, key in STREAM_KEYS.items():
        mo, mn = old.get(key), new.get(key)
        if mo is None or mn is None or mo <= 0 or mn <= 0:
            continue
        so = od.get(e, {}).get("samples_rate", [])
        sn = nd.get(e, {}).get("samples_rate", [])
        delta = mn / mo - 1
        # a missing sample band (wrapper artifact or failed engine) is
        # INDETERMINATE, not evidence of disjointness — a FINDING must
        # be backed by two real bands that do not overlap
        if not (so and sn):
            verdict = ("unverifiable (no sample bands)"
                       if abs(delta) > 0.15 else "inside band (no samples)")
            print(f"  {e:<12} {mo} -> {mn}  ({delta:+.0%})  {verdict}")
            continue
        overlap = max(min(so), min(sn)) <= min(max(so), max(sn))
        verdict = ("FINDING" if abs(delta) > 0.15 and not overlap
                   else "inside band")
        print(f"  {e:<12} {mo} -> {mn}  ({delta:+.0%})  {verdict}"
              + ("" if overlap else "  [bands disjoint]"))
    print("  note: within-run sample bands UNDERSTATE between-run spread —")
    print("  STREAM_AB_r15.md measured identical-config runs 15% apart and")
    print("  lateness spanning 57k-108k across 9 same-day runs; treat a")
    print("  streaming FINDING as 'worth a re-run', not as a regression.")


if __name__ == "__main__":
    main(sys.argv[1:-1], sys.argv[-1])
