#!/usr/bin/env python3
"""Anchor-normalized comparison of two Bench JSONs.

Host speed drifts 2-7x across runs (SOAK_r10/r11), so raw per-query
deltas between rounds mostly measure the host. This divides times by
the anchor-median ratio between the two runs before flagging anything:

    python3 tools/compare_bench.py BENCH_r10.json BENCH_r11.json [thresh]

Accepts either a raw bench_out.json or a driver BENCH_r{N}.json wrapper
(with a "parsed" payload). Prints the anchor ratio, then every query
whose normalized time changed more than `thresh` x (default 1.5),
slowest-regression first, plus totals, then every common query whose
Spark job count (`job_counts`, written to bench_out.json) changed. Job
counts do not depend on host speed, so they need no normalizing.
"""
import json
import statistics
import sys


def load(path):
    j = json.load(open(path))
    if "parsed" in j:
        j = j["parsed"]
    if not isinstance(j, dict) or "queries" not in j:
        sys.exit(f"{path}: no bench payload (truncated driver tail? "
                 "use the matching bench_out.json)")
    return j


def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    common_anchors = sorted(set(a.get("anchors", {})) &
                            set(b.get("anchors", {})))
    if common_anchors:
        ratios = [b["anchors"][k] / a["anchors"][k] for k in common_anchors
                  if a["anchors"][k] > 0]
        host = statistics.median(ratios)
        print(f"anchor host ratio (b/a, median of {len(ratios)}): "
              f"{host:.2f}  " +
              " ".join(f"{k}={b['anchors'][k]/a['anchors'][k]:.2f}"
                       for k in common_anchors))
    else:
        host = 1.0
        print("no common anchors — comparing RAW times (beware host drift)")
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    rows = []
    for q in common:
        if qa[q] <= 0:
            continue
        norm = (qb[q] / host) / qa[q]
        if norm > thresh or norm < 1 / thresh:
            rows.append((norm, qa[q], qb[q], q))
    rows.sort(reverse=True)
    for norm, ta, tb, q in rows:
        tag = "SLOWER" if norm > 1 else "faster"
        print(f"{tag} {norm:5.2f}x  {ta:7.2f}s -> {tb:7.2f}s "
              f"(norm {tb/host:7.2f}s)  {q}")
    ta = sum(qa[q] for q in common)
    tb = sum(qb[q] for q in common)
    print(f"common-{len(common)} total: {ta:.1f}s -> {tb:.1f}s raw "
          f"({tb/ta:.2f}x), {tb/host:.1f}s normalized "
          f"({tb/host/ta:.2f}x); {len(rows)} queries past {thresh}x; "
          f"only-in-a: {len(set(qa)-set(qb))}, "
          f"only-in-b: {len(set(qb)-set(qa))}")
    compare_jobs(a, b, common)


def compare_jobs(a, b, common):
    ja, jb = a.get("job_counts"), b.get("job_counts")
    if ja is None or jb is None:
        print("job counts: skipped, a record has no job_counts "
              "(a driver BENCH wrapper, or a bench_out.json older than them)")
        return
    both = [q for q in common if q in ja and q in jb]
    changed = [q for q in both if ja[q] != jb[q]]
    for q in changed:
        print(f"jobs {ja[q]:4d} \u2192 {jb[q]:4d}  {q}")
    print(f"job counts: {len(changed)} of {len(both)} common queries changed")


if __name__ == "__main__":
    main()
