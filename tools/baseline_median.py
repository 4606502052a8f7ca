#!/usr/bin/env python3
"""Assemble a BENCH_LOCAL_r{N}.json regression baseline (per-query MEDIAN
of quiet closing runs) from full-map bench artifacts.

Usage: baseline_median.py "<method note>" run1.json run2.json [run3.json ...]
       > BENCH_LOCAL_rN.json

Fails loudly when the runs' query key sets differ (a query missing from any
run must not silently fall out of the regression baseline — ADVICE r12).
Since r16 the runs carry per-query shuffle-write bytes ("shuffle_write");
their medians are folded into the baseline too — the bytes side of the
bytes-aware regression gate (VERDICT r15 #2).
graft.Bench reads the committed BENCH_LOCAL_r<N>.json with the largest N
directly, so re-recording the gate needs no Scala edit.
"""
import sys, json, statistics

if len(sys.argv) < 4:
    sys.exit(__doc__)
method = sys.argv[1]
full = [json.load(open(p)) for p in sys.argv[2:]]
runs = [j["queries"] for j in full]
union = set().union(*runs)
inter = set(runs[0])
for r in runs[1:]:
    inter &= set(r)
if union != inter:
    sys.exit(f"key sets differ across runs; missing somewhere: {sorted(union - inter)}")
med = {k: statistics.median([r[k] for r in runs]) for k in sorted(inter)}
out = {
    "metric": "total",
    "value": sum(med.values()),
    "unit": "sec",
    "queries": med,
    "method": method,
    "sf": "/root/testdata/sf0.1",
}
shuf = [j.get("shuffle_write", {}) for j in full]
if all(shuf):
    # loud key-set check, same contract as the wall medians (ADVICE r16):
    # a missing key must fail the fold, not default to 0
    missing = {k for k in inter for s in shuf if k not in s}
    if missing:
        sys.exit(f"shuffle_write key sets differ across runs; "
                 f"missing somewhere: {sorted(missing)}")
    out["shuffle_write"] = {
        k: int(statistics.median([s[k] for s in shuf]))
        for k in sorted(inter)
    }
print(json.dumps(out, indent=1))
