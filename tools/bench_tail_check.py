#!/usr/bin/env python3
"""Round-trip check for the driver's bench-tail parse (VERDICT r10 #3).

Simulates the harness: keep the LAST 2000 chars of a `sbt "runMain
graft.Bench ..."` stdout capture, then find the one JSON object there
(line-wise json.loads, last line first). Exits 1 if no line parses —
i.e. if BENCH_r{N}.json would ship "parsed": null again — if that
compact line is 1500 chars or longer (Bench's own budget), or if an
`index_split` entry, in the compact line or in the full map it names
(when that file exists), lacks a numeric `build` or `serve`.

Usage: bench_tail_check.py <stdout-capture-file>
"""
import sys, json, os


def split_errors(split, where):
    """One message per index_split entry without numeric build/serve."""
    if not isinstance(split, dict):
        return [f"{where}: index_split is not an object"]
    return [f"{where}: index_split[{name!r}] = {entry!r} lacks a numeric {key}"
            for name, entry in split.items()
            for key in ("build", "serve")
            if not isinstance(entry, dict)
            or isinstance(entry.get(key), bool)
            or not isinstance(entry.get(key), (int, float))]


tail = open(sys.argv[1]).read()[-2000:]
for line in reversed([l for l in tail.splitlines() if l.strip()]):
    try:
        d = json.loads(line)
        print(f"PARSE OK: metric={d['metric']} value={d['value']} "
              f"n_queries={d.get('n_queries')} n_failed={d.get('n_failed')}")
    except (json.JSONDecodeError, KeyError, TypeError):
        continue
    errors = []
    if len(line) >= 1500:
        errors.append(f"compact line is {len(line)} chars (budget: < 1500)")
    if "index_split" in d:
        errors += split_errors(d["index_split"], "compact line")
    full = d.get("full_map")
    if isinstance(full, str) and os.path.isfile(full):
        errors += split_errors(json.load(open(full)).get("index_split", {}), full)
    for e in errors:
        print(f"SHAPE FAIL: {e}")
    sys.exit(1 if errors else 0)
print("PARSE FAIL: no JSON line in the last 2000 chars")
sys.exit(1)
