#!/usr/bin/env python3
"""Assemble docs/rounds/CORRECTNESS_sf1.json from the sf1syn sweep logs.

Inputs: one or more selfcheck logs (OK/FAIL/SKIP lines) plus the
substitute checks for the two queries whose DuckDB oracles are
infeasible at this scale (doc_fingerprint: per-char recursive CTE;
semdedup: 64-bucket LSH makes the replay quadratic in corpus size).

Usage: sweep_summary.py out.json log1 [log2 ...] \
         --sub name=method,rows ...
"""
import json
import re
import sys

out, args = sys.argv[1], sys.argv[2:]
subs = {}
logs = []
i = 0
while i < len(args):
    if args[i] == "--sub":
        name, rest = args[i + 1].split("=", 1)
        method, rows = rest.rsplit(",", 1)
        subs[name] = {"ok": True, "rows": int(rows), "check": method}
        i += 2
    else:
        logs.append(args[i]); i += 1

result = {}
for log in logs:
    for line in open(log):
        m = re.match(r"(OK|FAIL)\s+([A-Za-z0-9_]+):?\s*(?:\((\d+) rows)?", line)
        if not m:
            continue
        status, name, rows = m.groups()
        if "resumed from prior log" in line and name in result:
            continue
        entry = {"ok": status == "OK", "check": "duckdb-oracle"}
        if rows:
            entry["rows"] = int(rows)
        # later logs override earlier (re-runs after fixes)
        result[name] = entry
result.update(subs)

ok = sum(1 for v in result.values() if v["ok"])
summary = {"sf": "1 (synthetic 10x of sf0.1, deterministic ScaleUp)",
           "queries_checked": len(result),
           "queries_ok": ok,
           "queries": dict(sorted(result.items()))}
json.dump(summary, open(out, "w"), indent=1)
print(f"{ok}/{len(result)} ok -> {out}")
for k, v in sorted(result.items()):
    if not v["ok"]:
        print(f"  FAIL {k}")
