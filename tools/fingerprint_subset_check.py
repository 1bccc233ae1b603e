#!/usr/bin/env python3
"""Substitute cross-check for doc_fingerprint at synthetic scale.

The DuckDB oracle for doc_fingerprint is a per-character recursive CTE
(recursion depth = max text length, each step re-joins the full
char-list table) — quadratic, and past host memory at sf1. The
ScaleUp data makes a cheaper exact check possible: replica 0 of
`documents` is byte-identical to the source scale factor (same
doc_ids, same text), so the engine's sf1syn fingerprints restricted
to replica-0 doc_ids must equal the already-oracle-verified source-SF
output row for row, and the full output must carry exactly factor×
the source rows (every replica fingerprints independently).

Usage: fingerprint_subset_check.py <src_out> <syn_out> [factor=10] [K=100000000]
"""
import sys, glob
import pandas as pd

src_out, syn_out = sys.argv[1], sys.argv[2]
factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
K = int(sys.argv[4]) if len(sys.argv) > 4 else 100000000

def load(d):
    return pd.concat([pd.read_parquet(f)
                      for f in sorted(glob.glob(f"{d}/doc_fingerprint/*.parquet"))])

src = load(src_out).sort_values("doc_id").reset_index(drop=True)
syn = load(syn_out)
rep0 = syn[syn.doc_id < K].sort_values("doc_id").reset_index(drop=True)

# ScaleUp additionally PLANTS rare-shingle pair docs in every replica
# rep >= 1 (round 11: 20 pairs x 2 members, ids at rep*K + 10^7 + ...)
# so the near-dup pair family survives heavy replication. Those docs
# fingerprint like any other, so the total is factor x src + planted;
# the replica-0 block stays byte-identical (planted ids only exist at
# rep >= 1, and 10^7 is far above any real source doc_id).
PAIR_BASE = 10_000_000
assert src.doc_id.max() < PAIR_BASE, \
    f"source doc_id {src.doc_id.max()} reaches the planted-pair id base " \
    f"{PAIR_BASE}: real rows would be classified as planted"
planted = syn[(syn.doc_id % K) >= PAIR_BASE]
expected_planted = 20 * (factor - 1) * 2

ok = True
if len(planted) != expected_planted:
    print(f"FAIL planted rows: {len(planted)} != {expected_planted}"); ok = False
if len(syn) != factor * len(src) + expected_planted:
    print(f"FAIL rows: syn={len(syn)} != {factor}x src={len(src)} "
          f"+ {expected_planted} planted"); ok = False
if len(rep0) != len(src):
    print(f"FAIL replica0 rows: {len(rep0)} != {len(src)}"); ok = False
elif not rep0.equals(src):
    neq = (rep0 != src).any(axis=1)
    print(f"FAIL replica0 values: {int(neq.sum())} differing rows, first:\n"
          f"{rep0[neq].head(3)}\nvs\n{src[neq].head(3)}"); ok = False
if ok:
    print(f"OK   doc_fingerprint replica-0 subset: {len(src)} rows exact-equal "
          f"to oracle-verified source SF; total rows = {factor}x "
          f"+ {expected_planted} planted")
sys.exit(0 if ok else 1)
