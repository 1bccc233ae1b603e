#!/usr/bin/env python3
"""Independent replay of the `semdedup` query for scales where the
DuckDB oracle is infeasible.

The SQL oracle generates LSH candidates with a 6-bit/band signature —
64 buckets per band — so candidate pairs grow QUADRATICALLY with corpus
size: at sf1 (250k vectors) that is ~4e9 pairs through a DISTINCT and a
recursive transitive closure, which DuckDB cannot finish in bounded
time (the Spark side streams the same join across 32 threads in
seconds). The DEFINITION is engine-checked at sf0.01/sf0.1 by the
normal gate; this tool replays the same definition at big scales with
the right kit: BLAS for the bucket-blocked pairwise cosines and a
union-find for the connected components.

Faithfulness: the hyperplanes are parsed OUT OF the oracle SQL itself
(the same literals DuckDB would use), the bucket rule is the same
sign-bit polynomial, the edge rule the same cosine >= threshold on
float64, and keeper = min vec_id of the connected component.

Usage: semdedup_check.py <sfdir> <verify_outdir>
Exit 0 and "OK semdedup (...)" when Spark's parquet output matches.
"""
import glob
import json
import re
import sys

import numpy as np
import pandas as pd

MIN_COSINE = 0.35

sfdir, outdir = sys.argv[1], sys.argv[2]

sql = json.load(open(f"{outdir}/oracle_sql.json"))["semdedup"]
# The LSH geometry is corpus-size-dependent (Similarity.AutoWidth /
# AutoBands occupancy rule since r12) — parse bands AND rows/band OUT
# OF the oracle SQL instead of hardcoding the r9-era 8x6 (a hardcoded
# geometry silently diverges the replay the moment the width rule
# resolves differently, which is exactly what r16 found when this tool
# was first re-run post-r12).
band_ids = re.findall(r"(\d+) AS band", sql)
BANDS = max(int(b) for b in band_ids) + 1
all_planes = re.findall(r"list_dot_product\(emb, (\[[^\]]*\])", sql)
# embeddingNearDupBody is inlined twice (src->dst and dst->src); the
# first half is one full band-major, row-minor plane set.
assert len(band_ids) == 2 * BANDS, \
    f"{len(band_ids)} band literals, expected 2*{BANDS}: the near-dup " \
    "body is no longer inlined exactly twice"
assert len(all_planes) % (2 * BANDS) == 0, \
    f"{len(all_planes)} plane literals not divisible by 2*{BANDS} bands"
ROWS = (len(all_planes) // 2) // BANDS
print(f"[semdedup_check] geometry from oracle SQL: {BANDS} bands x {ROWS} rows",
      flush=True)
planes = [np.array(json.loads(m), dtype=np.float64)
          for m in all_planes[:BANDS * ROWS]]
P = np.stack(planes)                                   # (bands*rows, dim)

emb_files = sorted(glob.glob(f"{sfdir}/embeddings.parquet")
                   or glob.glob(f"{sfdir}/embeddings.parquet/*.parquet"))
df = pd.concat([pd.read_parquet(f, columns=["vec_id", "embedding"]) for f in emb_files])
vec_ids = df["vec_id"].to_numpy()
E = np.stack(df["embedding"].to_numpy()).astype(np.float64)   # (n, dim)
n = len(vec_ids)
print(f"[semdedup_check] {n} vectors, dim {E.shape[1]}", flush=True)

bits = (E @ P.T) > 0                                   # (n, 48)
weights = np.array([1 << i for i in range(ROWS)])
buckets = np.stack([bits[:, b * ROWS:(b + 1) * ROWS] @ weights
                    for b in range(BANDS)], axis=1)    # (n, BANDS)

norms = np.linalg.norm(E, axis=1)

# Union-find over vector INDICES (labels compare by vec_id at the end).
parent = np.arange(n)
def find(x):
    root = x
    while parent[root] != root:
        root = parent[root]
    while parent[x] != root:
        parent[x], x = root, parent[x]
    return root

edges = 0
for b in range(BANDS):
    order = np.argsort(buckets[:, b], kind="stable")
    bkt = buckets[order, b]
    starts = np.flatnonzero(np.r_[True, bkt[1:] != bkt[:-1]])
    bounds = np.r_[starts, len(bkt)]
    for s, e in zip(bounds[:-1], bounds[1:]):
        idx = order[s:e]
        if len(idx) < 2:
            continue
        # blocked pairwise cosine inside the bucket
        block = 4096
        Eb, nb = E[idx], norms[idx]
        for i0 in range(0, len(idx), block):
            i1 = min(i0 + block, len(idx))
            sims = (Eb[i0:i1] @ Eb.T) / np.outer(nb[i0:i1], nb)
            ai, bj = np.nonzero(sims >= MIN_COSINE)
            for a, c in zip(ai, bj):
                ga, gc = idx[i0 + a], idx[c]
                if ga == gc:
                    continue
                ra, rc = find(ga), find(gc)
                if ra != rc:
                    parent[max(ra, rc)] = min(ra, rc)
                    edges += 1

roots = np.array([find(i) for i in range(n)])
# component keeper = min vec_id within the component
comp_min = {}
for i in range(n):
    r = roots[i]
    v = vec_ids[i]
    if r not in comp_min or v < comp_min[r]:
        comp_min[r] = v
expected = sorted((int(vec_ids[i]), int(comp_min[roots[i]]))
                  for i in range(n) if vec_ids[i] != comp_min[roots[i]])

got_files = sorted(glob.glob(f"{outdir}/semdedup/*.parquet"))
got = pd.concat([pd.read_parquet(f) for f in got_files])
actual = sorted((int(r.vec_id), int(r.keeper_id))
                for r in got.itertuples(index=False))

if actual == expected:
    print(f"OK   semdedup ({len(actual)} rows, {edges} tree edges)")
else:
    miss = set(expected) - set(actual)
    extra = set(actual) - set(expected)
    print(f"FAIL semdedup: expected {len(expected)} rows, got {len(actual)}; "
          f"missing {list(sorted(miss))[:5]}, extra {list(sorted(extra))[:5]}")
    sys.exit(1)
