#!/usr/bin/env python3
"""Independent numpy replay of the four embedding near-dup queries
(dedup_embedding / semdedup / knn_graph / label_noise) at an arbitrary
sign-LSH width — the substitute oracle for scales where the DuckDB
replay is infeasible.

Why this exists: the queries' DEFAULT 6-bit bands (64 buckets/band)
exist so the DuckDB oracle can embed the hyperplanes as SQL literals;
that bucket space is corpus-quadratic by construction (LSH_SCALE.md)
and at sf10 (200k vectors in 100-member near-dup cliques) it yields
~2.5e9 candidate pairs — infeasible for BOTH engines, and not a
configuration any large corpus would run. The query entries therefore
resolve the dense-regime width (rowsPerBand=16 at sf10) through
Similarity.AutoWidth, graft.Verify dumps those outputs, and this tool
replays the same definition independently:

- same splitmix64 hyperplanes (ported bit-exactly; float32 planes),
- same bucket rule (sign-bit polynomial, band-major/row-minor),
- same float64 cosine (index-ordered MAC replayed EXACTLY for any
  pair whose blocked-BLAS value sits within 1e-9 of a decision
  boundary — the sign, the minCosine threshold, or a round-half-up
  digit at the 4th decimal),
- same keeper (component-min), rank (rounded-cos DESC, neighbor id),
  and agreement semantics.

Validation chain: run with --bands 8 --rows 6 against a DuckDB-oracle-
verified verify dir (sf0.01/sf0.1) — it must print 4× OK there before
its sf10 verdicts count.

Usage: embedding_check.py <sfdir> <outdir> [--bands 8] [--rows 16]
Exits 0 iff all four outputs match.
"""
import glob
import math
import sys
from decimal import Decimal, ROUND_HALF_UP

import numpy as np
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
BANDS, ROWS = 8, 16
argv = sys.argv[3:]
while argv:
    if argv[0] == "--bands":
        BANDS = int(argv[1]); argv = argv[2:]
    elif argv[0] == "--rows":
        ROWS = int(argv[1]); argv = argv[2:]
    else:
        sys.exit(f"unknown arg {argv[0]}")

MIN_COS_DEDUP = 0.35   # dedup_embedding / semdedup
MIN_COS_KNN = 0.2      # knn_graph / label_noise
K = 5
GUARD = 1e-9


def splitmix64(x):
    """Vectorized splitmix64 over uint64."""
    z = (x + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def hyperplane(p, dims=64):
    """Port of graft.operators.Similarity.hyperplane — float32 plane."""
    d = np.arange(dims, dtype=np.uint64)
    seeds = np.uint64(p * 1009) + d
    z = splitmix64(seeds)
    return (((z >> np.uint64(11)).astype(np.float64) / float(1 << 53))
            - 0.5).astype(np.float32)


def round4(x):
    """Spark/DuckDB ROUND(x, 4): HALF_UP on the shortest decimal repr
    (BigDecimal.valueOf <-> Python repr)."""
    return float(Decimal(repr(float(x)))
                 .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def read_parquet_any(path, columns=None):
    files = sorted(glob.glob(path) or glob.glob(f"{path}/*.parquet"))
    assert files, f"no parquet at {path}"
    return pd.concat([pd.read_parquet(f, columns=columns) for f in files])


df = read_parquet_any(f"{sfdir}/embeddings.parquet")
df = df.sort_values("vec_id").reset_index(drop=True)
vec_ids = df["vec_id"].to_numpy()
labels = df["label"].to_numpy().astype(np.int64)
E32 = np.stack(df["embedding"].to_numpy())          # float32 (n, dims)
E = E32.astype(np.float64)
n, dims = E.shape
print(f"[embedding_check] {n} vectors, dim {dims}, "
      f"bands={BANDS} rows={ROWS}", flush=True)

P32 = np.stack([hyperplane(p, dims) for p in range(BANDS * ROWS)])
P = P32.astype(np.float64)                          # (BANDS*ROWS, dims)


def seq_dot(a32, b32):
    """Index-ordered float64 MAC — graft.functions.VectorDot."""
    s = 0.0
    for x, y in zip(a32.tolist(), b32.tolist()):
        s += x * y
    return s


def seq_cosine(a32, b32):
    """graft.functions.VectorCosine.compute, bit-exact."""
    dot = na = nb = 0.0
    for x, y in zip(a32.tolist(), b32.tolist()):
        dot += x * y
        na += x * x
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


# --- sign bits, with near-zero guard replayed sequentially ----------
D = E @ P.T                                          # (n, BANDS*ROWS)
near0 = np.argwhere(np.abs(D) < GUARD)
for i, p in near0:
    D[i, p] = seq_dot(E32[i], P32[p])
bits = D > 0

weights = np.array([1 << i for i in range(ROWS)], dtype=np.int64)
buckets = np.stack([bits[:, b * ROWS:(b + 1) * ROWS] @ weights
                    for b in range(BANDS)], axis=1)  # (n, BANDS)

# --- candidate pairs: share >=1 (band, bucket); ids ordered ---------
# df is vec_id-sorted, so index order == vec_id order and index pairs
# (i < j) reproduce Spark's a.vec_id < b.vec_id exactly.
pair_keys = []
for b in range(BANDS):
    order = np.argsort(buckets[:, b], kind="stable")
    bkt = buckets[order, b]
    starts = np.flatnonzero(np.r_[True, bkt[1:] != bkt[:-1]])
    bounds = np.r_[starts, len(bkt)]
    for s, e in zip(bounds[:-1], bounds[1:]):
        if e - s < 2:
            continue
        idx = np.sort(order[s:e]).astype(np.int64)
        a, c = np.triu_indices(len(idx), k=1)
        pair_keys.append(idx[a] * n + idx[c])
pair_keys = (np.unique(np.concatenate(pair_keys))
             if pair_keys else np.empty(0, dtype=np.int64))
ia, ib = pair_keys // n, pair_keys % n
print(f"[embedding_check] {len(ia)} distinct candidate pairs", flush=True)

# --- exact cosine per candidate, guard-replayed ---------------------
CHUNK = 4_000_000
sims = np.empty(len(ia), dtype=np.float64)
for s in range(0, len(ia), CHUNK):
    e = min(s + CHUNK, len(ia))
    A, B = E[ia[s:e]], E[ib[s:e]]
    dot = np.einsum("ij,ij->i", A, B)
    na = np.einsum("ij,ij->i", A, A)
    nb = np.einsum("ij,ij->i", B, B)
    sims[s:e] = dot / (np.sqrt(na) * np.sqrt(nb))
# replay any sim near a decision boundary with the exact MAC:
# the thresholds, and the half-up digit at the 4th decimal
frac = np.abs((sims * 10000) - np.floor(sims * 10000) - 0.5)
guard = (np.abs(sims - MIN_COS_DEDUP) < GUARD) \
    | (np.abs(sims - MIN_COS_KNN) < GUARD) | (frac < 1e-6)
gidx = np.flatnonzero(guard)
for g in gidx:
    sims[g] = seq_cosine(E32[ia[g]], E32[ib[g]])
print(f"[embedding_check] {len(gidx)} boundary pairs replayed exactly",
      flush=True)

fails = 0


def check(name, expected_rows, actual_df, cols):
    global fails
    actual = sorted(map(tuple, actual_df[cols].itertuples(index=False,
                                                          name=None)))
    expected = sorted(expected_rows)
    if actual == expected:
        print(f"OK   {name} ({len(actual)} rows, numpy-replay)", flush=True)
    else:
        fails += 1
        aset, eset = set(actual), set(expected)
        miss = sorted(eset - aset)[:3]
        extra = sorted(aset - eset)[:3]
        print(f"FAIL {name}: expected {len(expected)} rows, got "
              f"{len(actual)}; missing {miss}, extra {extra}", flush=True)


# --- dedup_embedding -------------------------------------------------
keep = sims >= MIN_COS_DEDUP
ka, kb, ks = ia[keep], ib[keep], sims[keep]
exp = [(int(vec_ids[a]), int(vec_ids[b]), round4(s))
       for a, b, s in zip(ka, kb, ks)]
got = read_parquet_any(f"{outdir}/dedup_embedding")
check("dedup_embedding", exp, got, ["vec_a", "vec_b", "cos_sim"])

# --- semdedup (connected components over the 0.35 pairs) ------------
parent = np.arange(n)


def find(x):
    root = x
    while parent[root] != root:
        root = parent[root]
    while parent[x] != root:
        parent[x], x = root, parent[x]
    return root


for a, b in zip(ka, kb):
    ra, rb = find(a), find(b)
    if ra != rb:
        parent[max(ra, rb)] = min(ra, rb)
roots = np.array([find(i) for i in range(n)])
# component keeper = min vec_id = min index (vec_id-sorted)
exp = [(int(vec_ids[i]), int(vec_ids[roots[i]]))
       for i in range(n) if roots[i] != i]
got = read_parquet_any(f"{outdir}/semdedup")
check("semdedup", exp, got, ["vec_id", "keeper_id"])

# --- knn_graph (k=5 over the 0.2 pairs, rounded-cos rank) -----------
keep2 = sims >= MIN_COS_KNN
sa, sb, ss = ia[keep2], ib[keep2], sims[keep2]
r4 = np.array([round4(s) for s in ss])
sym_src = np.concatenate([sa, sb])
sym_dst = np.concatenate([sb, sa])
sym_cos = np.concatenate([r4, r4])
# rank within src by (cos DESC, neighbor vec_id ASC)
order = np.lexsort((vec_ids[sym_dst], -sym_cos, vec_ids[sym_src]))
src_o, dst_o, cos_o = sym_src[order], sym_dst[order], sym_cos[order]
starts = np.flatnonzero(np.r_[True, src_o[1:] != src_o[:-1]])
rank = np.arange(len(src_o)) - np.repeat(starts, np.diff(np.r_[starts, len(src_o)])) + 1
topk = rank <= K
exp = [(int(vec_ids[s]), int(vec_ids[d]), float(c), int(r))
       for s, d, c, r in zip(src_o[topk], dst_o[topk], cos_o[topk],
                             rank[topk])]
got = read_parquet_any(f"{outdir}/knn_graph")
check("knn_graph", exp, got, ["vec_id", "neighbor_id", "cos_sim", "rank"])

# --- label_noise (agreement over the same kNN edges) ----------------
agg = {}
for s, d in zip(src_o[topk], dst_o[topk]):
    nn, ag = agg.get(s, (0, 0))
    agg[s] = (nn + 1, ag + (1 if labels[d] == labels[s] else 0))
exp = [(int(vec_ids[s]), int(labels[s]), int(nn), int(ag),
        round4(ag / nn)) for s, (nn, ag) in agg.items()]
got = read_parquet_any(f"{outdir}/label_noise")
check("label_noise", exp, got,
      ["vec_id", "label", "n_neighbors", "n_agree", "agreement"])

sys.exit(1 if fails else 0)
