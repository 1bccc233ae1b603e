#!/usr/bin/env python3
"""Replica-0 substitute checks for `dedup_simhash` and `doc_chunk_cdc`
at synthetic scales where the DuckDB oracle is infeasible on this host
(dedup_simhash's candidate pipeline spills >60 GB; doc_chunk_cdc's
string_agg reassembly exceeds a 90 GB memory limit un-spillably).

ScaleUp keeps replica 0 byte-identical to the source SF, and both
queries are decided by doc-id-local rules, so the synthetic output
restricted to replica-0 keys must equal the ORACLE-VERIFIED source-SF
output exactly:

- dedup_simhash (doc_a, doc_b, hamming): the signature is a pure
  per-document function of text; candidacy (pigeonhole block
  equality) and the verify (hamming <= k) are pair-local. Pairs with
  BOTH endpoints in replica 0 therefore depend on replica-0 text
  alone == the source-SF pair set.
- doc_chunk_cdc (doc_id, chunk_id, n_chunk_tokens, chunk_text):
  chunk boundaries are per-document (rolling-hash cut rule), so these
  four columns restricted to replica-0 docs equal the source SF. The
  fifth column, n_docs_sharing, counts sharers ACROSS replicas (CDC
  re-synchronizes after the per-replica prefix edit, so replicas DO
  share chunk text with replica 0) — it is instead checked by an
  independent full-output recount: group the synthetic output by
  chunk_text and require COUNT(DISTINCT doc_id) to equal every row's
  n_docs_sharing.

The cross-replica interaction these subset checks cannot see is
covered by the full DuckDB oracle replay at sf1 (10 replicas,
docs/rounds/CORRECTNESS_sf1.json).

Usage: replica0_check.py <query> <src_out> <syn_out> [K=100000000]
"""
import glob
import os
import sys

# SELFCHECK_NO_PANDAS=1 routes every read/compare through DuckDB (the
# incident host kills pandas with an uncatchable SIGBUS — see
# selfcheck.py / HOST_INCIDENT.md)
if os.environ.get("SELFCHECK_NO_PANDAS"):
    pd = None
else:
    import pandas as pd
import duckdb

query, src_out, syn_out = sys.argv[1], sys.argv[2], sys.argv[3]
K = int(sys.argv[4]) if len(sys.argv) > 4 else 100000000

_con = duckdb.connect()
_con.execute("SET preserve_insertion_order=false")


def files(d, q):
    fs = sorted(glob.glob(f"{d}/{q}/*.parquet"))
    assert fs, f"no parquet at {d}/{q}"
    return fs


def rows(d, q, cols, where="TRUE"):
    collist = ", ".join('"%s"' % c for c in cols)
    return sorted(_con.execute(
        f"SELECT {collist} FROM read_parquet({files(d, q)!r}) "
        f"WHERE {where}").fetchall())


def nrows(d, q):
    return _con.execute(
        f"SELECT count(*) FROM read_parquet({files(d, q)!r})").fetchone()[0]

if query in ("dedup_simhash", "dedup_minhash_lsh"):
    # both are pair-local: signature = pure per-doc function of text,
    # candidacy = bucket/block equality of the two signatures, verify
    # (hamming / jaccard) = function of the two docs — so pairs with
    # both endpoints in replica 0 depend on replica-0 text alone
    metric = "hamming" if query == "dedup_simhash" else "jaccard"
    cols = ("doc_a", "doc_b", metric)
    a = rows(syn_out, query, cols, f"doc_a < {K} AND doc_b < {K}")
    e = rows(src_out, query, cols)
    if a != e:
        print(f"FAIL {query}: replica-0 pairs {len(a)} != source {len(e)}")
        sys.exit(1)
    print(f"OK   {query} (replica-0 block {len(a)} rows exact-equal "
          f"to oracle-verified source SF; {nrows(syn_out, query)} total rows)")
elif query == "doc_chunk_cdc":
    cols = ("doc_id", "chunk_id", "n_chunk_tokens", "chunk_text")
    a = rows(syn_out, query, cols, f"doc_id < {K}")
    e = rows(src_out, query, cols)
    if a != e:
        print(f"FAIL doc_chunk_cdc: replica-0 chunks {len(a)} != source {len(e)}")
        sys.exit(1)
    # replica-0 n_docs_sharing counts cross-replica sharers — recount
    # independently over the full synthetic output
    nbad, ntot = _con.execute(f"""
        WITH syn AS (SELECT * FROM read_parquet({files(syn_out, query)!r})),
             rc AS (SELECT chunk_text, COUNT(DISTINCT doc_id) AS n
                    FROM syn GROUP BY 1)
        SELECT count(*) FILTER (WHERE syn.n_docs_sharing != rc.n), count(*)
        FROM syn JOIN rc USING (chunk_text)""").fetchone()
    if nbad:
        print(f"FAIL doc_chunk_cdc: {nbad} rows with inconsistent "
              f"n_docs_sharing")
        sys.exit(1)
    print(f"OK   doc_chunk_cdc (replica-0 block {len(a)} rows exact-equal; "
          f"n_docs_sharing recount consistent on all {ntot} rows)")
else:
    sys.exit(f"unknown query {query}")
