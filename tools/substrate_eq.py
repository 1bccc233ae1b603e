#!/usr/bin/env python3
"""Substrate content-equality check for two data directories.

Compares two dirs of parquet tables table-by-table on four
layout-independent aggregates of the full-row DuckDB hash:
count, sum(hash), bit_xor(hash), and sum(low32(hash)^2) — commutative,
so file layout / row order cannot mask or fake a difference.  Use it
to show that two generations of a substrate (e.g. two ScaleUp runs, or
one before and one after a change to how files are written) carry the
same row content whatever their file and row-group layout.

Usage: substrate_eq.py DIR_A DIR_B [label]
Exits non-zero on any mismatch; prints one line per table either way.
"""
import sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def stats(con, d, t):
    q = (f"SELECT count(*), sum(hash(t)::HUGEINT), bit_xor(hash(t)), "
         f"sum((hash(t)&4294967295)::HUGEINT*(hash(t)&4294967295)::HUGEINT) "
         f"FROM read_parquet('{d}/{t}.parquet/*.parquet') t")
    return con.execute(q).fetchone()

def main():
    a, b = sys.argv[1], sys.argv[2]
    label = sys.argv[3] if len(sys.argv) > 3 else ""
    con = duckdb.connect()
    bad = 0
    for t in TABLES:
        sa, sb = stats(con, a, t), stats(con, b, t)
        ok = sa == sb
        bad += 0 if ok else 1
        print(f"{'EQUAL' if ok else 'DIFF '} {label} {t}: "
              f"A(n={sa[0]}, sum={sa[1]}, xor={sa[2]}, sq={sa[3]}) "
              f"B(n={sb[0]}, sum={sb[1]}, xor={sb[2]}, sq={sb[3]})",
              flush=True)
    print(f"{'ALL EQUAL' if bad == 0 else f'{bad} TABLES DIFFER'} "
          f"{label} ({len(TABLES)} tables): {a} vs {b}", flush=True)
    sys.exit(1 if bad else 0)

if __name__ == "__main__":
    main()
