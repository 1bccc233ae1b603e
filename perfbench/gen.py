"""Seeded benchmark inputs, generated with DuckDB from the driver test
data (default /root/testdata, or $GRAFT_BENCH_TESTDATA).

One input set per seed, shared by every workload:

  data/              the ten sf0.1 tables, each in a seeded row order. The
                     values are the test data's own, so every oracle result
                     is the same for all seeds and is computed once; the
                     seed changes the physical layout the engine reads.
  feed.parquet       the mergeFact update feed, fact-shaped: a seeded 1% of
                     the fact_build oracle's rows with a changed measure,
                     plus a seeded 0.1% re-keyed as new lines (inserts)
  seed_docs.parquet  a seeded sample of documents that seeds the curation
                     indexes
  batches/bN.parquet curation micro-batches: the sf0.01 documents in a
                     seeded order, every third word tagged per batch (the
                     CURATION_SCALE.md recipe: novel content that still
                     passes the quality gate)
"""
import os
import shutil

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
BASE_SF = "sf0.1"
BATCH_SF = "sf0.01"
SEED_DOCS = 500
N_BATCHES = 3
# bump when the generated content changes: it keys the input and oracle caches
VERSION = 2


def testdata_root():
    return os.environ.get("GRAFT_BENCH_TESTDATA", "/root/testdata")


def check_testdata():
    root = testdata_root()
    missing = [f"{root}/{sf}/{t}.parquet" for sf in (BASE_SF, BATCH_SF)
               for t in TABLES if not os.path.isfile(f"{root}/{sf}/{t}.parquet")]
    if missing:
        raise SystemExit(f"perfbench: test data missing: {missing[0]}")


def _copy(con, select, path):
    con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")


def generate(seed, out):
    """Write the seed's tables, seed docs and batches into `out`."""
    check_testdata()
    src = f"{testdata_root()}/{BASE_SF}"
    bsrc = f"{testdata_root()}/{BATCH_SF}"
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("data", "batches"):
        os.makedirs(f"{tmp}/{d}")
    con = duckdb.connect()
    con.execute("SET threads = 2")
    s = int(seed)
    for t in TABLES:
        _copy(con, f"SELECT * EXCLUDE (file_row_number) FROM "
                   f"read_parquet('{src}/{t}.parquet', file_row_number = true) "
                   f"ORDER BY hash(file_row_number, {s})", f"{tmp}/data/{t}.parquet")
    _copy(con, f"SELECT doc_id, text, source, lang FROM read_parquet('{src}/documents.parquet') "
               f"ORDER BY hash(doc_id, {s} + 2) LIMIT {SEED_DOCS}",
          f"{tmp}/seed_docs.parquet")
    for b in range(N_BATCHES):
        # a short tag: longer words would fail the gate's word-length rule
        tag = f"z{chr(97 + s % 26)}{b}"
        _copy(con, f"""
            SELECT doc_id + {(b + 1) * 1_000_000_000} AS doc_id,
              array_to_string(list_transform(string_split(text, ' '),
                (w, i) -> CASE WHEN (i - 1) % 3 = 0 THEN w || '{tag}' ELSE w END), ' ') AS text,
              source, lang
            FROM read_parquet('{bsrc}/documents.parquet')
            ORDER BY hash(doc_id, {s}, {b})""", f"{tmp}/batches/b{b}.parquet")
    con.close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def feed(seed, fact_oracle, out):
    """Write the seed's mergeFact feed, sampled from the oracle fact."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    f = f"read_parquet('{fact_oracle}')"
    h = f"hash(l_orderkey, l_linenumber, {int(seed)} + 1)"
    _copy(con, f"""
        SELECT * REPLACE (round(avg_temp_f + 1.25, 2) AS avg_temp_f) FROM {f} WHERE {h} % 100 = 0
        UNION ALL
        SELECT * REPLACE (l_linenumber + 100 AS l_linenumber) FROM {f} WHERE {h} % 1000 = 7""",
          out + ".tmp")
    con.close()
    os.replace(out + ".tmp", out)
