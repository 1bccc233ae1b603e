"""Output checks against graft's DuckDB oracles (SparkEntry.oracleSqlFor),
with tools/selfcheck.py's comparison rules: columns by name, rows as a
multiset, floats compared after ROUND(4).

Small results are compared by digest: the harness digests the rows it
collected (perfbench/harness/Main.scala, object Digest) and `digest`
below computes the same value over the oracle's rows. Oracle digests are
cached per input set. Table-sized results (the written mart) are
compared inside DuckDB with EXCEPT ALL in both directions.
"""
import datetime
import decimal
import hashlib
import json
import os

import duckdb

from gen import TABLES, VERSION

_Q = decimal.Decimal("0.0001")


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "\\N"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        v = decimal.Decimal(v)
    if isinstance(v, decimal.Decimal):
        d = v.quantize(_Q, rounding=decimal.ROUND_HALF_EVEN)
        return "0" if d == 0 else format(d.normalize(), "f")
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")
    return f"{len(rows)}:{total % (1 << 64):x}"


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET preserve_insertion_order = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _cached(cache_dir, name, sql, ext):
    key = hashlib.sha256(f"{VERSION}\n{sql}".encode()).hexdigest()[:16]
    os.makedirs(cache_dir, exist_ok=True)
    return f"{cache_dir}/{name}.{key}.{ext}"


def oracle_digest(cache_dir, data_dir, name, sql):
    """Digest of oracle `name` over `data_dir`, cached in `cache_dir`."""
    path = _cached(cache_dir, name, sql, "digest")
    if os.path.exists(path):
        return open(path).read()
    con = connect(data_dir)
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    d = digest(cols, cur.fetchall())
    con.close()
    with open(path + ".tmp", "w") as f:
        f.write(d)
    os.replace(path + ".tmp", path)
    return d


def oracle_table(cache_dir, data_dir, name, sql):
    """Oracle `name` over `data_dir` as a parquet file, cached."""
    path = _cached(cache_dir, name, sql, "parquet")
    if not os.path.exists(path):
        con = connect(data_dir)
        con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
        con.close()
        os.replace(path + ".tmp", path)
    return path


def _canon_select(con, rel, drop=()):
    """SELECT of `rel` with every column cast to a comparable VARCHAR."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    out = []
    for name, typ, *_ in sorted(cols):
        if name in drop:
            continue
        if typ in ("DOUBLE", "FLOAT", "REAL") or typ.startswith("DECIMAL"):
            out.append(f"CAST(ROUND(CAST({name} AS DOUBLE), 4) AS VARCHAR) AS {name}")
        else:
            out.append(f"CAST({name} AS VARCHAR) AS {name}")
    return f"SELECT {', '.join(out)} FROM {rel}"


def multiset_digest(con, rel, drop=()):
    """(row count, order-insensitive hash sum) of `rel`'s canonical rows."""
    c = _canon_select(con, rel, drop)
    names = [d[0] for d in con.execute(f"DESCRIBE {c}").fetchall()]
    n, h = con.execute(f"SELECT count(*), sum(hash({', '.join(names)})::HUGEINT) "
                       f"FROM ({c})").fetchone()
    return names, n, int(h or 0)


def _cached_digest(path, compute):
    if os.path.exists(path):
        return tuple(json.load(open(path)))
    d = compute()
    with open(path + ".tmp", "w") as f:
        json.dump(d, f)
    os.replace(path + ".tmp", path)
    return tuple(d)


def check_mart(mart_dir, data_dir, cache_dir, feed_path, sql):
    """The written mart after materialize + mergeFact: every dimension
    equals its oracle, and the fact equals the fact_build oracle with the
    feed's rows merged in by key. Returns failures."""
    fails = []
    con = duckdb.connect()
    con.execute("SET threads = 4")
    checks = [(dim, oname, f"read_parquet('{mart_dir}/{dim}/*.parquet')", ())
              for dim, oname in [("dim_date", "dim_date"), ("dim_location", "dim_location"),
                                 ("dim_band", "dim_band"), ("dim_precip_type", "dim_precip_type"),
                                 ("dim_source", "dim_source"),
                                 ("normalized_location", "normalized_3nf")]]
    checks.append(("fact after mergeFact", "fact_build",
                   f"read_parquet('{mart_dir}/fact_weather_day/*/*.parquet', "
                   f"hive_partitioning = true)", ("year",)))
    for what, oname, got, drop in checks:
        table = oracle_table(cache_dir, data_dir, oname, sql[oname])
        want = f"read_parquet('{table}')"
        key = table
        if oname == "fact_build":
            want = (f"(SELECT w.* FROM {want} w ANTI JOIN read_parquet('{feed_path}') f "
                    f"USING (date_key, l_orderkey, l_linenumber) "
                    f"UNION ALL SELECT * FROM read_parquet('{feed_path}'))")
            key = feed_path
        w = _cached_digest(key + ".digest.json", lambda: multiset_digest(con, want, drop))
        g = multiset_digest(con, got, drop)
        if g != w:
            fails.append(f"mart {what}: (columns, rows, hash) {g} != oracle {w}")
    con.close()
    return fails


def load_json(path):
    with open(path) as f:
        return json.load(f)
