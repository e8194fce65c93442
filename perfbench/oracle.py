"""Correctness for query_mix: each gate query's result against its DuckDB
oracle (`graft.SparkEntry.oracleSql`), and the lookup table's expected
answers.  Queries without an oracle get the gate's row-count check (the
result must not be empty)."""
import datetime
import glob
import math
import os
import random

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float("%.9g" % v)
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        # a date equals the timestamp of its midnight (Spark's date_trunc
        # gives a timestamp where DuckDB's gives a date)
        return datetime.datetime(v.year, v.month, v.day)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "as_integer_ratio") and not isinstance(v, int):   # Decimal
        return float("%.9g" % float(v))
    return v


def _rows(con, sql):
    return sorted((tuple(_norm(x) for x in r) for r in con.execute(sql).fetchall()), key=repr)


def connect(sf):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, t + ".parquet")
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, p))
    return con


def check_results(results_dir, sf, records, oracles):
    """{query: {"ok", "rows", "why"}} for every record of the check pass."""
    con = connect(sf)
    out = {}
    for r in records:
        name = r["name"]
        if r["error"]:
            out[name] = {"ok": False, "why": r["error"][:300]}
            continue
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        got = _rows(con, "SELECT * FROM read_parquet(%r)" % files) if files else []
        sql = oracles.get(name)
        if sql is None:
            out[name] = {"ok": len(got) > 0, "rows": len(got), "why": "row-count check"}
            continue
        try:
            want = _rows(con, sql)
        except duckdb.Error as e:
            out[name] = {"ok": False, "why": "oracle failed: %s" % str(e)[:200]}
            continue
        out[name] = {"ok": got == want, "rows": len(got), "oracle_rows": len(want)}
    return out


def lookup_table(sf, seed, out_parquet, n):
    """query_mix's lookup table: a seeded ~90% subset of `orders`, written
    to `out_parquet`, and `n` lookup keys for it (three in four present,
    one in four absent: dropped from the subset or past the last key).
    Returns (keys, {key: expected o_custkey list})."""
    con = connect(sf)
    rng = random.Random(seed)
    keep = "hash(o_orderkey + %d) %% 10 <> 0" % seed
    con.execute("COPY (SELECT * FROM orders WHERE %s ORDER BY o_orderkey) TO '%s' (FORMAT PARQUET)"
                % (keep, out_parquet))
    rows = con.execute("SELECT o_orderkey, o_custkey, %s FROM orders ORDER BY o_orderkey"
                       % keep).fetchall()
    kept = [(k, c) for k, c, keep_it in rows if keep_it]
    present = dict(kept)
    absent = [k for k, _, keep_it in rows if not keep_it] + [rows[-1][0] + 1]
    keys, expect = [], {}
    for i in range(n):
        if i % 4 == 3:
            k = absent[rng.randrange(len(absent))]
        else:
            k = kept[rng.randrange(len(kept))][0]
        keys.append(str(k))
        expect[str(k)] = [present[k]] if k in present else []
    return keys, expect
