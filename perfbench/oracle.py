"""DuckDB oracle comparison for the analytics workload.

Same rules as the repository's tools/check_oracle.py: for each query the
harness dumped (one parquet directory per query plus oracle_sql.json), run
its oracle SQL over the same generated tables, and require equal column
names, equal column types (integer widths up to 64 bits count as one
type) and equal rows after sorting.
"""
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
NARROW_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
               "USMALLINT", "UINTEGER"}


def _norm(t):
    s = str(t)
    return "INT<=64" if s in NARROW_INTS else s


def _rows(con, rel, cols):
    order = ", ".join('"%s"' % c for c in cols)
    rows = con.sql(f"SELECT {order} FROM rel").fetchall()
    return sorted(rows, key=lambda r: tuple((v is None, v) for v in r))


def compare(con, got_dir, sql):
    """None when the engine's result matches the oracle, else the reason."""
    got = con.sql(f"SELECT * FROM parquet_scan('{got_dir}/*.parquet')")
    exp = con.sql(sql)
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    gt = sorted(zip(got.columns, map(_norm, got.types)))
    et = sorted(zip(exp.columns, map(_norm, exp.types)))
    if gt != et:
        return f"types {[(g, e) for g, e in zip(gt, et) if g != e]}"
    cols = sorted(got.columns)
    g = _rows(con, got, cols)
    e = _rows(con, exp, cols)
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    bad = [i for i, (x, y) in enumerate(zip(g, e)) if x != y]
    return f"{len(bad)} rows differ, first at {bad[0]}" if bad else None


def check(data_dir, dump_dir):
    """{query: reason} for every dumped query that does not match."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for name, sql in sorted(oracles.items()):
        try:
            why = compare(con, os.path.join(dump_dir, name), sql)
        except Exception as ex:  # a query the oracle cannot run is a failure too
            why = f"{type(ex).__name__}: {str(ex)[:200]}"
        if why:
            bad[name] = why
    return bad
