"""DuckDB oracle compare for the verification pass.

Each query's Spark output (`<out>/<name>/*.parquet`) is compared with its
`SparkEntry.oracleSql` entry run by DuckDB over the same input tables:
column names (sorted), dtype classes, row count, then cell values in
order, with floats rounded to 9 places. Same rules as tools/check.py.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _tclass(t):
    t = str(t).lower()
    if t.startswith("decimal") or t == "hugeint":
        return "decimal"
    if t in ("tinyint", "smallint", "integer", "bigint",
             "utinyint", "usmallint", "uinteger", "ubigint"):
        return "int"
    return t


def _typemap(cols, types):
    m = {}
    for c, t in zip(cols, types):
        m.setdefault(c, []).append(_tclass(t))
    return {c: sorted(ts) for c, ts in m.items()}


def connect(tables_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        path = f"{tables_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def compare(con, out_dir, name, sql):
    """None when the outputs agree, else a one-line reason."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return "MISSING-SPARK: no output written"
    if sql is None:
        return None  # rows-only query: it ran, nothing to compare
    sq = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
    scols, stypes, srows = sq.columns, sq.types, sq.fetchall()
    try:
        oq = con.sql(sql)
        ocols, otypes, orows = oq.columns, oq.types, oq.fetchall()
    except Exception as e:  # the oracle itself failed
        return f"ORACLE-ERR: {str(e).splitlines()[0][:200]}"
    st, ot = _typemap(scols, stypes), _typemap(ocols, otypes)
    for c in sorted(set(st) & set(ot)):
        if st[c] != ot[c]:
            return f"DTYPE-MISMATCH: {c} spark={st[c]} oracle={ot[c]}"
    if sorted(scols) != sorted(ocols):
        return f"COLS-MISMATCH: spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return f"ROWS-MISMATCH: spark={len(srows)} oracle={len(orows)}"
    si = [scols.index(c) for c in sorted(scols)]
    oi = [ocols.index(c) for c in sorted(ocols)]
    for rn, (a, b) in enumerate(zip(srows, orows)):
        av = tuple(_norm(a[i]) for i in si)
        bv = tuple(_norm(b[i]) for i in oi)
        if av != bv:
            return f"VAL-MISMATCH: row {rn} spark={str(av)[:120]} oracle={str(bv)[:120]}"
    return None
