#!/usr/bin/env python3
"""Replica of the correctness gate's semantics (pandas-based): exact
values, no float rounding. The one local definition of green.

Flow (mirrors CORRECTNESS_r{N}.json generation as observed):
  - spark side: pandas.read_parquet(outdir/<name>)
  - oracle side: duckdb.sql(oracle_sql).df()
  - lowercase column names, sort columns by name
  - sort_values by all columns (this CRASHES on list/ndarray cells ->
    the driver records err)
  - exact cell-by-cell compare (stand-in for the driver's value hash)

Usage: python3 scripts/drivercheck.py <sfdir> <verify_outdir> [query ...]
"""
import sys, json, math, os, glob
import duckdb
import pandas as pd
import numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))


def canon(df):
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def cell_repr(v):
    """Exact, type-faithful repr of a cell as the driver's hash would see it."""
    if v is None:
        return "NULL"
    # bools BEFORE the int branch: isinstance(True, int) is True, and
    # np.bool_ is not an int subclass — without this, a Python bool reprs
    # as 'int:1' while np.bool_ falls through to 'bool_:True'.
    if isinstance(v, (bool, np.bool_)):
        return "bool:" + ("true" if bool(v) else "false")
    if isinstance(v, float):
        if math.isnan(v):
            return "float:NaN"
        return "float:" + repr(v)
    if isinstance(v, (np.floating,)):
        f = float(v)
        return "float:NaN" if math.isnan(f) else "float:" + repr(f)
    if isinstance(v, (int, np.integer)):
        return "int:" + str(int(v))
    if isinstance(v, pd.Timestamp):
        return "ts:" + v.isoformat()
    import datetime
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        # driver-observed: DATE and midnight TIMESTAMP hash the same
        return "ts:" + v.isoformat() + "T00:00:00"
    if v is pd.NaT:
        return "NULL"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return type(v).__name__ + ":" + str(v)


npass = nfail = nerr = 0
fails = []
# Result dirs without an oracle entry would otherwise be silently
# skipped, masking missing oracle coverage.
uncovered = sorted(
    d for d in os.listdir(outdir)
    if os.path.isdir(os.path.join(outdir, d)) and d not in oracle)
for d in uncovered:
    print(f"WARN  result dir '{d}' has no oracle_sql.json entry")
if only:
    for n in sorted(only - set(oracle)):
        print(f"WARN  requested query '{n}' not in oracle_sql.json")
for name in sorted(oracle):
    if only and name not in only:
        continue
    pq = f"{outdir}/{name}"
    if not glob.glob(f"{pq}/*.parquet"):
        print(f"MISS  {name}")
        nfail += 1; fails.append(name)
        continue
    try:
        duck = canon(con.sql(oracle[name]).df())
        spark = canon(pd.read_parquet(pq))
    except Exception as e:
        print(f"ERR   {name}: {type(e).__name__}: {str(e)[:160]}")
        nerr += 1; fails.append(name)
        continue
    if list(duck.columns) != list(spark.columns):
        print(f"COLS  {name}: spark={list(spark.columns)} duck={list(duck.columns)}")
        nfail += 1; fails.append(name)
        continue
    if len(duck) != len(spark):
        print(f"ROWS  {name}: spark={len(spark)} duck={len(duck)}")
        nfail += 1; fails.append(name)
        continue
    diff = None
    for col in duck.columns:
        sv, dv = spark[col].tolist(), duck[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            ra, rb = cell_repr(a), cell_repr(b)
            if ra != rb:
                diff = (col, i, ra, rb,
                        str(spark[col].dtype), str(duck[col].dtype))
                break
        if diff:
            break
    if diff:
        col, i, ra, rb, sdt, ddt = diff
        print(f"DIFF  {name}: col={col} row={i} spark={ra} ({sdt}) duck={rb} ({ddt})")
        nfail += 1; fails.append(name)
    else:
        npass += 1
        print(f"PASS  {name} ({len(spark)} rows)")

print(f"\n{npass} pass, {nfail} fail, {nerr} err")
if fails:
    print("failing:", " ".join(fails))
sys.exit(1 if fails else 0)
