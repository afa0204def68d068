#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare.

Usage: python3 tools/compare_oracle.py /tmp/verify_out /root/testdata/sf0.01
For each query in oracle_sql.json: run the SQL in DuckDB over the sf tables,
read the Spark parquet result, sort columns by name + rows by all columns,
and compare values exactly (strict — the driver hashes).
"""
import json, sys, glob
import duckdb
import pandas as pd
import numpy as np

out_dir, sf_dir = sys.argv[1], sys.argv[2]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
# Resource knobs for big-SF sweeps (the r18 sf10 run was OOM-killed with
# DuckDB's default 80%-of-RAM limit while a Spark JVM shared the box):
#   GRAFT_DUCKDB_MEMORY (e.g. '32GB'), GRAFT_DUCKDB_THREADS, GRAFT_DUCKDB_TMP
import os
if os.environ.get("GRAFT_DUCKDB_MEMORY"):
    con.sql(f"SET memory_limit='{os.environ['GRAFT_DUCKDB_MEMORY']}'")
if os.environ.get("GRAFT_DUCKDB_THREADS"):
    con.sql(f"SET threads={int(os.environ['GRAFT_DUCKDB_THREADS'])}")
if os.environ.get("GRAFT_DUCKDB_TMP"):
    con.sql(f"SET temp_directory='{os.environ['GRAFT_DUCKDB_TMP']}'")
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for comparison
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)

fails = 0
for name in sorted(oracle):
    sql = oracle[name]
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        fails += 1
        continue
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output")
        fails += 1
        continue
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if sorted(got.columns) != sorted(exp.columns):
        print(f"FAIL {name}: columns spark={sorted(got.columns)} oracle={sorted(exp.columns)}")
        fails += 1
        continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows spark={len(got)} oracle={len(exp)}")
        fails += 1
        continue
    g, e = canon(got), canon(exp)
    ok = True
    for c in g.columns:
        gv, ev = g[c].to_numpy(), e[c].to_numpy()
        if gv.dtype.kind == "f" or (ev.dtype.kind == "f"):
            same = np.array_equal(gv.astype(float), ev.astype(float), equal_nan=True)
            if not same:
                diff = np.abs(gv.astype(float) - ev.astype(float))
                bad = int((~np.isclose(gv.astype(float), ev.astype(float),
                                       rtol=0, atol=0, equal_nan=True)).sum())
                print(f"FAIL {name}: col {c} float mismatch rows={bad} maxdiff={np.nanmax(diff)}")
                ok = False
        else:
            if not (gv == ev).all():
                bad = int((gv != ev).sum())
                i = int(np.argmax(gv != ev))
                print(f"FAIL {name}: col {c} mismatch rows={bad} first: spark={gv[i]!r} oracle={ev[i]!r}")
                ok = False
    if ok:
        print(f"OK   {name} ({len(got)} rows)")
    else:
        fails += 1

no_oracle = [q for q in
             [p.split("/")[-1] for p in glob.glob(f"{out_dir}/q_*")]
             if q not in oracle]
print(f"\n{len(oracle)} oracled, {fails} FAIL; rows-only (no oracle): {sorted(no_oracle)}")
# a failed compare must not read as a pass to anything that checks only
# the exit status
sys.exit(1 if fails > 0 else 0)
