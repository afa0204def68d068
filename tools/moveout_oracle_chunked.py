#!/usr/bin/env python3
"""Chunked DuckDB oracle for the q_moveout_*_long family at big scale
factors (the r18 sf1 blocker: the replay unnests traces x 16 candidates x
1000 positions ~ 6e9 rows at sf1, which DuckDB materializes through the
unnest+groupby pipeline far beyond the box).

Chunking is exact: every CTE after
`t` keys on `cell` (the group-bys and the final row_number PARTITION BY
cell), so the replay of a cell subset is independent of every other cell
and the union over a partition of the 512 cells is bit-identical to the
unchunked run. The rewrite is mechanical: the generated SQL's `t` CTE
filter `FROM lineitem WHERE l_orderkey % 16 = 0` gains
`AND (l_suppkey % 512) BETWEEN lo AND hi`; each slice's FINAL SELECT rows
land in a temp accumulation table; the compare runs against the union.

Usage:
  python3 tools/moveout_oracle_chunked.py <verify_out_dir> <sf_dir> \
      <query> [cells_per_slice]

<query> is one of q_moveout_scan_long / q_moveout_semblance_long /
q_moveout_panel_long. Prints the same OK/FAIL line format as
compare_oracle.py. Env: GRAFT_DUCKDB_{MEMORY,THREADS,TMP}.
"""
import glob
import json
import os
import sys
import time

import duckdb

out_dir, sf_dir, qname = sys.argv[1], sys.argv[2], sys.argv[3]
cells_per_slice = int(sys.argv[4]) if len(sys.argv) > 4 else 8
N_CELLS = 512

con = duckdb.connect()
con.sql(f"SET memory_limit='{os.environ.get('GRAFT_DUCKDB_MEMORY', '24GB')}'")
con.sql(f"SET threads={int(os.environ.get('GRAFT_DUCKDB_THREADS', '16'))}")
if os.environ.get("GRAFT_DUCKDB_TMP"):
    con.sql(f"SET temp_directory='{os.environ['GRAFT_DUCKDB_TMP']}'")
    con.sql("SET max_temp_directory_size='120GB'")
con.sql(f"CREATE VIEW lineitem AS FROM '{sf_dir}/lineitem.parquet'")

sql = json.load(open(f"{out_dir}/oracle_sql.json"))[qname]

FILTER_MARK = "FROM lineitem WHERE l_orderkey % 16 = 0"
assert sql.count(FILTER_MARK) == 1, \
    "oracle SQL shape changed; update FILTER_MARK"
assert "PARTITION BY cell" in sql or "GROUP BY" in sql

t_all = time.time()
first = True
for lo in range(0, N_CELLS, cells_per_slice):
    hi = lo + cells_per_slice - 1
    sliced = sql.replace(
        FILTER_MARK,
        f"{FILTER_MARK} AND (l_suppkey % 512) BETWEEN {lo} AND {hi}")
    t0 = time.time()
    if first:
        con.sql(f"CREATE TEMP TABLE o AS {sliced}")
        first = False
    else:
        con.sql(f"INSERT INTO o {sliced}")
    n = con.sql("SELECT count(*) FROM o").fetchone()[0]
    print(f"  cells {lo}-{hi}: {time.time()-t0:.1f}s (acc {n} rows)",
          flush=True)

files = sorted(glob.glob(f"{out_dir}/{qname}/*.parquet"))
assert files, f"no spark output for {qname}"
flist = ", ".join(f"'{f}'" for f in files)
otypes = {r[0]: r[1] for r in con.sql("DESCRIBE o").fetchall()}
cols = sorted(otypes)
cast = ", ".join(f'"{c}"::{otypes[c]} AS "{c}"' for c in cols)
proj = ", ".join(f'"{c}"' for c in cols)
con.sql(f"CREATE TEMP VIEW s AS SELECT {cast} "
        f"FROM read_parquet([{flist}])")
scols = sorted(r[0] for r in con.sql(
    f"DESCRIBE SELECT * FROM read_parquet([{flist}])").fetchall())
if scols != cols:
    print(f"FAIL {qname}: columns spark={scols} oracle={cols}")
    sys.exit(1)
n_s = con.sql("SELECT count(*) FROM s").fetchone()[0]
n_o = con.sql("SELECT count(*) FROM o").fetchone()[0]
if n_s != n_o:
    print(f"FAIL {qname}: rows spark={n_s} oracle={n_o}")
    sys.exit(1)
diff = con.sql(
    f"SELECT count(*) FROM ("
    f"(SELECT {proj} FROM s EXCEPT ALL SELECT {proj} FROM o) UNION ALL "
    f"(SELECT {proj} FROM o EXCEPT ALL SELECT {proj} FROM s))"
).fetchone()[0]
if diff:
    ex = con.sql(f"SELECT {proj} FROM s EXCEPT ALL SELECT {proj} FROM o "
                 f"LIMIT 3").fetchall()
    print(f"FAIL {qname}: {diff} multiset-diff rows "
          f"(spark-only sample: {ex})")
    sys.exit(1)
print(f"OK   {qname} ({n_s} rows, {time.time()-t_all:.1f}s total, "
      f"{N_CELLS // cells_per_slice} slices)")
