#!/usr/bin/env python3
"""Big-SF oracle sweep orchestrator: route every query to the right
compare harness, record one JSONL row per query, resume for free.

Routing (the r18/r19 sweep playbook, see the memory notes in
bench/correctness_sf*_full_*.json):
  * q_moveout_*_long -> tools/moveout_oracle_chunked.py (the unnest is
    traces x 16 candidates x 1000 positions; per-cell independence makes
    cell-range chunking exact)
  * everything else -> tools/compare_oracle_duck.py (whole compare inside
    DuckDB: except-all multiset diff, spills under memory_limit)

Usage:
  python3 tools/sf_sweep.py <dump_dir> <sf_dir> <results.jsonl> \
      [--timeout SEC] [query ...]
  (no query args = every query in <dump_dir>/oracle_sql.json; queries
  with an ok=true row already in results.jsonl are skipped, so re-running
  after a crash or with a longer timeout only does the remaining work)

Env: GRAFT_DUCKDB_{MEMORY,THREADS,TMP} forwarded to every harness.
"""
import json
import os
import subprocess
import sys
import time

MOVEOUT_CHUNKED = {"q_moveout_scan_long", "q_moveout_semblance_long",
                   "q_moveout_panel_long"}
TOOLS = os.path.dirname(os.path.abspath(__file__))

dump_dir, sf_dir, results_path = sys.argv[1], sys.argv[2], sys.argv[3]
rest = sys.argv[4:]
timeout = 3600
if rest and rest[0] == "--timeout":
    timeout = int(rest[1])
    rest = rest[2:]

oracle = json.load(open(f"{dump_dir}/oracle_sql.json"))
names = rest if rest else sorted(oracle)

done = set()
if os.path.exists(results_path):
    for line in open(results_path):
        try:
            row = json.loads(line)
            if row.get("ok"):
                done.add(row["query"])
        except json.JSONDecodeError:
            pass


def append(row):
    with open(results_path, "a") as f:
        f.write(json.dumps(row) + "\n")


for name in names:
    if name in done:
        print(f"skip {name} (already ok)", flush=True)
        continue
    if name in MOVEOUT_CHUNKED:
        cmd = [sys.executable, f"{TOOLS}/moveout_oracle_chunked.py",
               dump_dir, sf_dir, name,
               os.environ.get("GRAFT_MOVEOUT_CELLS", "8")]
        harness = "moveout_chunked"
    else:
        cmd = [sys.executable, f"{TOOLS}/compare_oracle_duck.py",
               dump_dir, sf_dir, name]
        harness = "duck"
    t0 = time.time()
    try:
        p = subprocess.run(cmd, capture_output=True, text=True,
                           timeout=timeout)
        out = p.stdout + p.stderr
        ok_line = next((ln for ln in out.splitlines()
                        if ln.startswith("OK   ")), None)
        fail_line = next((ln for ln in out.splitlines()
                          if ln.startswith("FAIL ")), None)
        dt = round(time.time() - t0, 1)
        if ok_line and not fail_line:
            rows = None
            if "(" in ok_line:
                tok = ok_line.split("(")[1].split(" ")[0]
                rows = int(tok) if tok.isdigit() else None
            print(f"OK   {name} [{harness}] {dt}s", flush=True)
            append({"query": name, "ok": True, "rows": rows, "sec": dt,
                    "harness": harness})
        else:
            msg = (fail_line or out.strip().splitlines()[-1]
                   if out.strip() else "no output")[:300]
            print(f"FAIL {name} [{harness}] {dt}s: {msg}", flush=True)
            append({"query": name, "ok": False, "sec": dt,
                    "harness": harness, "err": msg})
    except subprocess.TimeoutExpired:
        print(f"TIMEOUT {name} [{harness}] after {timeout}s", flush=True)
        append({"query": name, "ok": False, "sec": timeout,
                "harness": harness, "err": f"timeout after {timeout}s"})

n_ok = len({r["query"] for r in map(json.loads, open(results_path))
            if r.get("ok")})
print(f"\nsweep done: {n_ok} ok total in {results_path}")
