#!/usr/bin/env python3
"""Local driver-style correctness harness.

Usage: python3 tools/check.py [verify_out_dir] [sf_dir]

Reads Verify.scala's output (parquet per query + oracle_sql.json),
runs each oracle in DuckDB over the same sf parquet tables, and
compares: schema (column names), row count, and values (columns
sorted by name, rows sorted by all columns). Mirrors what the round
driver does so oracle drift is caught before commit.
"""
import glob
import json
import math
import sys

import duckdb
import pandas as pd

OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
# optional: comma-separated query-name filter (mirrors Verify's arg 3)
ONLY = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

con = duckdb.connect()
# Bound DuckDB so one pathological oracle fails alone instead of
# taking the whole replay down: without a memory limit the OS
# OOM-killer terminates the process silently (no summary, no
# per-query verdicts), and without a temp cap a runaway spill fills
# the disk. Both limits surface as catchable per-query errors. The
# memory limit is half the host's MemTotal (at least 1 GiB), so it
# can bind before the OOM-killer does on any host.
with open("/proc/meminfo") as f:
    mem_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
con.sql(f"PRAGMA memory_limit='{max(1, mem_kib // 2097152)}GiB'")
con.sql("PRAGMA temp_directory='/tmp/duckdb_spill'")
con.sql("PRAGMA max_temp_directory_size='40GB'")
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
if ONLY is not None:
    oracle = {k: v for k, v in oracle.items() if k in ONLY}
fail = 0
for name in sorted(oracle):
    files = glob.glob(f"{OUT}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output")
        fail += 1
        continue
    got = con.sql(f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')").df()
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error {str(e)[:200]}")
        fail += 1
        continue
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        print(f"FAIL {name}: columns {gc} != {ec}")
        fail += 1
        continue
    got, exp = got[gc], exp[gc]
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
        fail += 1
        continue
    got = got.sort_values(gc).reset_index(drop=True)
    exp = exp.sort_values(gc).reset_index(drop=True)
    # The round driver hashes raw values, so an int64 column on one
    # side and float64 on the other (e.g. DuckDB HUGEINT -> float64)
    # hash-mismatches even when numerically equal. Catch that here.
    kind_bad = [(c, str(got[c].dtype), str(exp[c].dtype)) for c in gc
                if got[c].dtype.kind != exp[c].dtype.kind]
    if kind_bad:
        c, gk, ek = kind_bad[0]
        print(f"FAIL {name}: dtype kind col={c} spark={gk} oracle={ek}")
        fail += 1
        continue
    bad = None
    for c in gc:
        gv, ev = got[c], exp[c]
        for i in range(len(gv)):
            a, b = gv.iloc[i], ev.iloc[i]
            if isinstance(a, float) or isinstance(b, float):
                an = a is None or (isinstance(a, float) and math.isnan(a))
                bn = b is None or (isinstance(b, float) and math.isnan(b))
                ok = (an and bn) or (not an and not bn and a == b)
            else:
                ok = (a == b) or (pd.isna(a) and pd.isna(b))
            if not ok:
                bad = (c, i, a, b)
                break
        if bad:
            break
    if bad:
        c, i, a, b = bad
        print(f"FAIL {name}: value mismatch col={c} row={i} spark={a!r} oracle={b!r}")
        fail += 1
    else:
        print(f"PASS {name} ({len(got)} rows, {len(gc)} cols)")

print(f"\n{len(oracle) - fail}/{len(oracle)} queries match")
sys.exit(1 if fail else 0)
