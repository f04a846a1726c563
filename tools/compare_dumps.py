#!/usr/bin/env python3
"""Compare two graft.Verify dump dirs (parquet per query): order-insensitive
row-multiset + schema equality per query, via DuckDB. Usage:
  python3 tools/compare_dumps.py BASE_DIR NEW_DIR [query ...]
Prints one line per differing query; exit 0 iff all equal. A query filter
that names a query absent from BASE_DIR, or matches none, exits 2."""
import sys, os
import duckdb

base, new = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])
qs = sorted(d for d in os.listdir(base)
            if os.path.isdir(os.path.join(base, d)) and (not only or d in only))
unknown = sorted(only - set(qs))
if unknown or not qs:
    print(f"unknown queries: {' '.join(unknown)}" if unknown else "no queries to check")
    sys.exit(2)
con = duckdb.connect()
bad = 0
for q in qs:
    nb = os.path.join(new, q)
    if not os.path.isdir(nb):
        print(f"MISSING {q}")
        bad += 1
        continue
    try:
        bcols = con.execute(f"DESCRIBE SELECT * FROM '{base}/{q}/*.parquet'").fetchall()
        ncols = con.execute(f"DESCRIBE SELECT * FROM '{new}/{q}/*.parquet'").fetchall()
        if [c[:2] for c in bcols] != [c[:2] for c in ncols]:
            print(f"SCHEMA  {q}: {[c[:2] for c in bcols]} vs {[c[:2] for c in ncols]}")
            bad += 1
            continue
        d1 = con.execute(
            f"SELECT count(*) FROM ((SELECT * FROM '{base}/{q}/*.parquet' EXCEPT ALL "
            f"SELECT * FROM '{new}/{q}/*.parquet') UNION ALL "
            f"(SELECT * FROM '{new}/{q}/*.parquet' EXCEPT ALL "
            f"SELECT * FROM '{base}/{q}/*.parquet'))").fetchone()[0]
        if d1 != 0:
            print(f"ROWS    {q}: {d1} differing rows")
            bad += 1
    except Exception as e:
        print(f"ERROR   {q}: {e}")
        bad += 1
print(f"checked {len(qs)} queries, {bad} mismatched")
sys.exit(1 if bad else 0)
