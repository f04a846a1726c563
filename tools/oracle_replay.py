#!/usr/bin/env python3
"""Replay a graft.Verify dump against its own oracle_sql.json in DuckDB.

Mirrors the driver's check: each table <sf>/<name>.parquet is registered as a
view named <name>; each query's oracle SQL runs in DuckDB and is compared to
the Spark dump: the oracle's full column set must equal the dump's (compared
by sorted column name), and rows must be equal as an order-insensitive
multiset (exact `EXCEPT ALL` both ways: no tolerance, no rounding).

Usage: python3 tools/oracle_replay.py SF_DIR DUMP_DIR [query ...]
Exit 0 iff every checked query matches; a query filter that names an unknown
query, or matches none, exits 2.
"""
import json
import os
import sys

import duckdb

sf, dump = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

with open(os.path.join(dump, "oracle_sql.json")) as f:
    oracles = json.load(f)
unknown = sorted(only - set(oracles))
if unknown:
    print(f"unknown queries: {' '.join(unknown)}")
    sys.exit(2)

con = duckdb.connect()
for fn in sorted(os.listdir(sf)):
    if fn.endswith(".parquet"):
        name = fn[: -len(".parquet")]
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf}/{fn}')")

bad = 0
n = 0
for q in sorted(oracles):
    if only and q not in only:
        continue
    qdir = os.path.join(dump, q)
    if not os.path.isdir(qdir):
        print(f"MISSING {q}: no spark dump")
        bad += 1
        continue
    n += 1
    try:
        spark_rel = con.sql(f"SELECT * FROM '{qdir}/*.parquet'")
        cols = sorted(spark_rel.columns)
        collist = ", ".join(f'"{c}"' for c in cols)
        con.execute(f"CREATE OR REPLACE VIEW __spark AS SELECT {collist} FROM '{qdir}/*.parquet'")
        con.execute(f"CREATE OR REPLACE VIEW __oracle_raw AS WITH __o AS ({oracles[q]}) SELECT * FROM __o")
        ocols = sorted(c[0] for c in con.execute("DESCRIBE __oracle_raw").fetchall())
        if ocols != cols:
            print(f"SCHEMA  {q}: spark {cols} vs oracle {ocols}")
            bad += 1
            continue
        con.execute(f"CREATE OR REPLACE VIEW __oracle AS SELECT {collist} FROM __oracle_raw")
        d = con.execute(
            "SELECT count(*) FROM ((SELECT * FROM __spark EXCEPT ALL SELECT * FROM __oracle)"
            " UNION ALL (SELECT * FROM __oracle EXCEPT ALL SELECT * FROM __spark))"
        ).fetchone()[0]
        if d != 0:
            print(f"ROWS    {q}: {d} differing rows")
            bad += 1
    except Exception as e:  # noqa: BLE001
        print(f"ERROR   {q}: {str(e).splitlines()[0][:200]}")
        bad += 1
print(f"replayed {n} queries against DuckDB, {bad} mismatched")
if n == 0:
    sys.exit(2)
sys.exit(1 if bad else 0)
