#!/usr/bin/env python3
"""Count base-relation scans in a directory of plan dumps (`*.txt`: the
`<runId>_superstep.txt` files the GRAFT_EXPLAIN_DIR hook writes, or
graft.tools.PlanDump output). A plan that scans its input more than once
re-derives it: each scan in the operator tree is one more read of the
table, unless the copies are shared through a `ReusedExchange`. Usage:
  python3 tools/scan_counts.py PLAN_DIR
Prints one line per file, sorted by total scans descending: the total, then
the count per kind (`Scan parquet`, `InMemoryTableScan`, `Scan ExistingRDD`
— a pinned frame —, `LocalTableScan`). Only operator-tree lines count, not
the `(n) Name` detail sections of `explain("formatted")`. A cached
relation's fill plan is printed, and counted, under every `InMemoryRelation`
that reads it. The dumps are plans before execution, so exchanges that AQE
later reuses still count once per copy.
Exits 2 if the directory has no `*.txt` files."""
import os
import re
import sys

KINDS = ["Scan parquet", "InMemoryTableScan", "Scan ExistingRDD", "LocalTableScan"]
# a tree line: indentation and tree glyphs, an optional codegen marker
# (`*(3) ` in plan strings, `* ` in formatted plans), then the operator
TREE_LINE = re.compile(r"^[\s:|+\-]*(?:\*(?:\(\d+\))?\s*)?(?:File)?(" + "|".join(map(re.escape, KINDS)) + r")\b")


def scans(path):
    counts = dict.fromkeys(KINDS, 0)
    with open(path, encoding="utf-8") as f:
        for line in f:
            m = TREE_LINE.match(line)
            if m:
                counts[m.group(1)] += 1
    return counts


d = sys.argv[1]
files = sorted(f for f in os.listdir(d) if f.endswith(".txt")) if os.path.isdir(d) else []
if not files:
    print(f"no plans in {d}")
    sys.exit(2)
rows = [(f[:-4], scans(os.path.join(d, f))) for f in files]
rows.sort(key=lambda r: (-sum(r[1].values()), r[0]))
print(f"{'total':>5} {'parquet':>7} {'inmem':>5} {'rdd':>5} {'local':>5}  plan")
for name, c in rows:
    print(f"{sum(c.values()):>5} {c['Scan parquet']:>7} {c['InMemoryTableScan']:>5} "
          f"{c['Scan ExistingRDD']:>5} {c['LocalTableScan']:>5}  {name}")
