#!/usr/bin/env python3
"""Compare two directories of plan dumps (`*.txt`: the `<runId>_superstep.txt`
files the GRAFT_EXPLAIN_DIR hook writes, or graft.tools.PlanDump output) for
plan identity. Before comparing, each file is normalized: expression ids
(`#123`), RDD ids (`MapPartitionsRDD[581]`), plan ids (`plan_id=13711`) and
the `File.scala:32` call sites of RDD names change from run to run or with
unrelated edits, so they are blanked. Usage:
  python3 tools/compare_plans.py BASE_DIR NEW_DIR [name ...]
`name` is a file stem such as `pagerank_superstep`. Prints one line per
differing file plus its first differing lines; exit 0 iff all identical,
1 on any difference (including a file present on only one side). A name
filter that names a file absent from both dirs, or a selection with no
files, exits 2."""
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"(\w+RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r" at [\w$.]+\.(scala|java):\d+"), " at <site>"),
]


def stems(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def normalized(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return text.splitlines()


base, new = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])
both = stems(base) | stems(new)
names = sorted(n for n in both if not only or n in only)
unknown = sorted(only - both)
if unknown or not names:
    print(f"unknown plans: {' '.join(unknown)}" if unknown else "no plans to check")
    sys.exit(2)
bad = 0
for n in names:
    b, c = os.path.join(base, n + ".txt"), os.path.join(new, n + ".txt")
    if not os.path.exists(b) or not os.path.exists(c):
        print(f"MISSING {n}: only in {base if os.path.exists(b) else new}")
        bad += 1
        continue
    bl, cl = normalized(b), normalized(c)
    if bl != cl:
        print(f"PLAN    {n}")
        diff = difflib.unified_diff(bl, cl, base, new, n=0, lineterm="")
        for line in list(diff)[2:12]:
            print(f"        {line}")
        bad += 1
print(f"checked {len(names)} plans, {bad} differing")
sys.exit(1 if bad else 0)
