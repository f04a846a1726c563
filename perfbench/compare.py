#!/usr/bin/env python3
"""Compare two commits on the benchmark with alternating pairs.

Run the pairs (each pair runs both sides on the same seed; the side that
runs first alternates from pair to pair):

    python3 perfbench/compare.py run --parent ../parent --change . \\
        --workload chain-iterate --pairs 10 --out pairs.jsonl

Then print a verdict for every workload x metric:

    python3 perfbench/compare.py report pairs.jsonl

A verdict follows the paired rule: "improved" needs the change to win at
least 9 of 10 pairs (ties count for neither) and the medians to differ by
more than the parent's own spread (q3 - q1). Where the parent's spread, as a
share of its median, exceeds the metric's bound, the metric is "unresolved"
unless every change run beats every parent run. Otherwise it is "worse" when
the change median is worse than the parent median by more than the bound,
and "within bound" when it is not. Per-layer metrics have no bound and are
reported as "improved", "worse" or "no claim". The error rate (failed over
attempted operations) is compared as well.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
MIN_PAIRS = 10  # a gain (or a per-layer loss) is claimed only over at least this many pairs


def load_bench(path):
    return json.loads(pathlib.Path(path).read_text())


def run_pairs(a):
    bench = load_bench(a.bench)
    trace = "1" if a.trace else "0"
    dirs = {"parent": pathlib.Path(a.parent).resolve(), "change": pathlib.Path(a.change).resolve()}
    with open(a.out, "a") as out:
        for i in range(a.pairs):
            seed = a.seed_base + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                          "--seconds", str(bench["run_seconds"]), "--trace", trace]
                p = subprocess.run(cmd, cwd=dirs[side], capture_output=True, text=True)
                if p.returncode != 0:
                    sys.stderr.write(p.stderr[-3000:])
                    sys.exit(f"{side} run failed on seed {seed}")
                result = json.loads(p.stdout.strip().splitlines()[-1])
                out.write(json.dumps({"workload": a.workload, "pair": i, "seed": seed, "side": side,
                                      "first": order[0], "result": result}) + "\n")
                out.flush()
                print(f"pair {i} {side}: correct={result['correct']}", file=sys.stderr)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, better, bound):
    """Verdict for one metric from values paired by index."""
    lower = better == "lower"
    pm, cm = statistics.median(parent), statistics.median(change)
    p1, p3 = quartiles(parent)
    wins = sum(1 for p, c in zip(parent, change) if (c < p if lower else c > p))
    win_frac = wins / len(parent)
    gain = (pm - cm) if lower else (cm - pm)
    dominates = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    if len(parent) >= MIN_PAIRS and win_frac >= 0.9 and gain > (p3 - p1):
        v = "improved"
    elif bound is None:
        losses = sum(1 for p, c in zip(parent, change) if (c > p if lower else c < p))
        v = "worse" if len(parent) >= MIN_PAIRS and losses / len(parent) >= 0.9 and -gain > (p3 - p1) else "no claim"
    elif pm != 0 and (p3 - p1) / abs(pm) > bound and not dominates:
        v = "unresolved"
    elif pm != 0 and -gain / abs(pm) > bound:
        v = "worse"
    else:
        v = "within bound"
    return pm, (p1, p3), cm, quartiles(change), win_frac, v


def report(a):
    bench = load_bench(a.bench)
    specs = {m["name"]: (m["better"], m.get("bound")) for m in bench["end_to_end"] + bench["per_layer"]}
    rows = [json.loads(line) for line in pathlib.Path(a.results).read_text().splitlines() if line.strip()]
    status = 0
    for wl in sorted({r["workload"] for r in rows}):
        by_pair = {}
        for r in rows:
            if r["workload"] == wl:
                by_pair.setdefault(r["pair"], {})[r["side"]] = r["result"]
        pairs = [p for _, p in sorted(by_pair.items()) if "parent" in p and "change" in p]
        if not pairs:
            continue
        print(f"\n== {wl}: {len(pairs)} pairs" +
              (f" (fewer than {MIN_PAIRS}: no gain can be claimed)" if len(pairs) < MIN_PAIRS else ""))
        print(f"{'metric':34s} {'parent median [q1, q3]':>34s} {'change median [q1, q3]':>34s} {'wins':>5s}  verdict")
        for side in ("parent", "change"):
            att = sum(p[side]["attempted"] for p in pairs)
            fail = sum(p[side]["failed"] for p in pairs)
            print(f"{'error_rate (' + side + ')':34s} {fail}/{att} = {fail / att:.4f}")
        pe = sum(p["parent"]["failed"] for p in pairs) / sum(p["parent"]["attempted"] for p in pairs)
        ce = sum(p["change"]["failed"] for p in pairs) / sum(p["change"]["attempted"] for p in pairs)
        if ce > pe:
            print("error_rate: worse")
            status = 1
        names = [n for n in pairs[0]["parent"]["metrics"] if all(n in p[s]["metrics"] for p in pairs
                                                                   for s in ("parent", "change"))]
        for name in names:
            better, bound = specs.get(name, ("lower", None))
            pv = [p["parent"]["metrics"][name]["value"] for p in pairs]
            cv = [p["change"]["metrics"][name]["value"] for p in pairs]
            pm, pq, cm, cq, wf, v = verdict(pv, cv, better, bound)
            if v == "worse" and bound is not None:
                status = 1
            print(f"{name:34s} {pm:12.5g} [{pq[0]:9.5g}, {pq[1]:9.5g}] {cm:12.5g} [{cq[0]:9.5g}, {cq[1]:9.5g}]"
                  f" {wf:5.2f}  {v}")
    return status


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--bench", default=str(HERE.parent / "BENCHMARK.json"), help="BENCHMARK.json to read")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run alternating parent/change pairs")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed-base", type=int, default=1000, help="pair i runs on seed base + i")
    r.add_argument("--trace", action="store_true", help="compare the per-layer metrics instead")
    r.add_argument("--out", required=True, help="JSON lines file to append results to")
    p = sub.add_parser("report", help="print verdicts from a results file")
    p.add_argument("results")
    a = ap.parse_args()
    if a.cmd == "run":
        run_pairs(a)
    else:
        sys.exit(report(a))


if __name__ == "__main__":
    main()
