#!/usr/bin/env python3
"""A/B comparison of two sets of benchmark artifacts.

    python3 perfbench/compare.py <dir A> <dir B>

Each directory holds artifacts written by run.py (`--out`). Runs are
paired by workload, seed and trace; a pair whose recorded conf differs
makes the comparison fail (exit 1). For every workload and metric of
BENCHMARK.json, prints each side's median and quartiles, how many pairs
B wins (ties count for neither), and whether B's median is worse than
A's by more than the metric's bound. Contended runs are listed.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    runs = {}
    for p in glob.glob(os.path.join(d, "*.json")):
        with open(p) as f:
            a = json.load(f)
        c = a["conf"]
        runs[(c["workload"], c["seed"], c["trace"])] = a
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(dir_a, dir_b):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    a, b = load(dir_a), load(dir_b)
    keys = sorted(set(a) & set(b))
    if not keys:
        print("no runs pair up (workload, seed, trace)")
        return 1
    bad = [(k, x, a[k]["conf"].get(x), b[k]["conf"].get(x)) for k in keys
           for x in sorted(set(a[k]["conf"]) | set(b[k]["conf"]))
           if a[k]["conf"].get(x) != b[k]["conf"].get(x)]
    for k, x, va, vb in bad:
        print(f"REFUSED {k}: conf {x} differs: {va} vs {vb}")
    if bad:
        return 1
    status = 0
    for m in spec["end_to_end"] + spec["per_layer"]:
        for w in sorted({k[0] for k in keys}):
            pairs = [(a[k]["result"]["metrics"][m["name"]]["value"],
                      b[k]["result"]["metrics"][m["name"]]["value"])
                     for k in keys if k[0] == w
                     and m["name"] in a[k]["result"]["metrics"]]
            if not pairs:
                continue
            sign = 1 if m["better"] == "higher" else -1
            wins = sum(sign * (y - x) > 0 for x, y in pairs)
            losses = sum(sign * (y - x) < 0 for x, y in pairs)
            qa = quartiles([x for x, _ in pairs])
            qb = quartiles([y for _, y in pairs])
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            verdict = ""
            if "bound" in m and -sign * change > m["bound"]:
                verdict, status = "  WORSE THAN BOUND", 1
            print(f"{w:12s} {m['name']:32s} A {qa[1]:.5g} [{qa[0]:.5g}, {qa[2]:.5g}]"
                  f"  B {qb[1]:.5g} [{qb[0]:.5g}, {qb[2]:.5g}]  {change:+.1%}"
                  f"  B wins {wins}/{len(pairs)}, loses {losses}{verdict}")
    for side, runs in (("A", a), ("B", b)):
        for k in keys:
            if runs[k]["result"]["contended"]:
                print(f"contended: {side} {k}")
    return status


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
