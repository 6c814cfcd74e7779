#!/usr/bin/env python3
"""Compares two result sets of the pipeline benchmark, one per commit.

    python3 perfbench/compare.py <base results.jsonl> <change results.jsonl>

A result set is the `perfbench/out/results.jsonl` that `run.py` appends to
(or a directory holding one). For each workload and end-to-end metric of
`BENCHMARK.json` it prints both sides' median and quartiles over the
untraced runs, and a verdict against the metric's bound:

  better / worse   the change's median moved by more than the bound
  unchanged        it moved by less, and both spreads are within the bound
  unresolved       a side's spread (quartile distance / median) exceeds the
                   bound, unless every change run beats every base run
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "results.jsonl")
    with open(path) as fh:
        return [r for r in map(json.loads, fh) if not r["trace"]]


def summary(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def verdict(base, change, bound, lower_is_better):
    sign = 1 if lower_is_better else -1
    mb, _, _, sb = summary(base)
    mc, _, _, sc = summary(change)
    worse_by = sign * (mc - mb) / mb
    dominates = max(change) < min(base) if lower_is_better else min(change) > max(base)
    if dominates:
        return "better"
    if max(sb, sc) > bound:
        return "unresolved"
    if worse_by > bound:
        return "worse"
    if worse_by < -bound:
        return "better"
    return "unchanged"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    row = "{:<16} {:<18} {:>5} {:>30} {:>30}  {}"
    print(row.format("workload", "metric", "bound", "base median [q1, q3] (n)",
                     "change median [q1, q3] (n)", "verdict"))
    for w in spec["workloads"]:
        for m in spec["end_to_end"]:
            sides = [[r["metrics"][m["name"]] for r in rs if r["workload"] == w["name"]]
                     for rs in (base, change)]
            if not all(sides):
                print(row.format(w["name"], m["name"], m["bound"], "", "", "missing runs"))
                continue
            cells = ["{:.5g} [{:.5g}, {:.5g}] ({})".format(*summary(xs)[:3], len(xs)) for xs in sides]
            print(row.format(w["name"], m["name"], m["bound"], *cells,
                             verdict(*sides, m["bound"], m["better"] == "lower")))


if __name__ == "__main__":
    main()
