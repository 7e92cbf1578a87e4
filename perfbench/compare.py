#!/usr/bin/env python3
"""Compares two sets of benchmark runs, workload by workload, metric by
metric.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl [--trace 0|1]

Each input is a runs.jsonl written by perfbench/run.py (one artifact per
run; perfbench/work/runs.jsonl in a checkout). For every workload and
metric it prints each side's median and quartiles, how many pairs the
change wins (runs are paired by seed, else in order; ties count for
neither side), and a verdict against BENCHMARK.json:

  better      the change wins at least 9 of 10 pairs and the medians differ
              by more than the base's own quartile spread
  worse       the change's median is worse than the base's by more than
              the metric's bound
  unresolved  the base's quartile spread exceeds the bound, and not every
              change run beats every base run
  same        none of the above

Per-layer metrics have no bound; they get the numbers and "-".
"""
import argparse
import json
import os
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(base, change):
    by_seed = {r["seed"]: r for r in base}
    matched = [(by_seed[r["seed"]], r) for r in change if r["seed"] in by_seed]
    return matched if len(matched) == min(len(base), len(change)) else list(zip(base, change))


def verdict(b, c, wins, n, better, bound):
    if bound is None:
        return "-"
    q1, med, q3 = quartiles(b)
    cmed = statistics.median(c)
    sign = 1 if better == "lower" else -1
    worse_by = sign * (cmed - med) / med if med else 0.0
    spread = (q3 - q1) / med if med else 0.0
    beats_all = all(sign * (x - y) < 0 for x in c for y in b)
    if n and wins >= 0.9 * n and abs(cmed - med) > q3 - q1:
        return "better"
    if worse_by > bound:
        return "worse"
    if spread > bound and not beats_all:
        return "unresolved"
    return "same"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                     "..", "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base = [r for r in load(a.base) if r["trace"] == a.trace]
    change = [r for r in load(a.change) if r["trace"] == a.trace]
    print(f"{'workload':10} {'metric':32} {'base median [q1,q3]':>30} "
          f"{'change median [q1,q3]':>30} {'wins':>6}  verdict")
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in change}):
        bw = [r for r in base if r["workload"] == w]
        cw = [r for r in change if r["workload"] == w]
        for name in sorted(set(bw[0]["metrics"]) & set(cw[0]["metrics"])):
            m = spec.get(name, {"better": "lower"})
            sign = 1 if m["better"] == "lower" else -1
            b = [r["metrics"][name] for r in bw]
            c = [r["metrics"][name] for r in cw]
            pr = pairs(bw, cw)
            wins = sum(1 for x, y in pr if sign * (y["metrics"][name] - x["metrics"][name]) < 0)
            fmt = lambda xs: "{1:.4g} [{0:.4g},{2:.4g}]".format(*quartiles(xs))
            print(f"{w:10} {name:32} {fmt(b):>30} {fmt(c):>30} {wins:>3}/{len(pr):<2}  "
                  f"{verdict(b, c, wins, len(pr), m['better'], m.get('bound'))}")


if __name__ == "__main__":
    sys.exit(main())
