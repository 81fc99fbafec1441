#!/usr/bin/env python3
"""Compare two sets of perfbench runs: a parent and a change.

    python3 perfbench/compare.py PARENT_RUNS_DIR CHANGE_RUNS_DIR [--layers]

Each directory holds the run records run.py leaves in .bench_runs/ of a
checkout. Untraced runs are compared on the end-to-end metrics of
BENCHMARK.json; with --layers the traced runs are compared on the per-layer
metrics too (these have no bound, so they get no verdict). Runs pair up by
seed where both sets have it, else in order. For every workload x metric
the script prints each side's median and quartiles, the share of pairs the
change wins (ties count for neither side) and one verdict against the
metric's bound:

  worse       the change's median is worse than the parent's by more than
              the bound
  improved    the change wins at least 9 in 10 pairs and the medians differ
              by more than the parent's own quartile spread
  unresolved  the parent's quartile spread is wider than the bound, and not
              every change run beats every parent run
  unchanged   otherwise

Runs whose host CPU steal exceeded STEAL_PCT are flagged: a stolen draw
inflates every metric of that run.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STEAL_PCT = 5.0


def load(runs_dir, traced):
    out = {}
    for path in sorted(glob.glob(os.path.join(runs_dir, "*.json"))):
        if path.endswith(".trace.json"):
            continue
        rec = json.load(open(path))
        if bool(rec["args"]["trace"]) == traced:
            out.setdefault(rec["args"]["workload"], []).append(rec)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def pairs(a, b):
    by_seed_a = {r["args"]["seed"]: r for r in a}
    by_seed_b = {r["args"]["seed"]: r for r in b}
    common = sorted(set(by_seed_a) & set(by_seed_b))
    if common:
        return [(by_seed_a[s], by_seed_b[s]) for s in common]
    return list(zip(a, b))


def verdict(pa, pb, wins, better, bound, all_better):
    q1, med, q3 = pa
    _, cmed, _ = pb
    sign = 1 if better == "lower" else -1
    worse_by = sign * (cmed - med) / med if med else 0.0
    if bound is not None and worse_by > bound:
        return "worse"
    if wins >= 0.9 and abs(cmed - med) > (q3 - q1):
        return "improved" if worse_by < 0 else "worse"
    if bound is not None and med and (q3 - q1) / med > bound and not all_better:
        return "unresolved"
    return "unchanged"


def compare(parent, change, metrics, key):
    for w in sorted(set(parent) & set(change)):
        a, b = parent[w], change[w]
        print(f"== {w}: parent {len(a)} runs, change {len(b)} runs")
        for side, runs in (("parent", a), ("change", b)):
            stolen = [r["args"]["seed"] for r in runs if r["host"]["steal_pct"] > STEAL_PCT]
            if stolen:
                print(f"  {side}: host steal above {STEAL_PCT}% on seeds {stolen}")
        print(f"  {'metric':<28} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}"
              f" {'wins':>5}  verdict")
        for m in metrics:
            name, better, bound = m["name"], m["better"], m.get("bound")
            va = [r["result"][key][name] for r in a if r["result"][key].get(name) is not None]
            vb = [r["result"][key][name] for r in b if r["result"][key].get(name) is not None]
            if not va or not vb:
                continue
            ps = [(x["result"][key].get(name), y["result"][key].get(name)) for x, y in pairs(a, b)]
            ps = [(x, y) for x, y in ps if x is not None and y is not None]
            won = sum(1 for x, y in ps if (y < x if better == "lower" else y > x))
            wins = won / len(ps) if ps else 0.0
            all_better = (max(vb) < min(va)) if better == "lower" else (min(vb) > max(va))
            pa, pb = quartiles(va), quartiles(vb)
            v = verdict(pa, pb, wins, better, bound, all_better)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"  {name:<28} {fmt(pa):>30} {fmt(pb):>30} {wins:5.2f}  {v}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--layers", action="store_true", help="also compare traced runs")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    parent, change = load(args.parent, False), load(args.change, False)
    if not set(parent) & set(change):
        sys.exit("no workload has untraced runs on both sides")
    compare(parent, change, spec["end_to_end"], "metrics")
    if args.layers:
        print("\nper-layer metrics (traced runs, no bound):")
        compare(load(args.parent, True), load(args.change, True), spec["per_layer"], "layers")


if __name__ == "__main__":
    main()
