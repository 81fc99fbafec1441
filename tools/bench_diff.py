#!/usr/bin/env python3
"""Per-query diff of two graft.Bench full records.

    python3 tools/bench_diff.py OLD/BENCH_FULL.json NEW/BENCH_FULL.json [--top N]

Each BENCH_FULL.json holds one record with a "queries" map (seconds per
query; a negative value marks a failed query). For every query present in
both records the script prints the old and new seconds and new/old, sorted
by that ratio (slowest change first), then the geometric mean of the
ratios and the queries found in only one record.
"""
import argparse
import json
import math
import sys


def load(path):
    with open(path) as f:
        record = json.load(f)
    queries = record.get("queries")
    if not isinstance(queries, dict):
        sys.exit(f"{path}: no per-query map (\"queries\") in the record")
    return {k: float(v) for k, v in queries.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--top", type=int, default=0,
                    help="print only the N largest and N smallest ratios")
    args = ap.parse_args()
    old, new = load(args.old), load(args.new)
    both = sorted(k for k in old.keys() & new.keys() if old[k] > 0 and new[k] > 0)
    rows = sorted(((new[k] / old[k], k) for k in both), reverse=True)
    shown = rows if args.top <= 0 or 2 * args.top >= len(rows) else \
        rows[:args.top] + [None] + rows[-args.top:]
    print(f"{'query':<40} {'old s':>9} {'new s':>9} {'new/old':>8}")
    for row in shown:
        if row is None:
            print("  ...")
            continue
        ratio, k = row
        print(f"{k:<40} {old[k]:>9.3f} {new[k]:>9.3f} {ratio:>8.2f}")
    if rows:
        geomean = math.exp(sum(math.log(r) for r, _ in rows) / len(rows))
        print(f"\n{len(rows)} queries in both; geomean new/old {geomean:.3f}; "
              f"{sum(r >= 1.2 for r, _ in rows)} at >= 1.2x, "
              f"{sum(r <= 1 / 1.2 for r, _ in rows)} at <= 1/1.2x")
    failed = sorted(k for k in old.keys() & new.keys() if old[k] <= 0 or new[k] <= 0)
    if failed:
        print("failed in one record: " + ", ".join(failed))
    for label, only in (("only in old", old.keys() - new.keys()),
                        ("only in new", new.keys() - old.keys())):
        if only:
            names = sorted(only)
            more = f" (+{len(names) - 10} more)" if len(names) > 10 else ""
            print(f"{label}: {len(names)}: " + ", ".join(names[:10]) + more)


if __name__ == "__main__":
    main()
