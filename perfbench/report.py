#!/usr/bin/env python3
"""Rank each layer's self time per workload from traced perfbench runs.

    python3 perfbench/report.py [RUNS_DIR]          # default .bench_runs
    python3 perfbench/report.py --sweep 50 100 200  # ingest resolve vs partitions

Reads the spans of every traced run (*.trace.json) and splits each op's wall
time into the layers named after the library's modules:

  exec         union of the op's Spark job intervals (job group = op)
  spark.read   read and time-travel ops outside their jobs (analysis,
               planning, the driver side of collect)
  spark.write  versioned inserts outside their jobs (staging rename, log
               append, metastore sync)
  spark.dml    MERGE / UPDATE / DELETE outside their jobs
  spark.cdc    table_changes outside its jobs
  spark.maint  OPTIMIZE + VACUUM outside their jobs
  core         DESCRIBE HISTORY, plus one log replay per op as the traced
               run's probe measures it (core.replay_ms); replays inside the
               library are part of the spark.* rows above
  jvm          GC time during the timed phase (overlaps every other row)

Self time is given per second of timed phase, averaged over runs. The
tracing overhead is the difference between the untraced and traced runs'
end-to-end metrics of the same workload. --sweep runs traced ingest at
several initial partition counts and fits read.resolve_ms and read.exec_ms
against the partitions in the fold.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OP_LAYER = {"write": "spark.write", "read": "spark.read", "travel": "spark.read",
            "dml": "spark.dml", "cdc": "spark.cdc", "maint": "spark.maint",
            "history": "core"}


def union(iv):
    total, cur = 0.0, None
    for s, e in sorted(x for x in iv if x[1] > x[0]):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur else 0.0)


def self_times(trace):
    """Layer -> ms of self time over the timed ops of one traced run."""
    jobs = {}
    for j in trace["jobs"]:
        jobs.setdefault(j["group"], []).append(j)
    out = {}
    for op in trace["ops"]:
        if op["cls"] == "check":
            continue
        js = [(max(j["start"], op["start"]), min(j["end"], op["end"]))
              for j in jobs.get(f"op-{op['id']}", [])]
        exec_ms = union(js)
        out["exec"] = out.get("exec", 0.0) + exec_ms
        layer = OP_LAYER.get(op["cls"], op["cls"])
        out[layer] = out.get(layer, 0.0) + op["wall_ms"] - exec_ms
        if op.get("replay_ms") is not None:
            out["core"] = out.get("core", 0.0) + op["replay_ms"]
    return out


def load_runs(runs_dir):
    records = []
    for path in sorted(glob.glob(os.path.join(runs_dir, "*.json"))):
        if path.endswith(".trace.json"):
            continue
        rec = json.load(open(path))
        trace_path = path[:-len(".json")] + ".trace.json"
        rec["trace_doc"] = json.load(open(trace_path)) if os.path.exists(trace_path) else None
        records.append(rec)
    return records


def report(runs_dir):
    records = load_runs(runs_dir)
    if not records:
        sys.exit(f"no run records in {runs_dir}")
    for w in sorted({r["args"]["workload"] for r in records}):
        traced = [r for r in records if r["args"]["workload"] == w and r["trace_doc"]]
        plain = [r for r in records if r["args"]["workload"] == w and not r["args"]["trace"]]
        print(f"== {w}: {len(traced)} traced, {len(plain)} untraced runs")
        if traced:
            per_s = {}
            for r in traced:
                timed = r["result"]["timed_s"]
                st = self_times(r["trace_doc"])
                st["jvm"] = r["result"]["layers"].get("jvm.gc_ms", 0.0)
                for k, v in st.items():
                    per_s.setdefault(k, []).append(v / timed)
            print(f"  {'layer':<12} {'self ms/s':>10} {'share':>7}")
            busy = sum(statistics.mean(v) for k, v in per_s.items() if k != "jvm")
            for k, v in sorted(per_s.items(), key=lambda kv: -statistics.mean(kv[1])):
                m = statistics.mean(v)
                share = f"{100 * m / busy:6.1f}%" if k != "jvm" else "  (gc)"
                print(f"  {k:<12} {m:10.1f} {share}")
        if traced and plain:
            print("  tracing overhead (traced median / untraced median - 1):")
            for k in sorted(plain[0]["result"]["metrics"]):
                a = [r["result"]["metrics"][k] for r in plain if r["result"]["metrics"].get(k)]
                b = [r["result"]["metrics"][k] for r in traced if r["result"]["metrics"].get(k)]
                if a and b:
                    print(f"    {k:<16} {statistics.median(b) / statistics.median(a) - 1:+.1%}"
                          f"  (base {statistics.median(a):.4g}, {len(a)} vs {len(b)} runs)")
        steal = [r["host"]["steal_pct"] for r in records if r["args"]["workload"] == w]
        print(f"  host steal: max {max(steal):.1f}% over {len(steal)} runs; "
              f"nproc {sorted({r['host']['nproc'] for r in records})}")


def slope(pts):
    if len(pts) < 2:
        return 0.0
    mx = statistics.mean(x for x, _ in pts)
    my = statistics.mean(y for _, y in pts)
    sxx = sum((x - mx) ** 2 for x, _ in pts)
    return sum((x - mx) * (y - my) for x, y in pts) / sxx if sxx else 0.0


def sweep(days, seed, seconds):
    """Traced ingest at several table sizes: does analysis grow with the
    partition count while execution stays flat?"""
    pts = {"resolve": [], "exec": []}
    for d in days:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "ingest",
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
               "--initial-days", str(d)]
        subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
        latest = max(glob.glob(os.path.join(ROOT, ".bench_runs", "*ingest*.trace.json")),
                     key=os.path.getmtime)
        trace = json.load(open(latest))
        row = {}
        for op in trace["ops"]:
            if op["cls"] == "read" and op["name"] == "point" and op["ok"]:
                for p in op["phases"]:
                    if p["name"] in pts:
                        pts[p["name"]].append((op["partitions"], p["end"] - p["start"]))
                        row.setdefault(p["name"], []).append(p["end"] - p["start"])
        print(f"initial days {d:4d}: point-read resolve p50 "
              f"{statistics.median(row['resolve']):7.1f} ms, exec p50 "
              f"{statistics.median(row['exec']):7.1f} ms")
    for k, v in pts.items():
        print(f"read.{k}_ms slope: {slope(v):.3f} ms per partition ({len(v)} point reads)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("runs_dir", nargs="?", default=os.path.join(ROOT, ".bench_runs"))
    ap.add_argument("--sweep", type=int, nargs="+", metavar="DAYS")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    if args.sweep:
        sweep(args.sweep, args.seed, args.seconds)
    else:
        report(args.runs_dir)


if __name__ == "__main__":
    main()
