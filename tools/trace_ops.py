#!/usr/bin/env python3
"""Per op kind, compare two traced perfbench runs of one workload.

    python3 tools/trace_ops.py PARENT.trace.json CHANGE.trace.json

For every op kind (class/name) it prints, for both runs, the op count, the
median wall time, the Spark jobs per op, the Spark tasks per op and the
median summed job wall per op (jobs are matched to ops by the `op-<id>` job
group). Tasks show a removed shuffle stage even where wall time is noisy. A
kind whose jobs per op rose is marked `+JOB`; the exit code is 1 when any
kind is.
"""
import json
import statistics
import sys


def kinds(path):
    doc = json.load(open(path))
    jobs = {}
    for j in doc["jobs"]:
        jobs.setdefault(j["group"], []).append((j["end"] - j["start"], j["tasks"]))
    out = {}
    for op in doc["ops"]:
        if op["cls"] == "check" or not op["ok"]:
            continue
        js = jobs.get(f"op-{op['id']}", [])
        out.setdefault(f"{op['cls']}/{op['name']}", []).append(
            (op["wall_ms"], len(js), sum(w for w, _ in js), sum(t for _, t in js)))
    return out


def cols(ops):
    if not ops:
        return f"{'-':>4} {'-':>8} {'-':>6} {'-':>6} {'-':>8}"
    wall = statistics.median(o[0] for o in ops)
    jobs = sum(o[1] for o in ops) / len(ops)
    tasks = sum(o[3] for o in ops) / len(ops)
    job_ms = statistics.median(o[2] for o in ops)
    return f"{len(ops):>4} {wall:>8.1f} {jobs:>6.2f} {tasks:>6.1f} {job_ms:>8.1f}"


def main(parent, change):
    a, b = kinds(parent), kinds(change)
    head = f"{'n':>4} {'wall_ms':>8} {'jobs':>6} {'tasks':>6} {'job_ms':>8}"
    print(f"{'op kind':<34} {head}   {head}")
    gained = False
    for k in sorted(set(a) | set(b)):
        ja = sum(o[1] for o in a.get(k, [])) / max(len(a.get(k, [])), 1)
        jb = sum(o[1] for o in b.get(k, [])) / max(len(b.get(k, [])), 1)
        mark = "  +JOB" if k in a and k in b and jb > ja else ""
        gained |= bool(mark)
        print(f"{k:<34} {cols(a.get(k, []))}   {cols(b.get(k, []))}{mark}")
    return 1 if gained else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
