#!/usr/bin/env python3
"""Run one perfbench workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source on first use (sbt, into
the usual target/ dirs; the classpath is kept in .bench_build/), then runs
one JVM. With --trace 0 the result carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer metrics. Every run also leaves
a record (result, nproc, host CPU steal) in .bench_runs/, and a traced run
its spans; report.py and compare.py read those.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")
WORK = os.path.join(ROOT, ".bench_work")
# BENCHMARK.json gates ingest and analytics; mutate runs the same way
WORKLOADS = ("ingest", "analytics", "mutate")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "2g"
# what spark-submit passes on JDK 17 (JavaModuleOptions), as in the root build
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change needs a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return [f for f in files if os.path.exists(f)]


def classpath():
    """Builds when the kept classpath is missing or older than a source."""
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        built = os.path.getmtime(stamp)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return open(stamp).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, check=True)
        except (subprocess.SubprocessError, OSError) as e:
            fail(f"build failed ({e}); see {log}")
    with open(os.path.join(HERE, "target", "classpath.txt")) as f:
        cp = f.read().strip()
    with open(stamp, "w") as f:
        f.write(cp + "\n")
    return cp


def cpu_times():
    """The aggregate cpu line of /proc/stat: (steal, total) jiffies."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal [guest guest_nice]
        return vals[7] if len(vals) > 7 else 0, sum(vals[:8])
    except OSError:
        return 0, 0


def run_java(cp, args, run_dir, trace_file, log_path, deadline):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", run_dir, "--trace-file", trace_file]
           + (["--initial-days", str(args.initial_days)] if args.initial_days else []))
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print("perfbench: run exceeded its time limit", file=sys.stderr)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--initial-days", type=int, help="ingest table size (report.py --sweep)")
    args = ap.parse_args()
    start = time.time()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the library sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    try:
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {WORKLOADS}")

    cp = classpath()
    built = time.time()
    tag = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, tag)
    os.makedirs(RUNS, exist_ok=True)
    trace_file = os.path.join(RUNS, f"{tag}.trace.json")
    steal0, total0 = cpu_times()
    try:
        code, result = run_java(cp, args, run_dir, trace_file,
                                os.path.join(RUNS, f"{tag}.log"), built + RUN_LIMIT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1, total1 = cpu_times()
    if result is None:
        print(f"perfbench: the run printed no result (exit {code})", file=sys.stderr)
        sys.exit(1)

    host = {"nproc": os.cpu_count(),
            "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
            "build_s": built - start, "run_s": time.time() - built}
    with open(os.path.join(RUNS, f"{tag}.json"), "w") as f:
        json.dump({"args": vars(args), "host": host, "result": result}, f)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = result["layers"] if args.trace else result["metrics"]
    metrics = {}
    for m in declared:
        v = source.get(m["name"])
        if v is None or not math.isfinite(v):
            print(f"perfbench: metric {m['name']} was not measured", file=sys.stderr)
            sys.exit(1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "host": host,
        "fail_ratio": result["fail_ratio"], "fail_ratio_base": result["attempted"],
        "rounds": result["rounds"], "samples": result["samples"],
        "tail_percentile": result["tail_percentile"]}))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
