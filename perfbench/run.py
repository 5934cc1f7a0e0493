#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload vec_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds graft and the benchmark from source
(perfbench/build.py), starts one JVM that builds the same Spark session
graft.Bench does at local[nproc], sets the workload up, warms it up, runs
its operations in a closed loop with one client for --seconds, checks
the outputs, and prints two JSON lines: a detail record (every metric,
the workload's own figures, the contention record), then the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones, from a run in which every other cycle
is traced. Full records and the traced spans are written under
.bench_build/perfbench/results/. Workload sizes and why they were chosen
are in perfbench/config.json.

`--pin` rewrites sql_headline's pinned result fingerprints from the
current program (to be done only when a result is meant to change).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_LIMIT_S = 170  # the JVM is stopped if a run, build excluded, goes past this

# The benchmark JVM's heap. The maximum fits every workload's inputs and
# working set many times over; only the maximum is set, so the heap grows
# with what the program uses and peak_rss_mb follows it. G1 by default
# sizes the young generation from measured pause times and grows the heap
# when measured GC time passes 1/(1+GCTimeRatio) of run time, so the peak
# resident set moved by a quarter between runs of the same code. A fixed
# young generation and GCTimeRatio=1 (grow only past 50% GC time) leave
# the heap to grow when live data needs it: at G1's remark, by
# MinHeapFreeRatio over what is live, and for humongous allocations.
HEAP_OPTS = ["-Xmx2g", "-Xmn128m", "-XX:GCTimeRatio=1"]

# as in build.sbt: Spark 4 on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(HERE, "config.json")) as f:
        config = json.load(f)
    if args.workload not in config["workloads"]:
        raise SystemExit("perfbench: unknown workload %r" % args.workload)
    spec = config["workloads"][args.workload]

    classpath = build.build()
    started = time.time()  # the run limit counts from here; a first build may take longer
    out_dir = build.build_dir()
    work = os.path.join(out_dir, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    results = os.path.join(out_dir, "results")
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    result_file = os.path.join(results, tag + ".json")
    if os.path.exists(result_file):
        os.remove(result_file)
    os.makedirs(os.path.join(work, "tmp"))

    cmd = ["java"] + HEAP_OPTS + ["-XX:+PerfDisableSharedMem"]  # no hsperfdata file outside the checkout
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", result_file,
            "--spans", os.path.join(results, "spans-%s-seed%d.json" % (args.workload, args.seed))]
    if args.pin:
        cmd += ["--pin", "1"]
    for k, v in spec["params"].items():
        if k in spec.get("files", ()):  # files of the benchmark, relative to this directory
            v = os.path.join(HERE, v)
        cmd += ["--param", "%s=%s" % (k, v)]

    # the JVM writes nothing to stdout that the result needs; keep ours clean
    jvm = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = jvm.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(jvm.pid, signal.SIGKILL)
        jvm.wait()
        raise SystemExit("perfbench: run exceeded %d s and was stopped" % RUN_LIMIT_S)
    finally:
        if jvm.poll() is None:
            os.killpg(jvm.pid, signal.SIGKILL)
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise SystemExit("perfbench: the benchmark JVM exited with %d" % code)
    if args.pin:
        return

    with open(result_file) as f:
        result = json.load(f)
    detail = {k: result[k] for k in ("end_to_end", "workload_detail", "per_layer")}
    ctx = result["context"]
    detail["context"] = {k: ctx[k] for k in (
        "workload", "seed", "seconds", "trace", "nproc", "loadavg_start", "loadavg_end",
        "max_heap_bytes", "prepare_s", "warmup_cycle_s", "window_s", "cycles", "failures")}
    detail["record"] = os.path.relpath(result_file)
    print(json.dumps(detail))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
