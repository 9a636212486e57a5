#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 30 --trace 0

Builds the engine and the benchmark client (perfbench/Makefile) into
.bench_build/ when their sources changed, runs one workload in one JVM,
and prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 a
separate traced pass reports the per-layer ones (see README.md). The
line before it records the session: processor count, master, heap.
Every file the run writes stays under .bench_build/; the run's own
work directory is removed when it ends. Exits non-zero, without a
result line, if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = "/opt/spark/jars"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build():
    proc = subprocess.run(
        ["make", "-s", "-f", os.path.join("perfbench", "Makefile"),
         "OUT=.bench_build/classes", f"SPARK_JARS={SPARK_JARS}"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if proc.returncode != 0:
        fail("build failed:\n" + proc.stdout[-4000:])
    return os.path.join(BUILD, "classes")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["queries", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", metavar="TSV",
                    help="write the per-entry output reference instead of checking against it")
    args = ap.parse_args()
    # on SIGTERM, unwind like an exception: subprocess.run then kills the
    # JVM and waits for it, and the work directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build()
    out = os.path.join(BUILD, "out")
    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out,
        "--reference", os.path.join(HERE, "reference.tsv"),
    ]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    log_path = os.path.join(out, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                  text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"run failed with exit code {proc.returncode}:\n{tail}")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("run printed no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    for line in lines:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
