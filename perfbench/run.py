#!/usr/bin/env python3
"""Runs one benchmark run from the root of a checkout and prints its result.

    python3 perfbench/run.py --workload fs_tiny --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), runs the JVM side
(perfbench/scala/PerfBench.scala) on Spark local[<cpus>], checks the
outputs apart from the program (perfbench/check.py), and prints as its
last line one JSON object: correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to .bench_build/traces/. Every file it
writes is under .bench_build/ in the checkout.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402

WORKLOADS = ("fs_tiny", "fs_730parts", "dedup_ingest")
JVM_HEAP = "3g"
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    classes, jars = build.build(root, build_dir)
    started = time.time()  # after the build, which only a checkout's first run pays

    work = os.path.join(build_dir, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    traces = os.path.join(build_dir, "traces")
    os.makedirs(traces, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dderby.system.home=" + work,
              "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-Dspark.ui.enabled=false",
              "-Dlog4j2.configurationFile="
              + os.path.join(build.BENCH_DIR, "log4j2.properties"),
              "-cp", classes + os.pathsep + jars,
              "perfbench.PerfBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cpus", str(cpus), "--result", result_path,
              "--trace-out", os.path.join(traces, "%s-seed%d.jsonl" % (args.workload, args.seed))])
    try:
        try:
            done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            sys.exit("perfbench: the JVM side ran past %d s and was stopped" % RUN_LIMIT_S)
        if done.returncode != 0 or not os.path.exists(result_path):
            sys.exit("perfbench: the JVM side exited with code %d" % done.returncode)
        with open(result_path) as f:
            res = json.load(f)
        print("perfbench: checking %s" % json.dumps(res["check"]), file=sys.stderr)
        checked = time.time()
        try:
            problems = check.check(args.workload, res, args.seed)
        except Exception as e:  # a missing or unreadable output is a failed check
            problems = ["the check could not run: %r" % e]
        print("perfbench: JVM side done at %.1f s; check took %.1f s"
              % (checked - started, time.time() - checked), file=sys.stderr)
        for p in problems:
            print("perfbench: check failed: " + p, file=sys.stderr)
        out = {"correct": not problems, "attempted": res["attempted"],
               "failed": res["failed"], "metrics": res["metrics"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
