#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source when they changed (see
build.py), runs perfbench.Main in one JVM with the engine's JVM options,
and prints one JSON object: the end-to-end metrics named in
BENCHMARK.json with --trace 0, or its per-layer metrics with --trace 1.
A line before it carries the seed, sizes, schedule and sample counts.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170

# The engine build's javaOptions (build.sbt): the JDK 17 module opens
# Spark needs outside spark-submit, the incubator Vector API for the SIMD
# kernels, and the same system properties. The heap is capped lower than
# the build's 8g default because runs share the machine.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JAVA_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "--add-modules", "jdk.incubator.vector",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(build.ROOT, "perfbench", "log4j2.properties"),
    f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '4g')}",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1", 2)

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}", 2)

    try:
        classpath = build.build()
    except (build.BuildError, OSError) as e:
        fail(f"build failed: {e}", 2)

    work = os.path.join(build.out_dir(), "work", f"{args.workload}-{os.getpid()}")
    trace_out = os.path.join(build.out_dir(), "traces",
                             f"{args.workload}-seed{args.seed}.jsonl")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--trace-out", trace_out]
    result = None
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        fail(f"workload exited with code {proc.returncode} and no result")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = result["per_layer"] if args.trace else result["end_to_end"]
    metrics = {}
    correct = result["failed"] == 0
    for m in wanted:
        v = measured.get(m["name"])
        if v is None or not math.isfinite(v):
            if not args.trace:
                correct = False
                print(f"perfbench: end-to-end metric {m['name']} was not measured", file=sys.stderr)
            # a layer this workload never calls reports zero work
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"info": dict(result["info"], workload=args.workload, seed=args.seed,
                                   seconds=args.seconds, trace=args.trace,
                                   samples=result["samples"])}))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
