#!/usr/bin/env python3
"""Check that per-call counts repeat across traced runs with one seed.

    python3 perfbench/determinism.py --workload maintain --seed 7

Runs the traced benchmark twice and compares, call by call, the jobs,
stages and files written that each recorded span reports. Calls are
matched by layer function and position; a run that measured more calls
than the other is compared on the calls both made. Prints every count
that differs and exits with code 1 if any does.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)
import build  # noqa: E402

COUNTS = ("jobs", "stages", "files_written")


def traced_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if out.returncode != 0:
        sys.exit(f"traced run exited with code {out.returncode}")
    path = os.path.join(build.out_dir(), "traces", f"{workload}-seed{seed}.jsonl")
    calls = {}
    with open(path) as fh:
        for line in fh:
            s = json.loads(line)
            if not s["name"].startswith("op."):
                calls.setdefault(s["name"], []).append(s)
    return calls


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    a = traced_run(args.workload, args.seed, seconds)
    b = traced_run(args.workload, args.seed, seconds)
    compared = differ = 0
    for name in sorted(set(a) & set(b)):
        for i, (x, y) in enumerate(zip(a[name], b[name])):
            for c in COUNTS:
                compared += 1
                if x[c] != y[c]:
                    differ += 1
                    print(f"{name} call {i} {c}: {x[c]} vs {y[c]}")
    print(f"{compared} counts compared, {differ} differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
