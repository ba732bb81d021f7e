#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. A small smoke run of each workload passes its output check, on two
   seeds.
2. A run that publishes one committed batch twice (--inject-dup) fails the
   check and exits non-zero.
3. A directory holding only BENCHMARK.json and perfbench/ makes the
   benchmark exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMOKE = ["--seconds", "2", "--trace", "0", "--scale", "0.05"]


def bench(workload, *extra, seed=7, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed)] + SMOKE + list(extra),
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return p.returncode, result, p.stderr


def main():
    failures = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]

    for w in workloads:
        for seed in (7, 8):
            rc, result, err = bench(w, seed=seed)
            ok = rc == 0 and result and result["correct"] and result["failed"] == 0
            print(f"smoke {w} seed {seed}: {'ok' if ok else 'FAILED'}")
            if not ok:
                failures.append(f"smoke {w} seed {seed}: rc {rc}, result {result}\n{err[-2000:]}")

    rc, result, err = bench(workloads[0], "--inject-dup")
    ok = rc != 0 and result and not result["correct"] and result["failed"] > 0
    print(f"duplicated batch caught: {'ok' if ok else 'FAILED'}")
    if not ok:
        failures.append(f"inject-dup: rc {rc}, result {result}\n{err[-2000:]}")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target"))
        rc, result, err = bench(workloads[0], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    ok = rc != 0 and result is None
    print(f"bare directory refused: {'ok' if ok else 'FAILED'}")
    if not ok:
        failures.append(f"bare directory: rc {rc}, result {result}")

    for f in failures:
        print(f, file=sys.stderr)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
