#!/usr/bin/env python3
"""The repository benchmark: one command, run from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, in
perfbench/), then runs the program's JVM, which stages the workload's input
from --seed, drains it, and checks the committed output against the batch
oracle. Prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). Exits non-zero when the output check fails.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    """Hash of every build input, so a changed source rebuilds."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    fp = sources_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    log("building engine + harness with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -XX:-UsePerfData").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_DEADLINE_S)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cp = [l for l in lines if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
    return cp[-1]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def jvm_env(run_dir):
    """The program sees no SPARK_GRAFT_* overrides and keeps its scratch
    (spark.local.dir, staged input) inside the run directory."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "GRAFT_TMP_BASE")}
    env["GRAFT_TMP_BASE"] = os.path.join(run_dir, "tmp")
    return env


def run_jvm(args, classpath, run_dir):
    """Runs the program's JVM and returns its result."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "jtmp"))
    # a fixed, pre-touched heap: peak RSS then moves with native (RocksDB)
    # memory and not with when the collector chose to grow the heap
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(run_dir, 'jtmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--scale", str(args.scale),
            "--inject-dup", "1" if args.inject_dup else "0",
            "--launch-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as jlog:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, env=jvm_env(run_dir), stdin=subprocess.DEVNULL,
                                stdout=jlog, stderr=subprocess.STDOUT,
                                timeout=RUN_DEADLINE_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result_path = os.path.join(run_dir, "result.json")
    with open(log_path) as f:
        jvm_log = f.read()
    if rc != 0 or not os.path.exists(result_path):
        sys.stderr.write(jvm_log[-6000:])
        raise SystemExit(f"program JVM failed (exit {rc})")
    # the harness's own step timings
    sys.stderr.writelines(l + "\n" for l in jvm_log.splitlines() if l.startswith("[perfbench]"))
    with open(result_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (smoke tests use a small one)")
    ap.add_argument("--inject-dup", action="store_true",
                    help="publish one committed batch twice; the check must fail")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no engine sources next to the benchmark: run from a full checkout")
    bench = spec()
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        raise SystemExit(f"unknown workload {args.workload}")
    # SIGTERM unwinds like an error: children are killed, the run dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK, exist_ok=True)
    classpath = build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(run_dir)
    try:
        result = run_jvm(args, classpath, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, layers = result["end_to_end"], result["per_layer"]
    attempted, failed = int(result["attempted"]), int(result["failed"])
    correct = failed == 0 and attempted >= 1 and e2e["pair_error_share"] == 0

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    print(f"  staged {result['turns_staged']} turns in {result['files']} files; "
          f"{len(result['drains'])} measured drains, {result['latency_samples']} latency samples")
    print("  turns/s per drain: " + " ".join(f"{t:.0f}" for t in result["drains"]))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units["pair_error_share"] = "ratio"
    for name, value in e2e.items():
        print(f"  {name:<20} {value:>16.6f} {units.get(name, '')}")
    for c in result["checks"]:
        print(f"  check: expected {c['expected']} committed {c['committed']} "
              f"duplicated {c['duplicated']} unexpected {c['unexpected']} missing {c['missing']}")

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = layers if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
