#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program and the
benchmark (perfbench/build.py); each run then starts one JVM that builds
the production `GraftSession`, sets up, measures for --seconds, checks the
outputs and exits. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}, where metrics holds every
end-to-end metric of BENCHMARK.json with --trace 0 and every per-layer
metric with --trace 1. A run whose outputs fail the check exits 1.

--workload all runs every workload in turn (one result line each).
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORK = os.path.join(build.OUT, "work")
RUN_LIMIT_S = 170
JVM_OPTS = ["-Xss4m", "-Xmx3g", "-XX:-UsePerfData"] + [
    a for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the repository root")
    with open(path) as fh:
        return json.load(fh)


def run_jvm(classpath, workload, seed, seconds, trace, deadline):
    """Runs one workload in its own JVM; returns the JVM's result object."""
    work = os.path.join(WORK, workload)
    scratch = os.path.join(work, "tmp")  # JVM and Spark scratch stays in the checkout
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(scratch)
    out = os.path.join(work, "result.json")
    log_path = os.path.join(build.OUT, f"{workload}.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=scratch)
    cmd = ["java", f"-Djava.io.tmpdir={scratch}"] + JVM_OPTS + ["-cp", classpath, "perfbench.Main",
                                 "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                                 "--trace", str(trace), "--work", work, "--out", out,
                                 "--fingerprints", os.path.join(HERE, "fingerprints.txt")]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT, env=env,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{workload} exceeded its time limit; log: {os.path.relpath(log_path, ROOT)}", 3)
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        fail(f"{workload} JVM exited with {proc.returncode}; log tail:\n{tail}", 3)
    with open(out) as fh:
        res = json.load(fh)
    # Drop the run's sinks and scratch now and flush the page cache, so the
    # next run does not pay for this one's deferred file-system work.
    for name in os.listdir(work):
        if not (name == "result.json" or name.startswith("spans-")):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    os.sync()
    return res


def one(classpath, bench, args, workload, deadline):
    res = run_jvm(classpath, workload, args.seed, args.seconds, args.trace, deadline)
    e2e, layers = res["e2e"], res["layers"]
    last = os.path.join(build.OUT, f"untraced-{workload}.json")
    if args.trace:
        # Tracing overhead: this traced run's latency against the
        # checkout's latest untraced run of the same workload.
        layers["trace.latency_ms"] = e2e["latency_ms"]
        base = None
        if os.path.isfile(last):
            with open(last) as fh:
                base = json.load(fh)["e2e"]["latency_ms"]
        layers["trace.overhead_pct"] = 100.0 * (e2e["latency_ms"] / base - 1.0) if base else 0.0
        if not base:
            print("perfbench: no untraced run of this workload yet; trace.overhead_pct reads 0",
                  file=sys.stderr)
        wanted, source = bench["per_layer"], layers
    else:
        with open(last, "w") as fh:
            json.dump(res, fh)
        wanted, source = bench["end_to_end"], e2e
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        fail(f"{workload} did not report {', '.join(missing)}", 3)
    for k, v in res["run"].items():
        print(f"{workload} run {k} = {v}")
    for k, v in e2e.items():
        unit = next((m["unit"] for m in bench["end_to_end"] if m["name"] == k), "")
        print(f"{workload} {'traced ' if args.trace else ''}e2e {k} = {v} {unit}")
    for n in res["notes"]:
        print(f"{workload} check: {n}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return res["correct"]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    workloads = names if args.workload == "all" else [args.workload]
    if any(w not in names for w in workloads):
        fail(f"unknown workload {args.workload}; choose from {', '.join(names)} or all")
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(str(e))
    ok = True
    for w in workloads:
        ok = one(classpath, bench, args, w, time.time() + RUN_LIMIT_S) and ok
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
