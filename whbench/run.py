#!/usr/bin/env python3
"""Warehouse benchmark: one command, two workloads.

    python3 whbench/run.py --workload etl_batch|commit_stream \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program and the
benchmark harness from source into .bench_build/whbench/ (about a minute);
later runs reuse the classes while the sources are unchanged. The last line
of standard output is one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). See
whbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
WORKLOADS = ("etl_batch", "commit_stream")


def fail(msg):
    print(f"whbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(cmd, timeout_s):
    """Run the benchmark JVM in its own process group. Returns (exit code,
    stdout lines, peak resident set size in MB); kills the group on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []
    reader = threading.Thread(target=lambda: lines.extend(proc.stdout), daemon=True)
    reader.start()
    deadline = time.monotonic() + timeout_s
    status = rusage = None
    while status is None:
        pid, st, ru = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            status, rusage = st, ru
        elif time.monotonic() > deadline:
            print(f"whbench: run exceeded {timeout_s} s, stopping it", file=sys.stderr)
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(proc.pid, sig)
                except ProcessLookupError:
                    break
                time.sleep(3)
        else:
            time.sleep(0.1)
    proc.returncode = os.waitstatus_to_exitcode(status)
    reader.join(timeout=10)
    # ru_maxrss is in kilobytes on Linux
    return proc.returncode, [l.rstrip("\n") for l in lines], rusage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="tiny: a few hundred rows per input (smoke test)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected value; the output check must fail")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    jars = build.spark_jars()
    if jars is None:
        fail("no Spark distribution found (set SPARK_HOME)")

    out = os.path.join(root, ".bench_build", "whbench")
    classes = build.ensure_built(root, out, jars)
    work = os.path.join(out, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java_command(classes, jars, work) + [
        "whbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
        "--size", args.size]
    if args.corrupt_expected:
        cmd.append("--corrupt-expected")
    try:
        code, lines, rss_mb = run_jvm(cmd, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in lines:
        if line.startswith("WHBENCH_RESULT "):
            result = json.loads(line[len("WHBENCH_RESULT "):])
        else:
            print(line)
    if code != 0 or result is None:
        fail(f"benchmark JVM exited with {code} and no result")
    if args.trace == 0:
        result["metrics"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
