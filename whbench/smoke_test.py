#!/usr/bin/env python3
"""Smoke test of the warehouse benchmark, at tiny input sizes.

    python3 whbench/smoke_test.py        # from the root of a checkout

For every workload in BENCHMARK.json it checks that an untraced run prints
every end-to-end metric with its unit and a positive value, that a traced run
prints every per-layer metric with its unit, and that a run whose expected
values are corrupted reports correct=false and exits non-zero. Takes a few
minutes (each run starts a Spark session).
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd.append("--corrupt-expected")
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result


def check_metrics(result, specs, where, positive):
    problems = []
    for spec in specs:
        got = result["metrics"].get(spec["name"])
        if got is None:
            problems.append(f"{where}: {spec['name']} missing")
        elif got["unit"] != spec["unit"]:
            problems.append(f"{where}: {spec['name']} unit {got['unit']} != {spec['unit']}")
        elif positive and not got["value"] > 0:
            problems.append(f"{where}: {spec['name']} = {got['value']}, want > 0")
    extra = set(result["metrics"]) - {s["name"] for s in specs}
    if extra:
        problems.append(f"{where}: unexpected metrics {sorted(extra)}")
    return problems


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    problems = []
    for w in (w["name"] for w in bench["workloads"]):
        code, r = run(w, 0)
        if code != 0 or r is None or not r["correct"] or r["failed"] != 0:
            problems.append(f"{w}: untraced run failed (exit {code}, result {r})")
        else:
            problems += check_metrics(r, bench["end_to_end"], f"{w} trace 0", positive=True)
        code, r = run(w, 1)
        if code != 0 or r is None or not r["correct"]:
            problems.append(f"{w}: traced run failed (exit {code}, result {r})")
        else:
            problems += check_metrics(r, bench["per_layer"], f"{w} trace 1", positive=False)
        code, r = run(w, 0, corrupt=True)
        if code == 0 or r is None or r["correct"] or r["failed"] == 0:
            problems.append(f"{w}: a corrupted expected value did not trip the check "
                            f"(exit {code}, result {r})")
        print(f"smoke: {w} done", file=sys.stderr)
    for p in problems:
        print(f"FAIL {p}")
    print("smoke test " + ("failed" if problems else "passed"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
