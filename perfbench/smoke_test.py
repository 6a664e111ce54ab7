#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on the sf0.001 tables.

    python3 perfbench/smoke_test.py

Checks, in about a minute after the build:
  - the digest ignores row and column order, is stable under float
    summation order, and sees a changed value and a duplicated row
    (the harness's `selftest`);
  - each workload runs, its ops check out, and it reports every metric
    BENCHMARK.json names, end-to-end and per-layer, with its unit.
Exits non-zero on the first failure.
"""
import json
import os
import shutil
import subprocess
import sys

import metrics
import run


def check(ok, what):
    print(("PASS " if ok else "FAIL ") + what)
    if not ok:
        sys.exit(1)


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    classpath = run.build()

    tmp = os.path.join(run.RUNS, f"smoke-selftest-{os.getpid()}")
    os.makedirs(tmp)
    try:
        r = subprocess.run(run.java(classpath, tmp, ["selftest"]), cwd=tmp,
                           capture_output=True, text=True, timeout=170)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith(("PASS", "FAIL"))]
    print("\n".join(lines))
    check(r.returncode == 0 and lines and all(ln.startswith("PASS") for ln in lines),
          "digest self-test")

    for w in bench["workloads"]:
        name = w["name"]
        # one traced run feeds both metric sets: the untraced half of its
        # ops gives the end-to-end metrics, the traced half the per-layer
        _, res, refs, t_launch = run.run_workload(
            classpath, name, seed=1, seconds=2, trace=1, scale="sf0.001", budget=170)
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            report = metrics.evaluate(name, res, refs, t_launch, trace)
            got = report["result"]["metrics"]
            check(report["result"]["correct"], f"{name}: every op checks out {report['failed_ops']}")
            missing = [m["name"] for m in bench[key]
                       if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]
                       or not isinstance(got[m["name"]]["value"], (int, float))]
            check(not missing, f"{name}: every {key} metric is reported with its unit {missing}")
            extra = sorted(set(got) - {m["name"] for m in bench[key]})
            check(not extra, f"{name}: no {key} metric outside BENCHMARK.json {extra}")


if __name__ == "__main__":
    main()
