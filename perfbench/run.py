#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source,
runs one workload in a fresh process, checks every op's result and prints
the metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one
JSON object with the keys `correct`, `attempted`, `failed` and `metrics`.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
they are the per-layer ones, and the op span tree and the per-layer
self-time table are written under `.bench_out/`.

Every run gets its own empty `java.io.tmpdir`, SQL warehouse and Derby
home under `.bench_run/`, removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")

WORKLOADS = ("inventory", "commit_log")
# the benchmark's input tables, and the smoke test's
SCALES = ("sf0.01", "sf0.001")

# Spark on JDK 17 needs these when the session is not started by
# spark-submit; the same list as the root build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# A run must end within 180 s; the first one in a checkout also builds.
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, for the build fingerprint."""
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")):
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    return [p for p in paths if os.path.isfile(p)]


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g",
    ])
    return env


def build():
    """Compiles the engine and the harness with sbt unless the sources
    are unchanged since the last build; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources here: run from the root of a full checkout")
    fp = fingerprint(source_files())
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("fingerprint") == fp:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("/")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (exit {r.returncode}); see {BUILD}/sbt.log")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, f)
    return lines[-1]


def head_id():
    """The commit the tree is at, or a digest of its engine sources when
    the tree is not a git checkout."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-" + fingerprint([p for p in source_files() if "/perfbench/" not in p])[:16]


def java(classpath, tmp, args, main="perfbench.Main"):
    """The JVM command line for `main` (by default the harness), with
    `tmp` as its java.io.tmpdir."""
    return ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap: G1 otherwise grows it at moments that differ from
        # run to run, and its young-generation sizing and soft-reference
        # clearing (the engine's caches) move with it
        "-Xms3g", "-Xmx3g",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={os.path.join(tmp, 'derby')}",
        "-cp", classpath, main] + args


def harness(classpath, args, tag, budget):
    """Runs the harness in a fresh run directory (its cwd, its empty
    tmpdir) and removes the directory afterwards. Returns the harness's
    result file, parsed, and the launch time."""
    run_dir = os.path.join(RUNS, f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(OUT, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            # relative writes (derby.log, metastore_db, spark-warehouse)
            # land in the run directory, not in the checkout
            t_launch = time.time()
            proc = subprocess.Popen(java(classpath, tmp, args + ["--out", out]), cwd=run_dir,
                                    stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"{tag} did not finish within {budget:.0f} s; see {log_path}")
        if rc != 0 or not os.path.isfile(out):
            fail(f"harness exited with {rc}; see {log_path}")
        with open(out) as f:
            return json.load(f), t_launch
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_workload(classpath, workload, seed, seconds, trace, scale, budget):
    tag = f"{workload}-seed{seed}-trace{trace}"
    args = ["run", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", os.path.join(HERE, "data", scale),
            "--spans", os.path.join(OUT, f"{tag}.spans.jsonl"),
            "--keys", os.path.join(HERE, "workloads", f"{workload}.keys")]
    res, t_launch = harness(classpath, args, tag, budget)
    with open(os.path.join(HERE, "refs", f"{scale}.json")) as f:
        refs = json.load(f)
    return tag, res, refs, t_launch


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    t_start = time.time()
    classpath = build()
    built_s = time.time() - t_start
    budget = RUN_LIMIT_S - (0 if built_s > 30 else built_s)
    tag, res, refs, t_launch = run_workload(
        classpath, a.workload, a.seed, a.seconds, a.trace, "sf0.01", budget)
    report = metrics.evaluate(a.workload, res, refs, t_launch, bool(a.trace))
    report["state"].update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "scale": "sf0.01", "nproc": len(os.sched_getaffinity(0)), "head": head_id(),
        "tmpdir_cold": True, "build_s": round(built_s, 3),
    })
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    if a.trace:
        with open(os.path.join(OUT, f"{tag}.layers.txt"), "w") as f:
            f.write(report["layer_table"])
        print(report["layer_table"], end="")
    print("perfbench state: " + json.dumps(report["state"], sort_keys=True))
    if report["failed_ops"]:
        print("perfbench failed ops: " + json.dumps(report["failed_ops"]))
    print(json.dumps(report["result"]))


if __name__ == "__main__":
    main()
