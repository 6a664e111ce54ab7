#!/usr/bin/env python3
"""Records the reference digests the inventory workload's ops are checked
against, for one input scale.

    python3 perfbench/record_refs.py --scale sf0.01

For every key in perfbench/workloads/*.keys it
  1. dumps their results with graft.Verify and runs tools/oracle_check.py
     on the dump, the repo's DuckDB oracle; it stops unless all match;
  2. runs each key cold, warm and once more in the harness and keeps the
     digest only if all three agree;
  3. writes perfbench/refs/<scale>.json: {key: {"rows": n, "hash": h}}.
Keys without oracle SQL are rows-only: their reference keeps the row
count alone. Run it from the repository root after a change that is
meant to alter results, and commit the new file with the change.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

import run


def jvm(cmd, cwd):
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        run.fail(f"{cmd[cmd.index('-cp') + 2]} exited with {r.returncode}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--scale", default="sf0.01", choices=run.SCALES)
    a = ap.parse_args()
    keys = set()
    for p in glob.glob(os.path.join(run.HERE, "workloads", "*.keys")):
        with open(p) as f:  # one `<class> <key>` per line
            keys |= {ln.split()[-1] for ln in f if ln.strip()}
    keys = sorted(keys)
    data = os.path.join(run.HERE, "data", a.scale)
    classpath = run.build()

    work = os.path.join(run.RUNS, f"record-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        dump = os.path.join(work, "verify")
        jvm(run.java(classpath, tmp, [data, dump, ",".join(keys)], main="graft.Verify"), work)
        oracle = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "oracle_check.py"), data, dump],
            capture_output=True, text=True)
        print(oracle.stdout.strip().splitlines()[-1] if oracle.stdout.strip() else "")
        if oracle.returncode != 0:
            sys.stderr.write(oracle.stdout[-4000:])
            run.fail("the oracle check failed; no references recorded")
        with open(os.path.join(dump, "oracle_sql.json")) as f:
            hashed = set(json.load(f))
        shutil.rmtree(tmp)
        os.makedirs(tmp)
        survey = os.path.join(work, "survey.jsonl")
        jvm(run.java(classpath, tmp, ["survey", "--data", data, "--out", survey,
                                      "--keys", ",".join(keys)]), work)
        refs, bad = {}, []
        with open(survey) as f:
            for line in f:
                r = json.loads(line)
                calls = [r["cold"], r["warm"], r["again"]]
                if not all(c["ok"] for c in calls) or len({(c["rows"], c["hash"]) for c in calls}) != 1:
                    bad.append(r["key"])
                    continue
                ref = {"rows": calls[0]["rows"]}
                if r["key"] in hashed:
                    ref["hash"] = calls[0]["hash"]
                refs[r["key"]] = ref
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if bad or len(refs) != len(keys):
        run.fail(f"keys failing or not repeatable: {bad or sorted(set(keys) - set(refs))}")
    out = os.path.join(run.HERE, "refs", f"{a.scale}.json")
    with open(out, "w") as f:
        json.dump(refs, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(refs)} references to {os.path.relpath(out, run.ROOT)}")


if __name__ == "__main__":
    main()
