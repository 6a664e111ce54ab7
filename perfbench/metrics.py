"""Turns one harness run's op records into the benchmark's metrics.

End-to-end metrics (untraced runs):
  setup_s           process launch to the first timed op (JVM, session,
                    fixtures, warm calls including every staged-table build)
  read_mean_s       mean latency of the successful timed ops that commit
                    nothing and write no files
  write_mean_s      mean latency of the successful timed ops that commit or
                    write files
  ops_per_s         successful timed ops per second of timed wall time

A run holds a few dozen ops of a fixed mix whose latencies differ by an
order of magnitude, so a median lands on one key's few samples and a 90th
percentile on two or three samples; neither is steady across runs, and
no percentile above the median has ten samples beyond it. The mean over
the fixed mix is the steady centre. Each class's median, 90th percentile
and sample count go to the run's state record.

Per-layer metrics (traced runs) are per-op means over the traced ops
unless named otherwise; see PER_LAYER below.
"""
import statistics

END_TO_END = {"setup_s": "s", "read_mean_s": "s", "write_mean_s": "s", "ops_per_s": "1/s"}

LOG_OPS = ("append", "delete_cow", "delete_mor", "merge", "compact",
           "read_latest", "read_version", "read_point", "read_range")
# commit_log's ops per block (harness/.../Workloads.scala)
BLOCK = 16

# name -> unit; the order is the output order
PER_LAYER = {
    "setup.session_s": "s", "setup.fixture_s": "s", "setup.warm_s": "s",
    "stage.builds": "count", "stage.build_s": "s", "stage.bytes": "B", "stage.timed_builds": "count",
    "catalyst.queries": "count", "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.self_s": "s",
    "catalog.statements": "count", "catalog.ddl_s": "s", "catalog.write_s": "s",
    "catalog.refresh_s": "s", "catalog.select_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.job_wall_s": "s", "exec.task_s": "s",
    "exec.task_cpu_s": "s", "exec.task_gc_s": "s", "exec.sched_wait_s": "s",
    "exec.core_util": "ratio", "exec.input_rows": "count", "exec.input_bytes": "B",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "driver.other_s": "s",
    **{f"log.{op}_s": "s" for op in LOG_OPS},
    "log.driver_s": "s", "log.versions": "count", "log.meta_bytes_per_commit": "B",
    "log.files_live": "count", "log.files_kept_ratio": "ratio", "log.read_growth": "ratio",
    "log.stored_bytes_per_user_byte": "ratio",
    "fs.read_ops": "count", "fs.write_ops": "count", "fs.list_ops": "count",
    "fs.bytes_read": "B", "fs.bytes_written": "B", "fs.write_amp": "ratio",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "jvm.peak_rss_mb": "MB",
    "jvm.retained_heap_mb": "MB",
    "trace.overhead": "ratio", "fail_ratio": "ratio",
}

# per-layer metric -> the harness's per-op field it averages
PER_OP_MEAN = {
    "catalyst.queries": "queries", "catalyst.analysis_s": "analysis_s",
    "catalyst.optimization_s": "optimization_s", "catalyst.planning_s": "planning_s",
    "catalyst.self_s": "catalyst_s",
    "catalog.statements": "statements", "catalog.ddl_s": "ddl_s", "catalog.write_s": "write_s",
    "catalog.refresh_s": "refresh_s", "catalog.select_s": "select_s",
    "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.failed_tasks": "failed_tasks", "exec.job_wall_s": "job_wall_s",
    "exec.task_s": "task_s", "exec.task_cpu_s": "task_cpu_s", "exec.task_gc_s": "task_gc_s",
    "exec.sched_wait_s": "sched_wait_s", "exec.input_rows": "input_rows",
    "exec.input_bytes": "input_bytes", "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.spill_bytes": "spill_bytes", "driver.other_s": "driver_s",
    "fs.read_ops": "fs_read_ops", "fs.write_ops": "fs_write_ops", "fs.list_ops": "fs_list_ops",
    "fs.bytes_read": "fs_bytes_read", "fs.bytes_written": "fs_bytes_written",
}


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def check(workload, records, refs):
    """Marks each op record failed when it threw or its digest differs
    from the reference; returns the names of the failed ops."""
    failed = []
    for r in records:
        if r["ok"] and workload != "commit_log":
            ref = refs.get(r["name"])
            if ref is None:
                r["ok"], r["err"] = False, "no reference digest"
            elif r["rows"] != ref["rows"] or ("hash" in ref and r["hash"] != ref["hash"]):
                r["ok"] = False
                r["err"] = f"digest {r['rows']}/{r['hash']} != reference {ref['rows']}/{ref.get('hash', '*')}"
        if not r["ok"]:
            failed.append(f"{r['name']}: {r['err']}")
    return failed


def trace_overhead(ops):
    """Median over op names of traced/untraced median wall time, minus 1."""
    ratios = []
    for name in sorted({o["name"] for o in ops}):
        t = [o["wall_s"] for o in ops if o["name"] == name and o["traced"]]
        u = [o["wall_s"] for o in ops if o["name"] == name and not o["traced"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return statistics.median(ratios) - 1.0 if ratios else 0.0


def read_growth(ops):
    """How log reads slow down as the log grows during the run: for each
    read kind, its median latency in the last block of ops over its
    median in the first, and the median of those ratios over the kinds,
    so that only like is compared with like."""
    reads = [o for o in ops if o["ok"] and o["cls"] == "read" and o["name"] in LOG_OPS]
    if not reads:
        return 0.0
    first, last = min(o["i"] // BLOCK for o in reads), max(o["i"] // BLOCK for o in reads)
    ratios = []
    for name in sorted({o["name"] for o in reads}):
        a = [o["wall_s"] for o in reads if o["name"] == name and o["i"] // BLOCK == first]
        b = [o["wall_s"] for o in reads if o["name"] == name and o["i"] // BLOCK == last]
        if a and b:
            ratios.append(statistics.median(b) / statistics.median(a))
    return statistics.median(ratios) if ratios else 0.0


def per_layer(res, ops, cores):
    setup, wl, jvm = res["setup"], res["workload"], res["jvm"]
    traced = [o for o in ops if o["traced"]]
    m = {
        "setup.session_s": setup["session_s"], "setup.fixture_s": setup["fixture_s"],
        "setup.warm_s": setup["warm_s"], "stage.builds": setup["stage_builds"],
        "stage.build_s": setup["stage_build_s"], "stage.bytes": setup["stage_bytes"],
        "stage.timed_builds": sum(o["stage_built"] for o in ops),
        "jvm.gc_s": jvm["gc_s"], "jvm.heap_peak_mb": jvm["heap_peak_mb"],
        "jvm.peak_rss_mb": res["state"]["peak_rss_mb"],
        "jvm.retained_heap_mb": setup["retained_heap_mb"],
        "trace.overhead": trace_overhead(ops),
        "fail_ratio": sum(1 for o in ops if not o["ok"]) / len(ops),
    }
    for name, field in PER_OP_MEAN.items():
        m[name] = mean([o[field] for o in traced])
    job_wall = sum(o["job_wall_s"] for o in traced)
    m["exec.core_util"] = sum(o["task_s"] for o in traced) / (job_wall * cores) if job_wall else 0.0
    # the commit log's layer: per-call latency by kind (untraced calls),
    # driver time inside the calls, and the shape of the log at the end
    clean = [o for o in ops if o["ok"] and not o["traced"]]
    for op in LOG_OPS:
        xs = [o["wall_s"] for o in clean if o["name"] == op]
        m[f"log.{op}_s"] = statistics.median(xs) if xs else 0.0
    log_traced = [o for o in traced if o["name"] in LOG_OPS]
    m["log.driver_s"] = mean([o["driver_s"] for o in log_traced])
    m["log.versions"] = wl.get("versions", 0)
    m["log.meta_bytes_per_commit"] = wl.get("meta_bytes_per_commit", 0.0)
    m["log.files_live"] = wl.get("files_live", 0)
    total = sum(o.get("files_total", 0) for o in traced)
    m["log.files_kept_ratio"] = sum(o.get("files_kept", 0) for o in traced) / total if total else 0.0
    m["log.read_growth"] = read_growth(ops)
    user = wl.get("user_bytes", 0)
    m["log.stored_bytes_per_user_byte"] = wl["stored_bytes"] / user if user else 0.0
    # write amplification: bytes the traced writes put on disk over the
    # bytes of the rows they changed (at the live table's bytes per row)
    per_row = user / wl["live_rows"] if user and wl.get("live_rows") else 0.0
    writes = [o for o in traced if o["cls"] == "write" and o["name"] in LOG_OPS]
    changed = sum(max(o["rows"], 0) for o in writes) * per_row
    m["fs.write_amp"] = sum(o["fs_bytes_written"] for o in writes) / changed if changed else 0.0
    return m


def layer_table(workload, ops):
    """Per-op-name self times (executor, Catalyst, driver) of the traced
    ops; the three add up to the op's wall time."""
    traced = [o for o in ops if o["traced"]]
    rows = [("op", "n", "wall_s", "exec_s", "catalyst_s", "driver_s")]
    names = sorted({o["name"] for o in traced})
    for name in names + ["(all)"]:
        os_ = [o for o in traced if name in ("(all)", o["name"])]
        rows.append((name, str(len(os_))) + tuple(
            f"{mean([o[k] for o in os_]):.4f}" for k in ("wall_s", "exec_s", "catalyst_s", "driver_s")))
    width = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    lines = [f"self time per traced op, {workload} (mean over ops)"]
    lines += ["  ".join(c.ljust(w) for c, w in zip(r, width)).rstrip() for r in rows]
    return "\n".join(lines) + "\n"


def evaluate(workload, res, refs, t_launch, trace):
    ops = res["ops"]
    failed = check(workload, res["warm"], refs) + check(workload, ops, refs)
    state = dict(res["state"])
    good = [o for o in ops if o["ok"]]
    if trace:
        m = per_layer(res, ops, state["cores"])
        metrics = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        m = {
            "setup_s": state["first_op_epoch_ms"] / 1000.0 - t_launch,
            "ops_per_s": len(good) / res["timed_s"],
        }
        for cls in ("read", "write"):
            walls = [o["wall_s"] for o in good if o["cls"] == cls] or [0.0]
            m[f"{cls}_mean_s"] = mean(walls)
            state[f"{cls}_p50_s"] = quantile(walls, 0.5)
            state[f"{cls}_p90_s"] = quantile(walls, 0.9)
            state[f"{cls}_ops"] = len(walls)
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    n_failed = sum(1 for o in ops if not o["ok"])
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": n_failed,
        "metrics": metrics,
    }
    state["timed_s"] = res["timed_s"]
    state["warm_failed"] = sum(1 for o in res["warm"] if not o["ok"])
    return {
        "result": result, "state": state, "failed_ops": failed,
        "layer_table": layer_table(workload, ops) if trace else "",
        "setup": res["setup"], "warm": res["warm"], "ops": ops, "workload": res["workload"],
    }
