#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload month_close_10x --seed 1 --seconds 10 --trace 0

Runs one workload from a checkout of the repository in a single process
(one Spark session on ``local[<cores>]``), checks the engine's outputs and
prints one JSON line last: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (Spark UI on, spans around the engine's layers).
Scratch files live under ``.perfbench_work/`` in the checkout; see
``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "write_mb_per_op": "MB",
    "space_amp": "ratio",
}


DELTALOG_UNITS = {
    "deltalog.publish_set.self_s": "s",
    "deltalog.merge_cow.s": "s",
    "deltalog.merge_dim.s": "s",
    "deltalog.optimize.s": "s",
    "deltalog.checkpoint.s": "s",
    "deltalog.write_table.s": "s",
    "deltalog.commits_per_close": "count",
    "deltalog.files_added": "count",
    "deltalog.files_removed": "count",
    "deltalog.bytes_rewritten_mb": "MB",
    "deltalog.merge_attempts_per_merge": "count",
    "deltalog.write_amp": "ratio",
    "deltalog.read_table.s": "s",
    "deltalog.read_table.calls": "count",
    "deltalog.prune_ratio": "ratio",
}
#: catalog, Spark, process, set-up and sampling metrics
RUN_UNITS = {
    "catalog.load_table.calls_per_op": "count",
    "catalog.load_table.s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "spark.core_busy": "ratio",
    "spark.driver_gap_s": "s",
    "spark.sched_wait_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.gc_s": "s",
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "setup.amplify_s": "s",
    "setup.bootstrap_load_s": "s",
    "setup.warehouse_publish_s": "s",
    "setup.index_build_s": "s",
    "host.speed": "ratio",
    "ops.samples": "count",
    "ops.wall_p50_s": "s",
    "ops.wall_per_s": "1/s",
    "ops.tail_pct": "%",
    "ops.tail_s": "s",
    "trace.overhead.cpu_s_per_op": "s",
    "trace.overhead.wall_p50_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, in output order."""
    from perfbench.workloads import MIX, STAGES

    stage_units = {"s": "s", "jobs": "count", "shuffle_write_mb": "MB",
                   "output_mb": "MB", "driver_gap_s": "s"}
    return {
        **{f"pipeline.{st}.{k}": u for st in STAGES for k, u in stage_units.items()},
        **DELTALOG_UNITS,
        **{f"queries.{q}.{k}": u for q in MIX for k, u in (("p50_s", "s"), ("jobs", "count"))},
        **RUN_UNITS,
    }

#: engine functions timed in a traced run, by module under the package
TRACED = {
    "pipeline.staged": [
        "run_monthly_load_staged", "stage1_fingerprint_map", "stage2_patron_dims",
        "stage3_restaurant_map", "stage4_billing_groups", "stage5_bi_reporting",
    ],
    "operators.deltalog": [
        "publish_set_deltalog", "merge_cow_deltalog", "merge_cow_deltalog_with_retry",
        "merge_dim_deltalog", "merge_dim_deltalog_with_retry", "optimize_delta",
        "checkpoint_delta", "write_delta_table", "read_delta_table",
        "read_published_set_deltalog",
    ],
    "catalog": ["load_table"],
}


def code_digest() -> str:
    """Digest of the engine's and the benchmark's Python sources, so that a
    traced run is compared only with an untraced run of the same code."""
    h = hashlib.sha256()
    for pkg in ("etl_loading_scripts_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, pkg, "**", "*.py"), recursive=True)):
            with open(path, "rb") as fh:
                h.update(os.path.relpath(path, ROOT).encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["month_close_10x", "bi_reads_4c"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full",
                    help="smoke: sf0.001 inputs and a 1x fact, for the smoke test")
    ap.add_argument("--corrupt", action="store_true",
                    help="tamper with one result before it is checked (smoke test)")
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, traced: bool):
    """The engine's own session factory, with scratch paths kept inside the
    checkout; the UI (and its REST API) only in a traced run."""
    from etl_loading_scripts_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "true" if traced else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if traced:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def spark_layer(counters, snap: dict, wl, window_s: float) -> dict[str, float]:
    from perfbench.probes import job_totals, union_s

    n = max(1, len(wl.ops))
    per_op = []
    for op_id, _, s, e in wl.ops:
        ids = counters.jobs_in_group(op_id)
        tot = job_totals(snap, ids)
        spans = [(snap["jobs"][j]["start"], snap["jobs"][j]["end"]) for j in ids
                 if j in snap["jobs"] and snap["jobs"][j]["start"] and snap["jobs"][j]["end"]]
        tot["gap_s"] = (e - s) - union_s(spans)
        per_op.append(tot)

    def mean(key):
        return sum(t[key] for t in per_op) / n

    return {
        "spark.jobs_per_op": mean("jobs"),
        "spark.tasks_per_op": mean("tasks"),
        "spark.failed_tasks": float(sum(t["failed_tasks"] for t in per_op)),
        "spark.core_busy": sum(t["run_s"] for t in per_op) / (window_s * cores()),
        "spark.driver_gap_s": mean("gap_s"),
        "spark.sched_wait_s": mean("wait_s"),
        "spark.shuffle_write_mb": mean("shuffle_write_mb"),
        "spark.input_mb": mean("input_mb"),
        "spark.output_mb": mean("output_mb"),
        "spark.gc_s": mean("gc_s"),
    }


def span_layer(tracer, wl) -> dict[str, float]:
    ops = {o[0] for o in wl.ops}
    n = max(1, len(ops))
    t = tracer.totals(ops)

    def get(fn, key="s"):
        return t.get(fn, {}).get(key, 0.0)

    d = "operators.deltalog."
    outer = get(d + "merge_cow_deltalog_with_retry", "calls") + get(d + "merge_dim_deltalog_with_retry", "calls")
    inner = get(d + "merge_cow_deltalog", "calls") + get(d + "merge_dim_deltalog", "calls")
    return {
        "deltalog.publish_set.self_s": get(d + "publish_set_deltalog", "self_s") / n,
        "deltalog.merge_cow.s": get(d + "merge_cow_deltalog_with_retry") / n,
        "deltalog.merge_dim.s": get(d + "merge_dim_deltalog_with_retry") / n,
        "deltalog.optimize.s": get(d + "optimize_delta") / n,
        "deltalog.checkpoint.s": get(d + "checkpoint_delta") / n,
        "deltalog.write_table.s": get(d + "write_delta_table") / n,
        "deltalog.merge_attempts_per_merge": inner / outer if outer else 0.0,
        "deltalog.read_table.s": get(d + "read_delta_table") / n,
        "deltalog.read_table.calls": get(d + "read_delta_table", "calls") / n,
        "catalog.load_table.calls_per_op": get("catalog.load_table", "calls") / n,
        "catalog.load_table.s": get("catalog.load_table") / n,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no spans or baselines were kept
        except OSError:
            pass


def measure(args, work: str) -> int:
    # every library's scratch space inside the checkout, fixed before any
    # of them asks for a temp dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    sys.path.insert(0, ROOT)

    import etl_loading_scripts_spark  # noqa: F401 — fails outside a checkout

    from perfbench import probes
    from perfbench.workloads import WORKLOADS

    traced = bool(args.trace)
    tracer = probes.Tracer(traced)
    t0 = time.perf_counter()
    spark = start_session(work, traced)
    session_s = time.perf_counter() - t0
    try:
        if traced:
            tracer.instrument(TRACED)
        counters = probes.SparkCounters(spark) if traced else None
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale, tracer, args.corrupt)
        t0 = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.prepare()
        window = wl.measure(args.seconds)
        wl.check()

        lat = [e - s for _, _, s, e in wl.ops]
        n_ops = max(1, len(lat))
        e2e = {
            "setup_s": session_s + setup_s,
            "cpu_s_per_op": wl.cpu_s_per_op(),
            "write_mb_per_op": wl.op_wchar / 1e6 / n_ops,
            "space_amp": wl.space_amp(),
        }
        wall = {"wall_p50_s": wl.op_p50()}
        untraced_path = os.path.join(
            WORK_ROOT,
            f"untraced-{args.workload}-{args.scale}-{args.seed}-{code_digest()}.json",
        )
        if traced:
            snap = counters.snapshot()
            pct, tail_s = probes.tail(lat)
            per_layer = per_layer_units()
            layer = dict.fromkeys(per_layer, 0.0)
            layer.update(wl.setup_metrics())
            layer.update(wl.layer_metrics(snap))
            layer.update(span_layer(tracer, wl))
            layer.update(spark_layer(counters, snap, wl, window))
            layer.update({
                "session.start_s": session_s,
                "process.peak_rss_mb": probes.tree_peak_rss_mb(),
                "host.speed": wl.host_speed(),
                "ops.samples": float(len(lat)),
                "ops.wall_p50_s": wall["wall_p50_s"],
                "ops.wall_per_s": wl.ops_per_s(),
                "ops.tail_pct": pct,
                "ops.tail_s": tail_s,
            })
            if os.path.exists(untraced_path):
                # how much worse the traced run is: positive is overhead
                with open(untraced_path) as fh:
                    base = json.load(fh)
                layer["trace.overhead.cpu_s_per_op"] = e2e["cpu_s_per_op"] - base["cpu_s_per_op"]
                layer["trace.overhead.wall_p50_s"] = wall["wall_p50_s"] - base["wall_p50_s"]
            tracer.dump(os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.json"))
            metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer.items()}
        else:
            with open(untraced_path, "w") as fh:
                json.dump({**e2e, **wall}, fh)
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        stop_session(spark)

    for err in wl.errors[:20]:
        print(f"check failed: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
