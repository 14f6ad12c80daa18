#!/usr/bin/env python
"""Memory-pressure stress run (VERDICT r6 item 3): every prior
measurement was spill-0 at 128 GiB — i.e. the spill machinery had never
been OBSERVED. This tool runs (a) the 20-query headline set and (b) the
staged monthly load on the 10x-amplified fixture under a DELIBERATELY
constrained session, and records what a 100 TB claim needs at least one
measurement of: behavior when memory is the binding constraint.

Knobs (env):
  MP_DRIVER_MEM   JVM heap for the local-mode driver+executors (e.g. 1g)
  MP_MEM_FRACTION spark.memory.fraction — shrinking it starves EXECUTION
                  memory specifically, forcing sort/agg spill while the
                  JVM keeps enough headroom to stay alive (the honest
                  way to exercise the spill path rather than the OOM
                  killer)
  MP_CPUS         local[N] parallelism (more concurrent tasks = less
                  execution memory per task)
  MP_SHUFFLE      spark.sql.shuffle.partitions (fewer = bigger
                  per-partition sorts)

Per-query failures are caught and recorded, not crashed on — an OOM-class
failure under pressure is a RESULT. Spill totals come from the REST API
(memoryBytesSpilled / diskBytesSpilled per stage). Prints ONE JSON line;
the round-7 table lives in SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DRIVER_MEM = os.environ.get("MP_DRIVER_MEM", "1g")
MEM_FRACTION = os.environ.get("MP_MEM_FRACTION", "0.2")
CPUS = os.environ.get("MP_CPUS", "8")
SHUFFLE = os.environ.get("MP_SHUFFLE", "4")


def _rest_totals(spark) -> dict:
    url = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{url}/api/v1/applications/{app_id}/stages?status=complete"
    ) as resp:
        stages = json.load(resp)
    return {
        "memory_spill_bytes": sum(s.get("memoryBytesSpilled", 0) for s in stages),
        "disk_spill_bytes": sum(s.get("diskBytesSpilled", 0) for s in stages),
        "shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "n_stages": len(stages),
        "n_spilling_stages": sum(
            1 for s in stages if s.get("diskBytesSpilled", 0) > 0
        ),
    }


def main() -> None:
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    from bench import HEADLINE

    from etl_loading_scripts_spark.queries import REGISTRY
    from etl_loading_scripts_spark.session import get_spark

    spark = get_spark(
        app_name="bench_memory_pressure",
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.memory.fraction": MEM_FRACTION,
            "spark.sql.shuffle.partitions": SHUFFLE,
            "spark.ui.enabled": "true",
            "spark.ui.port": "4098",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert spark.sparkContext.uiWebUrl, "UI must be enabled for REST metrics"

    queries: dict[str, dict] = {}
    for name in HEADLINE:
        q = REGISTRY.get(name)
        if q is None:
            continue
        t0 = time.time()
        try:
            q.spark(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            queries[name] = {"wall": round(time.time() - t0, 3), "err": None}
        except Exception as exc:  # noqa: BLE001 — a failure IS the datum
            queries[name] = {
                "wall": round(time.time() - t0, 3),
                "err": f"{type(exc).__name__}: {str(exc)[:200]}",
            }
        print(f"# {name}: {queries[name]}", file=sys.stderr, flush=True)
    after_queries = _rest_totals(spark)

    # staged load on the 10x fixture (built by tools/bench_pipeline.py;
    # reuse if present, amplify otherwise)
    from bench_pipeline import DST, amplify

    from etl_loading_scripts_spark.pipeline.domain import build_domain, full_window
    from etl_loading_scripts_spark.pipeline.staged import run_monthly_load_staged

    if not os.path.isdir(DST):
        amplify(spark)
    stage_dir = tempfile.mkdtemp(prefix="mp_pipe_")
    t0 = time.time()
    try:
        dom = build_domain(spark, DST)
        _, metrics, _ = run_monthly_load_staged(
            spark, dom, full_window(dom), stage_dir
        )
        pipe = {
            "wall": round(time.time() - t0, 3),
            "err": None,
            "validations": metrics,
        }
    except Exception as exc:  # noqa: BLE001
        pipe = {
            "wall": round(time.time() - t0, 3),
            "err": f"{type(exc).__name__}: {str(exc)[:300]}",
        }
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
    totals = _rest_totals(spark)
    pipe_totals = {
        k: totals[k] - after_queries[k]
        for k in ("memory_spill_bytes", "disk_spill_bytes", "shuffle_bytes")
    }

    print(
        json.dumps(
            {
                "config": {
                    "driver_memory": DRIVER_MEM,
                    "memory_fraction": MEM_FRACTION,
                    "cpus": CPUS,
                    "shuffle_partitions": SHUFFLE,
                    "sf_dir": SF_DIR,
                },
                "headline": {
                    "total_wall": round(
                        sum(q["wall"] for q in queries.values()), 3
                    ),
                    "n_failed": sum(1 for q in queries.values() if q["err"]),
                    "failures": {
                        n: q["err"] for n, q in queries.items() if q["err"]
                    },
                    "spill": {
                        k: after_queries[k]
                        for k in ("memory_spill_bytes", "disk_spill_bytes")
                    },
                    "n_spilling_stages": after_queries["n_spilling_stages"],
                    "queries": {n: q["wall"] for n, q in queries.items()},
                },
                "staged_10x_load": {**pipe, "spill": pipe_totals},
                "app_totals": totals,
            }
        )
    )


if __name__ == "__main__":
    main()
