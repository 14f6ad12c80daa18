#!/usr/bin/env python
"""Scale-slope + shuffle profile of the five-stage monthly load itself
(VERDICT r5 item 1): the 20 headline queries got ratio-ratcheted in r5,
but `monthly_load_e2e` IS the product (reference scripts 1→5) and never
appeared in a scale sweep.

This tool amplifies the transactional side of sf0.1 10x (orders +
customer key-offset copies; supplier/dims single-copy — dims grow far
slower than facts at 100 TB, which is what keeps them broadcastable),
then runs the full staged load (stages 1-5 + atomic delta-log publish)
against BOTH fixtures with the Spark UI enabled, recording per STAGE:

- wall seconds,
- shuffle bytes + records (REST API cumulative deltas — catches every
  job a stage runs: transforms, validation counts, checkpoint writes),

and prints a per-stage ratio table. The number that matters is the
SLOPE: a stage whose shuffle bytes grow ~10x with a 10x fact is
linear (cluster-safe — add executors); a superlinear stage is a scale
bug this tool exists to catch. Prints ONE JSON line at the end; the
round-6 table lives in SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_loading_scripts_spark.pipeline.domain import build_domain, full_window
from etl_loading_scripts_spark.pipeline.staged import (
    run_monthly_load_staged,
    shuffle_snapshot,
)
from etl_loading_scripts_spark.session import get_spark

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = "/tmp/sfpipe10x"
COPIES = 10

# column -> key DOMAIN: both sides of a PK/FK pair must shift by the
# SAME offset, computed once from the domain's OWNER table — computing
# per-table maxima would misalign copies whenever the highest customer
# has no orders (max(o_custkey) < max(c_custkey)), silently breaking
# referential integrity in the 10x fixture and corrupting the very
# scale slopes this tool measures. (The shipped sf0.1 fixture happens
# to have aligned maxima — 14999 both sides — so prior published
# numbers were unaffected; the fix removes the dependence on luck.)
AMPLIFIED = {
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "customer": {"c_custkey": "custkey"},
}
DOMAIN_OWNER = {"orderkey": ("orders", "o_orderkey"),
                "custkey": ("customer", "c_custkey")}
PASSTHROUGH = ["supplier", "region", "nation", "part", "lineitem",
               "events", "documents", "embeddings"]


def amplify(spark):
    if os.path.isdir(DST):
        shutil.rmtree(DST)
    os.makedirs(DST)
    for t in PASSTHROUGH:
        shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    offsets = {
        dom: spark.read.parquet(f"{SRC}/{tbl}.parquet").agg(F.max(col)).first()[0] + 1
        for dom, (tbl, col) in DOMAIN_OWNER.items()
    }
    for t, keys in AMPLIFIED.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        parts = []
        for c in range(COPIES):
            p = df
            for k, dom in keys.items():
                p = p.withColumn(
                    k, (F.col(k) + c * offsets[dom]).cast(dict(df.dtypes)[k])
                )
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.coalesce(16).write.mode("overwrite").parquet(f"{DST}/{t}.parquet")


def staged_run(spark, sf_dir):
    dom = build_domain(spark, sf_dir)
    window = full_window(dom)
    stage_dir = tempfile.mkdtemp(prefix="pipe_bench_")
    try:
        t0 = time.time()
        _, metrics, report = run_monthly_load_staged(
            spark, dom, window, stage_dir,
            snapshot=lambda: shuffle_snapshot(spark),
        )
        total = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
    return {
        "total_wall": total,
        "metrics": metrics,
        "stages": {
            r["stage"]: {
                "wall": r["wall_sec"],
                **{k: v for k, v in r.get("shuffle_delta", {}).items()},
            }
            for r in report
        },
    }


def main():
    spark = get_spark(
        app_name="bench_pipeline",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4099"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert shuffle_snapshot(spark) is not None, "UI must be enabled for REST metrics"
    amplify(spark)
    r1 = staged_run(spark, SRC)
    r10 = staged_run(spark, DST)
    rows = []
    for stage in r1["stages"]:
        a, b = r1["stages"][stage], r10["stages"].get(stage, {})
        rows.append({
            "stage": stage,
            "wall_1x": a["wall"], "wall_10x": b.get("wall"),
            "wall_ratio": round(b.get("wall", 0) / a["wall"], 2) if a["wall"] else None,
            "shuffle_mb_1x": round(a.get("shuffle_bytes", 0) / 1e6, 2),
            "shuffle_mb_10x": round(b.get("shuffle_bytes", 0) / 1e6, 2),
            "shuffle_ratio": round(
                b.get("shuffle_bytes", 0) / max(1, a.get("shuffle_bytes", 0)), 2
            ),
            "records_1x": a.get("shuffle_records", 0),
            "records_10x": b.get("shuffle_records", 0),
        })
        print(f"# {rows[-1]}", file=sys.stderr, flush=True)
    print(json.dumps({
        "sf_1x": SRC, "sf_10x": DST, "copies": COPIES,
        "total_wall_1x": r1["total_wall"], "total_wall_10x": r10["total_wall"],
        "validation_1x": r1["metrics"], "validation_10x": r10["metrics"],
        "stages": rows,
    }))


if __name__ == "__main__":
    main()
