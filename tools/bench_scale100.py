#!/usr/bin/env python
"""100x scale evidence (round 8, VERDICT r7 item 7): push the slope
measurement one more decade past the 10x staged-load ceiling.

Amplifies sf0.1 100x (key-offset copies with DOMAIN-consistent offsets
so PK/FK integrity holds; per-copy text perturbation keeps the LSH
candidate structure realistic instead of 100 byte-identical copies per
bucket; dims stay single-copy — at 100 TB dimensions grow far slower
than facts, which is what keeps them broadcastable) into /tmp/sf100x,
then measures:

- the 6 HEAVIEST headline queries (by BENCH noop wall) at 1x and 100x,
  noop sink — the ratio vs the 100x data growth is the slope;
- the full five-stage staged monthly load (delta-log publish included)
  at 1x and 100x with per-stage wall + shuffle bytes/records from the
  Spark UI REST deltas.

A ~<=100x wall/shuffle ratio is linear (cluster-safe: add executors);
superlinear is the scale bug this tool exists to catch. Prints ONE
JSON line; the round-8 table lives in SCALING.md.
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
from etl_loading_scripts_spark.queries import REGISTRY
from etl_loading_scripts_spark.session import get_spark

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = "/tmp/sf100x"
COPIES = 100

#: the 6 heaviest headline queries by BENCH_r7/r8 noop wall
HEAVY = [
    "fingerprint_probe_map",
    "new_fingerprint_insert",
    "topk_per_group",
    "corpus_prep_e2e",
    "dedup_minhash_lsh",
    "ann_lsh_topk",
]

# column -> key DOMAIN (both sides of a PK/FK pair shift by the same
# owner-table offset; see tools/bench_pipeline.py for why)
AMPLIFIED = {
    "customer": {"c_custkey": "custkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {"l_orderkey": "orderkey"},
    "events": {"event_id": "eventid", "user_id": "userid"},
    "documents": {"doc_id": "docid"},
    "embeddings": {"vec_id": "vecid"},
}
DOMAIN_OWNER = {
    "orderkey": ("orders", "o_orderkey"),
    "custkey": ("customer", "c_custkey"),
    "eventid": ("events", "event_id"),
    "userid": ("events", "user_id"),
    "docid": ("documents", "doc_id"),
    "vecid": ("embeddings", "vec_id"),
}
DIMS = ["region", "nation", "supplier", "part"]


def amplify(spark) -> None:
    done = os.path.join(DST, "_AMPLIFIED_OK")
    if os.path.exists(done):
        return  # reuse the existing 100x copy (same SRC, same recipe)
    if os.path.isdir(DST):
        shutil.rmtree(DST)
    os.makedirs(DST)
    for t in DIMS:
        shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    offsets = {
        dom: spark.read.parquet(f"{SRC}/{tbl}.parquet").agg(F.max(col)).first()[0] + 1
        for dom, (tbl, col) in DOMAIN_OWNER.items()
    }
    for t, keys in AMPLIFIED.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        dtypes = dict(df.dtypes)
        # one plan: cross join with a copy index, shift keys by
        # copy*offset — 100 unions would build a 100-way plan
        copies = spark.range(COPIES).withColumnRenamed("id", "__copy")
        out = df.crossJoin(F.broadcast(copies))
        for k, dom in keys.items():
            out = out.withColumn(
                k, (F.col(k) + F.col("__copy") * offsets[dom]).cast(dtypes[k])
            )
        if t == "documents":
            # perturb text so copies are near-dups, not byte-dups —
            # keeps the LSH bucket structure realistic at 100x
            out = out.withColumn(
                "text",
                F.when(F.col("__copy") == 0, F.col("text")).otherwise(
                    F.concat(
                        F.col("text"),
                        F.lit(" copyv"),
                        F.col("__copy").cast("string"),
                    )
                ),
            )
        out.drop("__copy").repartition(32).write.mode("overwrite").parquet(
            f"{DST}/{t}.parquet"
        )
    with open(done, "w") as fh:
        fh.write("ok\n")


def run_query(spark, sf_dir: str, name: str, repeats: int) -> float:
    best = None
    for _ in range(repeats):
        t0 = time.time()
        REGISTRY[name].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def staged_run(spark, sf_dir: str) -> dict:
    dom = build_domain(spark, sf_dir)
    window = full_window(dom)
    stage_dir = tempfile.mkdtemp(prefix="pipe100_")
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


def main() -> None:
    spark = get_spark(
        app_name="bench_scale100",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4098"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert shuffle_snapshot(spark) is not None, "UI needed for REST metrics"
    t0 = time.time()
    amplify(spark)
    print(f"# amplified {COPIES}x in {time.time() - t0:.1f}s", file=sys.stderr)

    queries = {}
    for name in HEAVY:
        REGISTRY[name].spark(spark, "/root/testdata/sf0.001").count()  # warm
        t1 = run_query(spark, SRC, name, repeats=2)
        t100 = run_query(spark, DST, name, repeats=1)
        queries[name] = {
            "sf0.1_s": t1,
            "x100_s": t100,
            "wall_ratio": round(t100 / t1, 1),
        }
        print(f"# {name}: {t1}s -> {t100}s ({queries[name]['wall_ratio']}x)",
              file=sys.stderr, flush=True)

    p1 = staged_run(spark, SRC)
    p100 = staged_run(spark, DST)
    stages = []
    for stage in p1["stages"]:
        a, b = p1["stages"][stage], p100["stages"].get(stage, {})
        stages.append({
            "stage": stage,
            "wall_1x": a["wall"], "wall_100x": b.get("wall"),
            "wall_ratio": round(b.get("wall", 0) / a["wall"], 1) if a["wall"] else None,
            "shuffle_mb_1x": round(a.get("shuffle_bytes", 0) / 1e6, 1),
            "shuffle_mb_100x": round(b.get("shuffle_bytes", 0) / 1e6, 1),
            "shuffle_ratio": round(
                b.get("shuffle_bytes", 0) / max(1, a.get("shuffle_bytes", 0)), 1
            ),
        })
        print(f"# {stages[-1]}", file=sys.stderr, flush=True)
    print(json.dumps({
        "metric": "scale100_slopes",
        "copies": COPIES,
        "queries": queries,
        "pipeline_total_wall_1x": p1["total_wall"],
        "pipeline_total_wall_100x": p100["total_wall"],
        "validation_1x": p1["metrics"],
        "validation_100x": p100["metrics"],
        "stages": stages,
    }))


if __name__ == "__main__":
    main()
