#!/usr/bin/env python
"""Measured partition-pruning win (SCALING.md companion).

The monthly pipeline's physical design bet (SURVEY §4: month-partitioned
fact) is plan-asserted on the delta-log fact in
``test_deltalog::test_partitioned_table_prunes_and_time_travels``; this
measures what the pruned scan is worth in wall time. The amplified fact (~4.8M rows, 24 months)
is written twice:

  flat        — one directory, month is just a column (many files, no
                layout help beyond parquet row-group min/max)
  partitioned — ``partitionBy(month)`` directory layout

then the same one-month aggregate runs against both. The flat layout
must open every file and rely on row-group stats; the partitioned
layout lists exactly one month directory. On a real object store the
gap widens further (listing + open latency per file dominates).

Results equality asserted. Prints one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import os  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from etl_loading_scripts_spark.catalog import load_table  # noqa: E402
from etl_loading_scripts_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
AMPLIFY = 8
TARGET_MONTH = 199609


def one_month_agg(df):
    return (
        df.filter(F.col("month") == TARGET_MONTH)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("l_quantity").cast("long")).alias("qty"),
        )
    )


def timed(df):
    t0 = time.monotonic()
    rows = sorted((r["l_returnflag"], r["n"], r["qty"]) for r in df.collect())
    return time.monotonic() - t0, rows


def main() -> None:
    spark = get_spark(app_name="bench_pruning")
    spark.sparkContext.setLogLevel("ERROR")

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_quantity", "l_shipdate"
    )
    fact = (
        li.withColumn("__rep__", F.explode(F.sequence(F.lit(1), F.lit(AMPLIFY))))
        .select(
            "l_returnflag",
            "l_quantity",
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("month"),
        )
        # many small files per layout — the realistic long-history shape
        .repartition(64)
    )

    base = tempfile.mkdtemp(prefix="bench_pruning_")
    flat_dir = f"{base}/flat"
    part_dir = f"{base}/partitioned"
    try:
        fact.write.mode("overwrite").parquet(flat_dir)
        # the partitioned-write discipline: cluster on the partition
        # column first so each month gets O(1) files, not one per
        # upstream task
        fact.repartition(F.col("month")).write.mode("overwrite").partitionBy(
            "month"
        ).parquet(part_dir)

        flat = spark.read.parquet(flat_dir)
        part = spark.read.parquet(part_dir)

        # warm both file listings once, then measure best-of-3
        timed(one_month_agg(flat))
        timed(one_month_agg(part))
        t_flat, r_flat = min(timed(one_month_agg(flat)) for _ in range(3))
        t_part, r_part = min(timed(one_month_agg(part)) for _ in range(3))
        assert r_flat == r_part and r_flat, "layouts must agree"

        n_flat_files = sum(1 for p in Path(flat_dir).rglob("*.parquet"))
        n_part_files_month = sum(
            1 for p in Path(f"{part_dir}/month={TARGET_MONTH}").rglob("*.parquet")
        )
        n_part_files_total = sum(1 for p in Path(part_dir).rglob("*.parquet"))
        print(
            json.dumps(
                {
                    "metric": "partition_pruning_one_month_agg",
                    "sf": SF_DIR,
                    "amplify": AMPLIFY,
                    "flat_sec": round(t_flat, 3),
                    "partitioned_sec": round(t_part, 3),
                    "speedup": round(t_flat / t_part, 2),
                    "files_flat": n_flat_files,
                    "files_scanned_partitioned": n_part_files_month,
                    "files_total_partitioned": n_part_files_total,
                }
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
