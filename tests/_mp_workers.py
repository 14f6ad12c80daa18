"""Subprocess workers for TRUE multi-process concurrency tests.

Each worker is a separate OS process with its OWN SparkSession (own JVM),
racing another worker against the same on-disk table — no shared locks,
no in-process test seams. The parent test asserts serializability from
the artifacts alone: contiguous version numbers, no torn reads at any
version, and no lost updates. Invoked as::

    python tests/_mp_workers.py <mode> <path> <writer_id>
"""

from __future__ import annotations

import sys


def _spark(writer: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[2]")
        .appName(f"mp-worker-{writer}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def merge_race(table: str, writer: int) -> None:
    """Three OCC merges; every merge also writes the CONTENDED key 0,
    so interleaved commits must conflict-and-recompute, never erase."""
    from etl_loading_scripts_spark.operators.deltalog import (
        merge_upsert_deltalog_with_retry,
    )

    spark = _spark(writer)
    w = writer + 1  # writer keys (w*100+i) stay clear of the seed keys
    for i in range(3):
        src = spark.createDataFrame(
            [(w * 100 + i, w * 1000 + i), (0, w * 1000 + i)], "k long, v long"
        )
        merge_upsert_deltalog_with_retry(
            spark, table, src, on=["k"], max_retries=20
        )


def publish_deltalog_race(base: str, writer: int) -> None:
    """Two full set publishes through the Delta log; the tag ties every
    table of one publish together so a torn set is detectable."""
    from etl_loading_scripts_spark.operators.deltalog import (
        publish_set_deltalog,
    )

    spark = _spark(writer)
    for i in range(2):
        tag = writer * 10 + i
        publish_set_deltalog(
            {
                "fact": spark.createDataFrame(
                    [(1, tag), (2, tag)], "k long, run long"
                ),
                "dim": spark.createDataFrame([(9, tag)], "d long, run long"),
            },
            base,
            max_retries=20,
        )


def cow_disjoint_race(table: str, writer: int) -> None:
    """Two writers merge DISJOINT months of one partitioned table,
    sync-started so their commits race: the disjoint-commit OCC
    reconciliation must let the version-race loser re-commit its staged
    actions WITHOUT recomputing the merge (merge_computations stays 1
    either way). Each worker drops its result dict for the parent."""
    import json
    import os
    import time

    from etl_loading_scripts_spark.operators.deltalog import (
        merge_cow_deltalog_with_retry,
    )

    spark = _spark(writer)
    month = 202401 + writer
    dk = month * 100 + 15
    src = spark.createDataFrame(
        [(5000 + writer, dk, 500.0 + writer)],
        "k long, datekey int, amount double",
    )
    # sync start: wait for the other worker's ready flag so the two
    # merges overlap in time (maximizing the commit race window)
    open(os.path.join(table, f".ready-{writer}"), "w").close()
    other = os.path.join(table, f".ready-{1 - writer}")
    for _ in range(1200):
        if os.path.exists(other):
            break
        time.sleep(0.05)
    res = merge_cow_deltalog_with_retry(
        spark, table, src, on=["k"], max_retries=20
    )
    with open(os.path.join(table, f".result-{writer}.json"), "w") as fh:
        json.dump(res, fh)




def publish_incremental_race(base: str, writer: int) -> None:
    """Two publishers each own ONE month window of a shared
    month-partitioned fact and publish it 3 times with per-iteration
    salts. The ADVICE-r10 lost-update scenario: one publisher's fence
    could restore away the other's just-committed merge before its set
    commit — the set-commit revalidation must converge every publish
    to the union, so the FINAL set carries BOTH writers' last salts."""
    import json
    import os
    import time

    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.operators.deltalog import (
        publish_set_deltalog,
    )

    spark = _spark(writer)
    my_month = 199001 + writer
    lo, hi = my_month * 100 + 1, my_month * 100 + 31

    def frame(salt: int):
        # full 2-month frame (the bootstrap contract); MY month salted
        return spark.range(200).select(
            F.col("id").alias("txn_id"),
            (F.lit(19900101) + (F.col("id") % 2) * 100
             + F.col("id") % 28).alias("datekey"),
            F.when(
                ((F.col("id") % 2) == writer),
                F.lit(10_000 * (writer + 1) + salt),
            ).otherwise(F.lit(0)).alias("amount"),
        )

    os.makedirs(base, exist_ok=True)
    open(os.path.join(base, f".ready-{writer}"), "w").close()
    other = os.path.join(base, f".ready-{1 - writer}")
    for _ in range(1200):
        if os.path.exists(other):
            break
        time.sleep(0.05)
    svs = []
    for i in range(3):
        svs.append(
            publish_set_deltalog(
                [("fact", frame(i))], base,
                max_retries=30,
                incremental={"fact": {"on": ["txn_id"],
                                      "datekey_col": "datekey",
                                      "window": (lo, hi),
                                      "delete_unmatched_source": True}},
            )
        )
    with open(os.path.join(base, f".result-{writer}.json"), "w") as fh:
        json.dump(svs, fh)


if __name__ == "__main__":
    mode, path, writer = sys.argv[1], sys.argv[2], int(sys.argv[3])
    globals()[mode](path, writer)
