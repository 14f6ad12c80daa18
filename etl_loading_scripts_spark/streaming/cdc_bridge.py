"""Streaming changelog → month-partitioned Delta table (the CDC bridge).

The missing piece between the streaming surface (§2.10 extensions) and the
warehouse mutations (O4): a change stream applied transactionally to the
month-partitioned fact via ``foreachBatch`` + ``merge_cow_deltalog``.
This is the Structured-Streaming idiom for "stream into a lakehouse
table" — Delta's ``foreachBatch`` merge recipe — executed against this
engine's own delta log (``operators/deltalog.py``): each micro-batch is
one month-scoped copy-on-write MERGE committed as one Delta version.

Scale notes: each micro-batch is deduped per key (rank-1 by event time —
the reference's own discipline, ``S4:23,30``), then merged with partition
pruning on the batch's months only. State never accumulates in the
streaming engine — the TABLE is the state — so a year-long changelog
replay costs one bounded merge per batch, and a whale batch spreads over
(month, key) shuffle partitions inside the merge. The partition key is
immutable under the contract (an event's timestamp never changes), so a
batch can never strand a stale row in another month.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_loading_scripts_spark.catalog import (
    _normalize_nanos,
    load_table,
    stream_source_schema,
    table_path,
)
from etl_loading_scripts_spark.operators.deltalog import (
    _fixture_dir,
    merge_cow_deltalog,
    read_delta_table,
    write_delta_table,
)
from etl_loading_scripts_spark.registry import register
from etl_loading_scripts_spark.sources.io import MONTH_COL, with_month
from etl_loading_scripts_spark.streaming.source_util import stream_source_dir


def _event_changelog(df: DataFrame) -> DataFrame:
    """(event_id, datekey, value DECIMAL(18,6)) — the CDC payload shape.
    Decimal money keeps the post-apply aggregate bit-identical."""
    return df.select(
        "event_id",
        (
            F.year("ts") * 10000 + F.month("ts") * 100 + F.dayofmonth("ts")
        ).cast("int").alias("datekey"),
        F.col("value").cast("decimal(18,6)").alias("value"),
    )


def apply_changelog_batch(
    spark: SparkSession, target_path: str, batch: DataFrame
) -> dict:
    """One micro-batch of the CDC apply: rank-1 dedup per key (latest
    ``ts`` wins, ``event_id`` breaks exact ties) then a month-scoped COW
    merge of the batch's months into the Delta table at ``target_path``,
    committed as one version. Exposed as a plain function so the batch
    semantics are unit-testable without a streaming query around them."""
    w = Window.partitionBy("event_id").orderBy(F.desc("ts"))
    latest = (
        batch.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )
    return merge_cow_deltalog(
        spark,
        target_path,
        _event_changelog(latest),
        on=["event_id"],
        datekey_col="datekey",
    )


@register(
    "stream_cdc_merge_cow",
    oracle="""
    SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS datekey,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
    doc="Streaming CDC apply: a changelog stream of every event is merged "
    "micro-batch by micro-batch into a month-partitioned fact seeded with "
    "stale state (two-thirds of the events at value 0, one-third missing) "
    "via foreachBatch + file-level-rewrite MERGE; the healed table's "
    "per-day rollup must equal the true event stream's — any missed "
    "update, missed insert, or double-apply shifts a decimal sum.",
)
def stream_cdc_merge_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-into-lakehouse idiom with the table as the only state:
    outputMode is irrelevant (foreachBatch), watermarks unnecessary (the
    merge is idempotent per key — a replayed batch re-asserts the same
    values), and exactly-once lands on batch idempotence + the one-version
    Delta commit per batch, which is how every production Delta/Iceberg
    CDC sink actually achieves it."""
    src = table_path(sf_dir, "events")
    stream_dir = stream_source_dir(src, prefix="events_cdc")
    raw_schema, nanos_cols = stream_source_schema(spark, src)

    events = load_table(spark, sf_dir, "events")
    seed = _event_changelog(events).filter(
        F.col("event_id") % 3 != 0
    ).withColumn("value", F.lit(0).cast("decimal(18,6)"))
    target = _fixture_dir(sf_dir, tag="cow_cdc")
    shutil.rmtree(target, ignore_errors=True)
    write_delta_table(with_month(seed), target, partition_by=[MONTH_COL])

    stream = _normalize_nanos(
        spark.readStream.schema(raw_schema).parquet(stream_dir), nanos_cols
    )
    # shuffle partitions pinned to source volume for the batch merges
    # inside foreachBatch (r15)
    from etl_loading_scripts_spark.streaming.source_util import (
        derived_state_partitions,
        scoped_shuffle_partitions,
    )

    with scoped_shuffle_partitions(spark, derived_state_partitions(spark, src)):
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, _eid: apply_changelog_batch(spark, target, batch)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    return (
        read_delta_table(spark, target)
        .groupBy("datekey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast("double").alias("total_value"),
        )
    )
