"""Streaming sinks: merge each micro-batch into a Delta table.

The reference's dimension-maintenance MERGE (O4) lifted to Structured
Streaming: ``foreachBatch`` hands every micro-batch to the same join-based
``merge_upsert`` used in batch, executed against the delta log
(``operators/deltalog.merge_upsert_deltalog``), so each micro-batch
commits as ONE Delta version. This is the standard "streaming upsert"
topology (Kafka → dim table) that Delta's ``MERGE INTO`` serves natively.

Replay: a batch re-run after a crash between its Delta commit and the
stream's checkpoint commit merges again as a new version — the merge is
idempotent on its keys, so the table converges to the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_loading_scripts_spark.operators.deltalog import (
    _all_versions,
    merge_upsert_deltalog,
    write_delta_table,
)


def foreach_batch_upsert(
    spark: SparkSession,
    target_path: str,
    on: list[str],
    transform=None,
):
    """Build a ``foreachBatch`` callback that merges each micro-batch into
    the Delta table at ``target_path`` (created by the first batch).

    ``transform`` (optional) pre-aggregates the raw batch — e.g. per-key
    totals — before the merge; it must emit one row per key (merge_upsert's
    dedup contract).

    Scale: state lives in the table, not executor memory — the merge
    shuffles on ``on`` (or broadcasts the batch when small vs the target),
    so arbitrarily large dimensions stream-maintain without a state store.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch = transform(batch_df) if transform is not None else batch_df
        if _all_versions(target_path):
            merge_upsert_deltalog(spark, target_path, batch, on=on)
        else:
            write_delta_table(batch, target_path)

    return _apply
