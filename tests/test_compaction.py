"""Small-file compaction: physical-layout proofs the hash oracle can't see.

Contract (``operators/deltalog.optimize_delta``): bin-pack fragmented
partitions of a Delta table into few files in one ``dataChange=false``
version, change zero rows, skip partitions already laid out well
(byte-identical), and split whale partitions by a row target instead of
producing one giant file.
"""

from __future__ import annotations

from test_cow import _month_files, _rows  # pytest rootdir import

from etl_loading_scripts_spark.operators.deltalog import (
    optimize_delta,
    read_delta_table,
    write_delta_table,
)
from etl_loading_scripts_spark.sources.io import MONTH_COL, with_month


def _seed_fragmented(spark, path: str, rows_per_month: int = 300):
    rows = [
        (m * 1000 + i, 20240000 + m * 100 + 1 + i % 28, float(i))
        for m in (1, 2, 3)
        for i in range(rows_per_month)
    ]
    df = spark.createDataFrame(rows, "k BIGINT, datekey INT, amount DOUBLE")
    # 8 writer tasks per month -> 8 files per partition
    write_delta_table(
        with_month(df.repartition(8, "k")), path, partition_by=[MONTH_COL]
    )
    return df


def test_compaction_merges_files_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "fact")
    _seed_fragmented(spark, path)
    before = _month_files(path)
    assert all(len(files) == 8 for files in before.values())
    rows_before = _rows(spark, path)

    stats = optimize_delta(spark, path)
    assert stats["partitions_touched"] == 3
    assert stats["files_removed"] == 24
    after = _month_files(path)
    assert sorted(after) == [202401, 202402, 202403]
    assert all(len(files) == 1 for files in after.values())
    assert stats["files_added"] == 3
    assert _rows(spark, path) == rows_before  # zero rows changed


def test_compaction_skips_already_compact_months(spark, tmp_path):
    """Second run: everything is at target layout -> nothing to do, no
    commit, every file byte-identical (compaction must not churn good
    layout)."""
    path = str(tmp_path / "fact")
    _seed_fragmented(spark, path)
    optimize_delta(spark, path)
    before = _month_files(path)

    stats = optimize_delta(spark, path)
    assert stats["version"] is None
    assert stats["partitions_touched"] == 0
    assert _month_files(path) == before


def test_compaction_scoped_months_leave_others_untouched(spark, tmp_path):
    path = str(tmp_path / "fact")
    _seed_fragmented(spark, path)
    before = _month_files(path)

    stats = optimize_delta(spark, path, partition_filter={MONTH_COL: 202402})
    assert stats["partitions_touched"] == 1
    after = _month_files(path)
    assert after[202401] == before[202401]
    assert after[202403] == before[202403]
    assert len(after[202402]) == 1


def test_compaction_splits_whale_months(spark, tmp_path):
    """A row target below a month's size forces the month to SPLIT into
    several files rather than one giant file."""
    path = str(tmp_path / "fact")
    _seed_fragmented(spark, path, rows_per_month=2000)
    stats = optimize_delta(spark, path, target_file_rows=500)  # ~4 per month
    after = _month_files(path)
    assert stats["partitions_touched"] == 3
    for m in (202401, 202402, 202403):
        assert 2 <= len(after[m]) <= 8
    assert read_delta_table(spark, path).count() == 6000
