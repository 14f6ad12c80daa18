"""Format-agnostic sources & sinks beyond the test parquet (O1/O2).

The reference reads only SQL Server tables; a Spark-native engine needs the
file-format surface: parquet (default), ORC, CSV, JSON, with explicit
schemas (never inferSchema in production paths), plus bucketed and
range-sorted layouts. The month-partitioned fact lives in the delta log
(``operators/deltalog.py``), keyed by ``io.MONTH_COL``.
"""

from etl_loading_scripts_spark.sources.io import (
    ingest_jsonl_quarantined,
    read_table,
    write_bucketed,
    write_table,
)

__all__ = [
    "ingest_jsonl_quarantined",
    "read_table",
    "write_bucketed",
    "write_table",
]
