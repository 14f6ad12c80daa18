"""Table catalog: loaders for the driver's synthetic star schema.

The reference reads SQL Server tables across two linked servers
(SURVEY §1.1, O1); here a "table" is a parquet path under a scale-factor
directory and a "linked server" is just another path — one catalog.

At 100 TB the fact tables (lineitem/orders/events) would be written
partitioned by a date prefix (``datekey`` month) so the monthly incremental
reads prune to ~1 partition (SURVEY §4 "incremental windows"); the loaders
below read whatever layout is present and rely on Catalyst for filter
pushdown + column pruning into the parquet scan.

Reading parquet without a schema makes Spark infer one with a Spark job,
and the BI layer rereads the same tables in every query. So each table's
read schema (with its nanos columns) is inferred once and cached under the
path, the sorted ``(name, size, mtime_ns)`` of its data files and the
session's parquet inference confs; every load then pins that schema on a
new ``spark.read`` and runs no job. The cache holds schemas, never
DataFrames: a shared frame would make self-joins ambiguous and pin a
stale file listing.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimensions safe to broadcast at any production scale (SURVEY §4:
#: "dims unpartitioned (broadcast)"). customer/supplier/part grow with SF but
#: stay dimension-sized; region/nation are constant.
BROADCAST_DIMS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) — detected from the
    file footer (pyarrow, metadata-only read), so the decision does not
    depend on how the current SparkSession was configured. Uncached: the
    callers reach it through :func:`_read_schema`'s cache."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


#: session confs that change the schema Spark infers from a parquet footer
_INFERENCE_CONFS = (
    NANOS_CONF,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMA_CACHE_SIZE = 256
#: (path, data-file stats, inference confs) -> (read schema, nanos columns)
_schema_cache: dict[tuple, tuple[StructType, list[str]]] = {}
_schema_lock = threading.Lock()


def _data_file_stats(path: str) -> tuple | None:
    """Sorted ``(name, size, mtime_ns)`` of the files Spark reads at
    ``path``: the file itself, or every file of a directory tree except
    the hidden ``_``/``.`` ones. A directory's own mtime is no key — an
    in-place rewrite of a part file leaves it unchanged. None when the
    path cannot be stat'ed locally (a remote URI, a file removed
    mid-listing): then nothing is cached."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        out = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                full = os.path.join(root, f)
                st = os.stat(full)
                out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))
    except OSError:
        return None


def _read_schema(spark: SparkSession, path: str) -> tuple[StructType, list[str]]:
    """(Spark read schema, nanos column names) of the parquet at ``path``,
    inferred once per data-file stats and inference confs. Enables
    ``nanosAsLong`` just-in-time when the file stores nanos, before the
    inference and for the reads that follow; the cache key holds the conf
    values the inference ran under."""
    _pin_session_semantics(spark)
    stats = _data_file_stats(path)

    def key() -> tuple:
        return (path, stats, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))

    hit = _schema_cache.get(key()) if stats is not None else None
    if hit is not None:
        return hit
    nanos_cols = _nanos_timestamp_columns(path)
    if nanos_cols:
        spark.conf.set(NANOS_CONF, "true")
    resolved = (spark.read.parquet(path).schema, nanos_cols)
    if stats is not None:
        done = key()
        with _schema_lock:
            if len(_schema_cache) >= _SCHEMA_CACHE_SIZE:
                _schema_cache.pop(next(iter(_schema_cache)))
            _schema_cache[done] = resolved
    return resolved


def _normalize_nanos(df: DataFrame, nanos_cols: list[str]) -> DataFrame:
    """Normalize event-time columns to UTC microsecond ``TimestampType``
    regardless of how the parquet writer typed them — the driver has
    shipped ``events.ts`` as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS)
    isAdjustedToUTC=false across rounds:

    - TIMESTAMP(NANOS) arrives as long under
      ``spark.sql.legacy.parquet.nanosAsLong``; integer-divide to micros
      (same truncation DuckDB applies reading the file);
    - TIMESTAMP(MICROS) without UTC adjustment arrives as
      ``TimestampNTZType``; with the session zone pinned UTC
      (:func:`_pin_session_semantics`), a plain cast reinterprets the
      same wall clock as the same instant — bit-identical to what DuckDB
      computes on the naive value.

    Works identically on batch and ``readStream`` DataFrames.
    """
    from pyspark.sql import functions as F

    out = df
    for f in df.schema.fields:
        kind = f.dataType.simpleString()
        if f.name in nanos_cols and kind == "bigint":
            # integer division: float division of ~1e18 nanos loses precision
            out = out.withColumn(
                f.name, F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
            )
        elif kind == "timestamp_ntz":
            out = out.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return out


def _pin_session_semantics(spark: SparkSession) -> None:
    """Runtime-settable confs every registered query's semantics depend on,
    applied at read time so results are identical from ANY SparkSession
    (the driver contract runs queries in a session this engine didn't
    build — see VERDICT r1 item 1): timestamps are defined in UTC (the
    DuckDB oracle is UTC-naive; date_format outputs shift under any other
    session zone)."""
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def stream_source_schema(spark: SparkSession, path: str):
    """(read schema, nanos column names) for a parquet path used as a
    Structured Streaming file source, from :func:`_read_schema`'s cache:
    ``nanosAsLong`` is on when the stream reads that follow need it;
    callers pass the nanos columns to :func:`_normalize_nanos`."""
    return _read_schema(spark, path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table. Parquet → full pushdown/pruning.

    Works from ANY SparkSession: if the file stores TIMESTAMP(NANOS)
    (Spark cannot read it natively — PARQUET_TYPE_ILLEGAL), the
    runtime-settable SQL conf ``spark.sql.legacy.parquet.nanosAsLong`` is
    enabled just-in-time so the column arrives as bigint, then converted
    to microsecond TimestampType; the session timezone is likewise pinned
    UTC at read time. The read schema comes from :func:`_read_schema`'s
    cache, so a warm call runs no Spark job; the DataFrame is new on
    every call.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    schema, nanos_cols = _read_schema(spark, path)
    return _normalize_nanos(spark.read.schema(schema).parquet(path), nanos_cols)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (mirrors the DuckDB oracle setup)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
