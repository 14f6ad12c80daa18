"""Readers/writers for parquet, ORC, CSV, JSON + the fact's month column."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

FORMATS = ("parquet", "orc", "csv", "json")

#: The fact's partition column: the ``yyyyMM`` month of its datekey.
MONTH_COL = "month"


def with_month(df: DataFrame, datekey_col: str = "datekey") -> DataFrame:
    """``df`` plus :data:`MONTH_COL` derived from a ``yyyyMMdd`` datekey —
    the one month derivation every month-partitioned writer shares."""
    return df.withColumn(MONTH_COL, (F.col(datekey_col) / 100).cast("int"))


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | str | None = None,
) -> DataFrame:
    """Read a table in any supported format.

    CSV/JSON require an explicit ``schema`` — inference double-scans the
    data and produces environment-dependent types (SURVEY §1.2: schemas are
    declared, never inferred)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        raise ValueError(f"{fmt} requires an explicit schema")
    if fmt == "csv":
        return reader.option("header", "true").csv(path)
    return getattr(reader, fmt)(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer = writer.option("header", "true")
    getattr(writer, fmt)(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (hash-partitioned-on-disk) managed table.

    THE shuffle eliminator for the reference's repeated fact↔dim joins
    (SURVEY §4): two tables bucketed by the same key into the same bucket
    count join with ZERO Exchange — each task zips bucket i with bucket i.
    At 100 TB that turns the monthly fact↔DimUniquePatron join from a
    full-cluster shuffle into a co-located map join; ``sort_cols`` enables
    sort-merge without the sort step. Unit-tested: the joined plan contains
    no Exchange (tests/test_sources_and_skew.py)."""
    writer = df.write.mode(mode).format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int = 8,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write globally range-clustered data: ``repartitionByRange`` routes
    each row to the file owning its key range (sampled range boundaries),
    ``sortWithinPartitions`` orders inside each file.

    The layout, not the query, is what makes 100 TB point/range lookups
    cheap: after this write every file's parquet min/max stats on
    ``sort_cols`` are NON-OVERLAPPING (asserted in
    tests/test_sources_and_skew.py), so a predicate on the leading sort
    column prunes to ~1 file at planning time — the single-dimension
    complement of the Z-order layout measured by ``zorder_layout_stats``
    (use Z-order when two+ columns share the filter load, range-sort when
    one dominates). The global sort is one skew-resistant range shuffle;
    there is no single-task total sort anywhere."""
    (
        df.repartitionByRange(num_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .format(fmt)
        .save(path)
    )


def read_jsonl_robust(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    corrupt_col: str = "_corrupt_record",
):
    """Production JSONL ingest: PERMISSIVE parse with the corrupt raw line
    captured in ``corrupt_col`` instead of killing the job.

    Returns ``(good, bad)`` DataFrames — good rows with ``corrupt_col``
    dropped, bad rows as (raw_line) for the quarantine sink. A 100 TB
    crawl ALWAYS contains malformed lines; failing the batch (FAILFAST) or
    silently dropping (DROPMALFORMED) are both wrong for training-data
    lineage — quarantine + count is the auditable path.

    Note Spark's documented caveat: a query referencing ONLY the corrupt
    column of a raw JSON scan is disallowed (the parser would have nothing
    real to parse) — per the docs the parsed frame is cached here before
    the good/bad split, which also means the file is parsed once for both
    outputs. Unpersist after the quarantine write in long-lived jobs."""
    schema_with_corrupt = (
        schema if isinstance(schema, StructType) else None
    )
    reader = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    df = reader.json(path)
    if corrupt_col not in df.columns:
        # schema didn't declare the corrupt column — re-read with it added
        from pyspark.sql.types import StringType, StructField

        base = df.schema if schema_with_corrupt is None else schema_with_corrupt
        reader = (
            spark.read.schema(StructType([*base, StructField(corrupt_col, StringType())]))
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
        )
        df = reader.json(path)
    df = df.cache()
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, bad


def ingest_jsonl_quarantined(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    quarantine_path: str,
    run_id: str,
):
    """JSONL ingest wired to a quarantine sink: good rows return, bad raw
    lines are appended to ``quarantine_path`` stamped with ``run_id`` —
    the auditable companion to :func:`read_jsonl_robust` that pipeline
    runs call directly (quarantine row counts land in the run-metrics
    table next to the stage validations).

    Returns ``(good, metrics)`` where metrics counts quarantined lines.
    The count comes from the cached parse (one scan serves the split, the
    sink write, and the count); the quarantine write is append-mode so
    successive runs accumulate an inspectable history keyed by run."""
    good, bad = read_jsonl_robust(spark, path, schema)
    stamped = bad.select(F.lit(run_id).alias("run_id"), "raw_line")
    stamped.write.mode("append").parquet(quarantine_path)
    return good, {"jsonl_quarantined": bad.count()}


def read_with_schema_evolution(
    spark: SparkSession, paths: list[str], fmt: str = "parquet"
) -> DataFrame:
    """Read generations of a table whose schema widened over time
    (columns added) as ONE DataFrame: parquet/ORC ``mergeSchema`` unions
    the footers' schemas and older files surface NULL for columns they
    predate — the standard append-only schema-evolution contract.

    Scale note: mergeSchema reads every file footer at planning time;
    production bounds it by evolving the schema in the catalog instead
    (the merged schema is then declared, not discovered). This operator
    is for the ingest edge where generations genuinely coexist."""
    if fmt not in ("parquet", "orc"):
        raise ValueError("schema evolution merge supported for parquet/orc only")
    return getattr(
        spark.read.option("mergeSchema", "true"), fmt
    )(*paths)


def read_csv_robust(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    corrupt_col: str = "_corrupt_record",
    header: bool = False,
):
    """Production CSV ingest, the flat-file twin of :func:`read_jsonl_robust`:
    PERMISSIVE parse against a DECLARED schema, malformed lines captured
    whole in ``corrupt_col`` for the quarantine sink instead of killing
    the batch or silently vanishing (FAILFAST / DROPMALFORMED — both
    wrong for auditable loads; the reference's loads are typed columns
    from vendor extracts, SURVEY §1.2).

    Returns ``(good, bad)``. Same documented Spark caveat as JSONL: the
    corrupt column can't be queried alone off a raw scan, so the parsed
    frame is cached before the split — one scan serves both outputs."""
    from pyspark.sql.types import StringType, StructField

    base = (
        schema
        if isinstance(schema, StructType)
        else _parse_ddl_schema(spark, schema)
    )
    full = StructType([*base, StructField(corrupt_col, StringType())])
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("header", "true" if header else "false")
        .csv(path)
        .cache()
    )
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, bad


def _parse_ddl_schema(spark: SparkSession, ddl: str) -> StructType:
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(ddl)
