"""SparkSession factory.

Local mode is one JVM with N executor threads; on a real cluster the same
configs apply per-executor. AQE is always on: at 100 TB it re-plans skewed
joins and coalesces small shuffle partitions at runtime, and at test scale
it is harmless.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "etl_loading_scripts_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults target the test harness (``local[$SPARK_GRAFT_CPUS]``); on a
    cluster, pass ``master=None`` with an externally-configured session or
    override via ``extra_conf``. Session timezone is pinned to UTC so
    timestamp semantics match the DuckDB oracle (DuckDB timestamps are
    UTC-naive).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan a cached plan's output partitioning too. With
        # Spark's default (false) a persisted frame keeps
        # spark.sql.shuffle.partitions partitions, so every scan of a
        # small cached diff (merge_dim_deltalog's full-outer join) runs
        # one task per shuffle partition, most of them empty.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the events table stores TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long nanos, normalized to TimestampType in
        # catalog.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast threshold: dims in this workload (nation/region/supplier/
        # part at test SF; DimPatron-sized tables excepted) are far below
        # this; at 100 TB the fact side never broadcasts, dims always do.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
