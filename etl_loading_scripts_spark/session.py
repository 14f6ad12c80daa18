"""SparkSession factory.

Local mode is one JVM with N executor threads; on a real cluster the same
configs apply per-executor. AQE is always on: at 100 TB it re-plans skewed
joins and coalesces small shuffle partitions at runtime, and at test scale
it is harmless.

The driver JVM runs C1-only (``-XX:TieredStopAtLevel=1``) with a
full-size code cache. The engine's main traffic is one fresh process per
month close, and in that process HotSpot's tiered compilation costs more
CPU than Spark. Per-thread CPU of one ``month_close_10x`` close (4 vCPUs,
JDK 17, Spark 4.1.2), two runs: the C2 compiler threads used 12.8 and
6.7 of 24.8 and 19.0 CPU-s, C1 about 2 s, all executor task threads
together 4.3-4.5 s. C2's code never pays that back within one short
session; C1-only, the same close used 11.8 CPU-s. C1-only HotSpot
shrinks the default reserved code cache from 240 MB to 48 MB, which a
4-client read session fills in under a minute ("CodeCache is full.
Compiler has been disabled", the rest of the run interpreted), so the
cache is reserved at 256 MB. In local mode the driver JVM is also the
executor; on a cluster only the driver is C1-only, executors keep tiered
C2. The cost is in long sessions that run jobs back to back, where C1
code is slower than C2's. On the same host the tier-1 test suite, one
session for hundreds of jobs, ran 1073 -> 1247 s wall, and the
351-query oracle sweep 544 -> 570 s.
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
        # Driver JIT (figures in the module docstring): C1 only, since the
        # C2 compiler threads are the largest CPU item of a one-close
        # process, at the price of slower code in long sessions; and the
        # code cache kept at full size, since C1-only HotSpot would shrink
        # it to 48 MB and stop compiling once it is full. Read at JVM
        # launch only. defaultJavaOptions, not extraJavaOptions: callers
        # set the latter (java.io.tmpdir) through extra_conf, and the
        # launcher prepends this key to it; extra_conf can still replace
        # this one. In local mode this JVM is the executor too;
        # spark.executor.* is left alone, so cluster executors keep C2.
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m",
        )
        # List up to 4096 paths on the driver. Spark's default (32) lists
        # a longer path list with a Spark job of one task per path. The
        # engine's multi-path reads name local leaf files (a delta
        # snapshot's data files, a month-laid-out fact's month files),
        # and listing one is a stat(2) call on the driver, microseconds
        # each; the job costs a scheduling round and one task per file.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
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
