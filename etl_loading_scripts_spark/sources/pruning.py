"""Dynamic partition pruning + runtime join filters — the two RUNTIME
pruning levers the static layout work (the month-partitioned delta-log fact,
``tools/bench_pruning.py``) doesn't cover.

Static pruning needs the partition predicate IN the query (``month =
202406``). Real star-join workloads filter the DIMENSION ("Q2's
months", "EU nations") and join — the fact-side partition set is only
known at RUNTIME, after the dim filter evaluates. Spark's dynamic
partition pruning (DPP) turns the broadcast dim into an IN-subquery
partition filter on the fact scan (``dynamicpruningexpression`` in
PartitionFilters), so a quarter's rollup opens 3 of ~80 month
directories without the query ever naming them. Runtime bloom-filter
join pruning (``spark.sql.optimizer.runtime.bloomFilter.enabled``,
on by default in Spark 4) is the row-level sibling for non-partition
join keys.

``dpp_quarter_rollup`` plants a month-partitioned fact fixture
(derived deterministically from ``orders``) and aggregates one
quarter THROUGH a filtered calendar dim — the plan is asserted to
carry the DPP subquery (``tests/test_plans.py``) and the result is
oracle-checked against DuckDB computing straight from ``orders``.

Reference behavior modeled: SURVEY §4's monthly-window discipline
(S4:91-107 two-guard idiom) — the runtime twin of the static
``DateKey BETWEEN`` pruning the reference relies on.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_loading_scripts_spark.catalog import load_table
from etl_loading_scripts_spark.registry import register


def _fixture_dir(sf_dir: str) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        f"dpp_fact_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )


def plant_partitioned_fact(spark: SparkSession, sf_dir: str) -> str:
    """Month-partitioned (hive ``month=yyyyMM/``) fact derived from
    orders: (txn_id, month, amount). Built once per sf fixture; the
    same month layout the published delta-log fact is partitioned by."""
    d = _fixture_dir(sf_dir)
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        orders = load_table(spark, sf_dir, "orders")
        fact = orders.select(
            F.col("o_orderkey").alias("txn_id"),
            (
                F.year("o_orderdate") * 100 + F.month("o_orderdate")
            ).cast("int").alias("month"),
            F.col("o_totalprice").cast("decimal(18,4)").alias("amount"),
        )
        (
            fact.repartition("month")
            .write.mode("overwrite")
            .partitionBy("month")
            .parquet(d)
        )
    return d


def quarter_rollup_via_dpp(spark: SparkSession, sf_dir: str, quarter: int = 2) -> DataFrame:
    """One quarter's per-month rollup where the quarter is expressed on
    a CALENDAR DIM, not the fact: fact ⋈ (months WHERE quarter = q).
    Catalyst plants ``dynamicpruningexpression(month IN ...)`` on the
    fact scan — 3 of ~80 month directories are listed, decided at
    runtime by the broadcast dim."""
    d = plant_partitioned_fact(spark, sf_dir)
    fact = spark.read.parquet(d)
    orders = load_table(spark, sf_dir, "orders")
    # independent calendar dim (not derived from the fact read): every
    # month of the order-date domain with its quarter
    cal = (
        orders.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("int")
            .alias("month")
        )
        .distinct()
        .withColumn("quarter", (((F.col("month") % 100) - 1) / 3 + 1).cast("int"))
    )
    dim = cal.filter(F.col("quarter") == quarter).select("month")
    return (
        fact.join(F.broadcast(dim), "month")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_txns"),
            F.sum("amount").cast("double").alias("revenue"),
        )
    )


@register(
    "dpp_quarter_rollup",
    oracle="""
    SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_txns,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders
    WHERE month(o_orderdate) BETWEEN 4 AND 6
    GROUP BY 1
    """,
    doc="DYNAMIC partition pruning: a quarter's rollup where the "
    "quarter lives on a filtered calendar dim, not the fact — Spark "
    "plants dynamicpruningexpression(month IN <broadcast subquery>) on "
    "the month-partitioned fact scan, opening Q2's month directories "
    "only, decided at runtime (plan-asserted in tests/test_plans.py; "
    "the static-pruning twin is measured in tools/bench_pruning.py). "
    "The oracle computes the same rollup straight from orders.",
)
def dpp_quarter_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: at ~80 months, Q2 reads 3/80ths of the fact's FILES — the
    dominant cost at 100 TB is the scan, and DPP converts a dim-side
    business filter into fact-side partition elimination with no query
    rewrite. The dim broadcast is months-grain (bounded)."""
    return quarter_rollup_via_dpp(spark, sf_dir, quarter=2)
