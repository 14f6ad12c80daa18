"""Registry queries for the month-grain copy-on-write mutations.

Each query plants a month-partitioned order fact as a Delta table under
``/tmp`` (reset per call, so repeated runs never grow a log), applies a
file-level-rewrite mutation committed through the delta log
(``operators/deltalog.py``), and returns the full table's per-month end
state, which the DuckDB oracle derives independently from the ``orders``
view. The byte-level "untouched partitions kept their files" half of the
contract is asserted in ``tests/test_cow.py`` (hash oracles can't see
file layout).

Reference shapes: MERGE ``P-SF:95-202`` (matched update / unmatched
insert / month-scoped NOT-MATCHED-BY-SOURCE delete), monthly ``DateKey
BETWEEN`` incremental window ``S4:91-107``, DELETE…WHERE ``P-RES:65-66``.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_loading_scripts_spark.catalog import load_table
from etl_loading_scripts_spark.operators.deltalog import (
    _fixture_dir,
    delete_delta,
    merge_cow_deltalog,
    optimize_delta,
    publish_set_deltalog,
    read_delta_table,
    read_published_set_deltalog,
    write_delta_table,
)
from etl_loading_scripts_spark.registry import register
from etl_loading_scripts_spark.sources.io import MONTH_COL, with_month

#: Inserted keys are offset far past any real TPC-H orderkey (sf1 tops out
#: around 6M; even sf100 stays under 1e9), so synthetic rows can't collide.
_INSERT_OFFSET = 1_000_000_000


def _order_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, datekey, price DECIMAL(18,4)) — the COW demos' fact shape.
    Decimal money keeps every aggregate bit-identical across engines."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("k"),
        (
            F.year("o_orderdate") * 10000
            + F.month("o_orderdate") * 100
            + F.dayofmonth("o_orderdate")
        ).cast("int").alias("datekey"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
    )


def _fresh_fact(tag: str, sf_dir: str, fact: DataFrame) -> str:
    """Plant ``fact`` as a month-partitioned Delta table at a fixed
    per-tag path, wiping whatever an earlier run left there."""
    path = _fixture_dir(sf_dir, tag=tag)
    shutil.rmtree(path, ignore_errors=True)
    write_delta_table(with_month(fact), path, partition_by=[MONTH_COL])
    return path


def _month_rollup(spark: SparkSession, path: str) -> DataFrame:
    df = read_delta_table(spark, path)
    return df.groupBy(F.col(MONTH_COL).cast("int").alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast("double").alias("total_price"),
    )


@register(
    "merge_cow_month",
    oracle=f"""
    WITH mm AS (
        SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS m
        FROM orders GROUP BY 1 ORDER BY COUNT(*) DESC, m DESC LIMIT 1
    ),
    base AS (
        SELECT o_orderkey AS k,
               CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month,
               CAST(o_totalprice AS DECIMAL(18,4)) AS price
        FROM orders
    ),
    final AS (
        SELECT k, month, price FROM base, mm WHERE month <> mm.m
        UNION ALL
        SELECT k, month, CAST(price * 2 AS DECIMAL(18,4))
        FROM base, mm WHERE month = mm.m AND k % 2 = 0
        UNION ALL
        SELECT k + {_INSERT_OFFSET}, month, price
        FROM base, mm WHERE month = mm.m AND k % 97 = 0
    )
    SELECT month, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(price) AS DOUBLE) AS total_price
    FROM final GROUP BY 1
    """,
    doc="File-level-rewrite MERGE through the delta log: "
    "restate the busiest month of a month-partitioned order fact — even keys "
    "repriced ×2 (update), every 97th key re-inserted under a new key "
    "(insert), odd keys dropped (month-scoped NOT-MATCHED-BY-SOURCE "
    "delete) — committed as one Delta version, then roll up the whole "
    "table per month. Months outside the window keep their files "
    "byte-identical (tests/test_cow.py).",
)
def merge_cow_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the merge reads and replaces ONLY the restated month's
    files — at 100 TB a monthly restatement is a ~1/100th rewrite with
    an O(affected files) log commit, while the join inside the window
    is an ordinary key shuffle (AQE broadcasts dimension-sized
    increments). This is `merge_upsert`'s semantics contract executed
    with Delta's physical behavior (`merge_cow_deltalog`).

    The restated window is the BUSIEST month (tie-break: latest) — the
    calendar-tail month can be a 2-row stub whose keys are all odd,
    which would make the merge source empty and the demo vacuous."""
    base = _order_fact(spark, sf_dir)
    path = _fresh_fact("cow_merge", sf_dir, base)

    busiest = (
        base.groupBy((F.col("datekey") / 100).cast("int").alias("m"))
        .count()
        .orderBy(F.desc("count"), F.desc("m"))
        .first()["m"]
    )
    window = base.filter((F.col("datekey") / 100).cast("int") == busiest)
    updates = window.filter(F.col("k") % 2 == 0).withColumn(
        "price", (F.col("price") * 2).cast("decimal(18,4)")
    )
    inserts = window.filter(F.col("k") % 97 == 0).withColumn(
        "k", F.col("k") + F.lit(_INSERT_OFFSET)
    )
    merge_cow_deltalog(
        spark,
        path,
        updates.unionByName(inserts),
        on=["k"],
        delete_unmatched_source=True,
    )
    return _month_rollup(spark, path)


@register(
    "merge_cow_quarter",
    oracle=f"""
    WITH qq AS (
        SELECT CAST(strftime(o_orderdate, '%Y') AS INT) * 10
               + (CAST(strftime(o_orderdate, '%m') AS INT) + 2) // 3 AS yq
        FROM orders GROUP BY 1 ORDER BY COUNT(*) DESC, yq DESC LIMIT 1
    ),
    base AS (
        SELECT o_orderkey AS k,
               CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month,
               CAST(strftime(o_orderdate, '%Y') AS INT) * 10
               + (CAST(strftime(o_orderdate, '%m') AS INT) + 2) // 3 AS yq,
               CAST(o_totalprice AS DECIMAL(18,4)) AS price
        FROM orders
    ),
    final AS (
        SELECT k, month,
               CASE WHEN base.yq = qq.yq AND k % 3 = 0
                    THEN CAST(price * 3 AS DECIMAL(18,4)) ELSE price END AS price
        FROM base, qq
        UNION ALL
        SELECT k + {_INSERT_OFFSET}, month, price
        FROM base, qq WHERE base.yq = qq.yq AND k % 101 = 0
    )
    SELECT month, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(price) AS DOUBLE) AS total_price
    FROM final GROUP BY 1
    """,
    doc="MULTI-MONTH file-level-rewrite MERGE: restate the busiest "
    "calendar QUARTER of the month-partitioned order fact in ONE merge "
    "— every 3rd key repriced ×3 (update), every 101st key re-inserted "
    "under a new key — then roll up the whole table per month. The one "
    "source spans three month partitions; each merges independently in "
    "the same (month, key) shuffle, and every month outside the quarter "
    "keeps its files byte-identical "
    "(tests/test_cow.py::test_merge_cow_quarter_rewrites_only_three_months).",
)
def merge_cow_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the quarterly restatement is the multi-month case the
    month-scoped merge was designed for — the effective key is
    (month, k), so a natural key recurring across the three affected
    months merges each month independently in one shuffle, one staged
    write, one Delta commit. At 100 TB a quarter is ~3/100ths of the
    fact rewritten; the other ~97 partitions' files are never read or
    replaced (byte-audited at test scale)."""
    base = _order_fact(spark, sf_dir)
    path = _fresh_fact("cow_quarter", sf_dir, base)

    yq = (
        (F.col("datekey") / 10000).cast("int") * 10
        + ((F.col("datekey") / 100).cast("int") % 100 + 2) / F.lit(3)
    ).cast("int")
    busiest_q = (
        base.groupBy(yq.alias("yq"))
        .count()
        .orderBy(F.desc("count"), F.desc("yq"))
        .first()["yq"]
    )
    window = base.filter(yq == busiest_q)
    updates = window.filter(F.col("k") % 3 == 0).withColumn(
        "price", (F.col("price") * 3).cast("decimal(18,4)")
    )
    inserts = window.filter(F.col("k") % 101 == 0).withColumn(
        "k", F.col("k") + F.lit(_INSERT_OFFSET)
    )
    stats = merge_cow_deltalog(
        spark, path, updates.unionByName(inserts), on=["k"]
    )
    assert len(stats["months_rewritten"]) == 3, stats
    return _month_rollup(spark, path)


@register(
    "delete_cow_purge",
    oracle="""
    SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey % 500 <> 7
    GROUP BY 1
    """,
    doc="GDPR-style purge with file-level rewrite: DELETE every order "
    "whose key falls in the forget set (k % 500 = 7) across ALL months "
    "of the partitioned Delta fact in one version; a month the purge "
    "empties keeps no active file; remaining table rolled up per month.",
)
def delete_cow_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: a right-to-be-forgotten sweep must probe every partition,
    but only files holding a matching row are rewritten (a
    predicate-pushed probe scan finds them) and the whole purge commits
    as one `delete_delta` version. Contrast `gdpr_forget_cascade` (the
    audit of WHAT to forget) — this is the physical erasure."""
    path = _fresh_fact("cow_purge", sf_dir, _order_fact(spark, sf_dir))
    delete_delta(spark, path, F.col("k") % 500 == 7)
    return _month_rollup(spark, path)


@register(
    "compact_small_files",
    oracle="""
    SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1
    """,
    doc="Small-file compaction (lakehouse OPTIMIZE on the delta log): a "
    "deliberately fragmented month-partitioned Delta fact (8 writer tasks "
    "per month — the classic partitioned-write mistake) is bin-packed to "
    "~one file per month and committed as one dataChange=false version; "
    "the rollup proves compaction changed ZERO rows. File-count/byte "
    "assertions live in tests/test_compaction.py (a hash oracle can't "
    "see file layout).",
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: OPTIMIZE's selection pass is log metadata only (file sizes
    in the add actions) and per-partition, so a nightly run reads only
    the small files; the rewrite bills exactly their bytes and commits
    as one atomic version (`optimize_delta`). At 100 TB this is what
    keeps scan-side file-open cost O(data) instead of
    O(writes-ever-made)."""
    base = _order_fact(spark, sf_dir)
    path = _fresh_fact("compact", sf_dir, base.repartition(8, "k"))
    stats = optimize_delta(spark, path)
    assert stats["partitions_touched"], stats
    return _month_rollup(spark, path)


@register(
    "publish_set_atomic",
    oracle="""
    WITH dim AS (
        SELECT c_nationkey AS nation_key, COUNT(*) AS n_cust
        FROM customer GROUP BY 1
    ),
    fact AS (
        SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    dim2 AS (
        SELECT c_nationkey AS nation_key, COUNT(*) AS n_cust
        FROM customer WHERE c_custkey % 2 = 0 GROUP BY 1
    ),
    fact2 AS (
        SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS month,
               COUNT(*) AS n_orders
        FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
    )
    SELECT 'latest' AS snapshot, 'dim_customer_nation' AS tbl,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(nation_key * n_cust) AS BIGINT) AS checksum
    FROM dim2
    UNION ALL
    SELECT 'latest', 'fact_orders_month',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(month * n_orders) AS BIGINT) FROM fact2
    UNION ALL
    SELECT 'pinned_v1', 'dim_customer_nation',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(nation_key * n_cust) AS BIGINT) FROM dim
    UNION ALL
    SELECT 'pinned_v1', 'fact_orders_month',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(month * n_orders) AS BIGINT) FROM fact
    """,
    doc="Multi-table ATOMIC publish (the reference's P-SF transaction "
    "semantics, O10 closed): a dim + fact pair commits twice as "
    "delta-log sets, each through one coordinator commit, a third "
    "publish is crash-injected mid-set (one table committed, no "
    "coordinator commit), and the readback proves (a) the latest set "
    "serves the COMPLETE second set untorn by the orphan version, (b) "
    "the first set stays pinned-readable for reproducible audits. Row "
    "counts and integer checksums of both snapshots against the DuckDB "
    "oracle.",
)
def publish_set_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the set publish costs one Delta write per table (no extra
    shuffle — the set commit is one coordinator log entry, O(1) driver
    metadata regardless of table size), so the transaction discipline
    is free at 100 TB. Readers pay one coordinator read that pins every
    table to the same version.
    """
    from pyspark.sql import Row

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    def tables(dim_src: DataFrame, fact_src: DataFrame) -> list:
        dim = dim_src.groupBy(
            F.col("c_nationkey").alias("nation_key")
        ).agg(F.count(F.lit(1)).alias("n_cust"))
        fact = fact_src.groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("int")
            .alias("month")
        ).agg(F.count(F.lit(1)).alias("n_orders"))
        return [("dim_customer_nation", dim), ("fact_orders_month", fact)]

    base = _fixture_dir(sf_dir, tag="pubset")
    shutil.rmtree(base, ignore_errors=True)
    v1 = publish_set_deltalog(tables(customer, orders), base)
    v2 = publish_set_deltalog(
        tables(
            customer.filter(F.col("c_custkey") % 2 == 0),
            orders.filter(F.col("o_orderkey") % 2 == 0),
        ),
        base,
    )
    assert v2 == v1 + 1
    # crash injection: a third publish dies after committing its first
    # table, before the coordinator commit — readers must never see it
    name, dim = tables(customer, orders)[0]
    write_delta_table(dim, f"{base}/{name}", mode="overwrite")

    out = []
    for snapshot, version in (("latest", None), ("pinned_v1", v1)):
        for tbl, df in read_published_set_deltalog(spark, base, version).items():
            row = df.agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(
                    F.col(df.columns[0]).cast("long") * F.col(df.columns[1])
                ).cast("long").alias("cks"),
            ).collect()[0]
            out.append(Row(snapshot=snapshot, tbl=tbl, n_rows=row["n"], checksum=row["cks"]))
    return spark.createDataFrame(
        out, "snapshot string, tbl string, n_rows long, checksum long"
    )
