"""Declarative data-quality checks (the dbt-test / Deequ surface).

A check is (name, violations-DataFrame builder); ``run_checks`` evaluates
every check and returns the long-form report ``(check, n_violations)``.
Each violation count is an aggregate of a keyed join or a filtered scan —
nothing here materializes violating rows unless a check is drilled into
individually, so the report costs one pass per check at any scale (and
Catalyst shares scan subtrees where checks hit the same table).

:func:`referential_integrity_check` is the publish-time FK assert
(reference O11); the checks below extend it into a standing report.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_loading_scripts_spark.catalog import load_table
from etl_loading_scripts_spark.registry import register

Check = tuple[str, Callable[[], DataFrame]]


def unique_check(df: DataFrame, cols: list[str]) -> DataFrame:
    """Violations = rows beyond the first per key (0 ⇔ key is unique)."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select((F.col("n") - 1).alias("extra"))
    )


def fk_check(child: DataFrame, child_key: str, parent: DataFrame, parent_key: str) -> DataFrame:
    """Violations = child rows whose key has no parent (left anti join)."""
    return child.select(F.col(child_key).alias("k")).join(
        parent.select(F.col(parent_key).alias("k")).distinct(), "k", "left_anti"
    )


def referential_integrity_check(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> int:
    """Post-write FK assertion replacing the reference's constraint toggles
    (O11; ``P-SF:25-29``, ``P-RES:440``): count of dangling non-null fact
    keys. Run after publish; a non-zero result fails the pipeline run."""
    return fk_check(
        fact.filter(F.col(fact_key).isNotNull()), fact_key, dim, dim_key
    ).count()


def run_checks(spark: SparkSession, checks: list[Check]) -> DataFrame:
    """Evaluate checks into the (check, n_violations) report.

    Counts are summed engine-side per check and unioned — the report is
    |checks| rows no matter the data size."""
    reports = []
    for name, builder in checks:
        df = builder()
        # unique_check emits weighted rows; everything else counts rows
        agg = (
            df.agg(F.coalesce(F.sum("extra"), F.lit(0)).cast("long").alias("n_violations"))
            if "extra" in df.columns
            else df.agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        )
        reports.append(agg.select(F.lit(name).alias("check"), "n_violations"))
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


@register(
    "data_quality_report",
    oracle="""
    SELECT 'orders_pk_unique' AS check,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_fk_customer',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'orders_totalprice_positive',
           CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST(COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events_ts_not_null',
           CAST(COUNT(*) FILTER (WHERE ts IS NULL) AS BIGINT)
    FROM events
    """,
    doc="Declarative data-quality report: PK uniqueness, two FK checks "
    "(left anti), a positivity rule, a range rule, and a not-null rule, "
    "as one (check, n_violations) table.",
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    checks: list[Check] = [
        ("orders_pk_unique", lambda: unique_check(orders, ["o_orderkey"])),
        ("orders_fk_customer", lambda: fk_check(orders, "o_custkey", customer, "c_custkey")),
        ("lineitem_fk_orders", lambda: fk_check(lineitem, "l_orderkey", orders, "o_orderkey")),
        (
            "orders_totalprice_positive",
            lambda: orders.filter(F.col("o_totalprice") <= 0),
        ),
        (
            "lineitem_qty_range",
            lambda: lineitem.filter(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
            ),
        ),
        ("events_ts_not_null", lambda: events.filter(F.col("ts").isNull())),
    ]
    return run_checks(spark, checks)


# ---------------------------------------------------------------------------
# Anti-entropy table comparison (replica checksum diff)
# ---------------------------------------------------------------------------

#: Comparison granularity: differing buckets are re-synced / drilled into,
#: so bucket count trades re-sync unit size against report size.
CHECKSUM_BUCKETS = 64

_HEXVAL = (
    "CASE {c} "
    + " ".join(f"WHEN '{x:x}' THEN {x}" for x in range(16))
    + " END"
)


def _hex32_sum_sql(hcol: str) -> str:
    """SQL (valid in BOTH Spark SQL and DuckDB) turning the first 8 hex
    chars of ``hcol`` into a 32-bit integer: Σ nibble_i · 16^(7-i).
    Avoids every engine-specific hex→int builtin."""
    terms = [
        "CAST("
        + _HEXVAL.format(c=f"substr({hcol}, {i + 1}, 1)")
        + f" AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


_ROW_FP = (
    "md5(concat(CAST(o_orderkey AS VARCHAR), ':', "
    "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), ':', "
    "o_orderstatus))"
)

#: Deterministic replica drift injected for the demonstration: price bumped
#: on keys ≡ 0 (mod 997), rows lost on keys ≡ 0 (mod 1499).
_REPLICA_SQL = """
    SELECT o_orderkey,
           o_totalprice + CASE WHEN o_orderkey % 997 = 0 THEN 1.0 ELSE 0.0 END
               AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey % 1499 <> 0
"""


def _bucket_checksums_sql(src: str) -> str:
    return f"""
        SELECT o_orderkey % {CHECKSUM_BUCKETS} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM({_hex32_sum_sql(_ROW_FP)}) AS BIGINT) AS checksum
        FROM ({src}) GROUP BY 1
    """


@register(
    "table_checksum_diff",
    oracle=f"""
    WITH src AS ({_bucket_checksums_sql("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders")}),
    rep AS ({_bucket_checksums_sql(_REPLICA_SQL)})
    SELECT COALESCE(src.bucket, rep.bucket) AS bucket,
           COALESCE(src.n_rows, 0) AS n_src, COALESCE(rep.n_rows, 0) AS n_rep,
           COALESCE(src.checksum, 0) AS sum_src, COALESCE(rep.checksum, 0) AS sum_rep
    FROM src FULL OUTER JOIN rep ON src.bucket = rep.bucket
    WHERE COALESCE(src.n_rows, 0) <> COALESCE(rep.n_rows, 0)
       OR COALESCE(src.checksum, 0) <> COALESCE(rep.checksum, 0)
    """,
    doc="Anti-entropy replica comparison: both tables reduce to "
    f"{CHECKSUM_BUCKETS} (bucket, row-count, order-insensitive md5-sum) "
    "checksums; only buckets whose checksums disagree are reported — "
    "drift detection between two copies WITHOUT a row-level join. The "
    "'replica' is the source with deterministic injected drift (price "
    "bump on keys ≡0 mod 997, row loss on keys ≡0 mod 1499).",
)
def table_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparing two 100 TB replicas row-by-row is a full-table shuffle
    join; the checksum reduction is one map-side-combinable aggregate
    per side (SUM of per-row 32-bit fingerprints is order- and
    partition-insensitive), a {CHECKSUM_BUCKETS}-row join, and a filter.
    Buckets that differ localize the re-sync to 1/{CHECKSUM_BUCKETS} of
    the keyspace — recurse with a finer modulus inside a dirty bucket to
    narrow further (Merkle-style) before ever touching rows.

    The per-row fingerprint hashes exact integers (cents) and strings —
    never raw doubles — so both engines checksum identical bytes."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    replica = (
        orders.filter(F.col("o_orderkey") % 1499 != 0)
        .withColumn(
            "o_totalprice",
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 997 == 0, 1.0).otherwise(0.0),
        )
    )
    fp = F.expr(_hex32_sum_sql(_ROW_FP.replace("AS VARCHAR", "AS STRING")))

    def summarize(df: DataFrame, n_alias: str, s_alias: str) -> DataFrame:
        return (
            df.withColumn("__fp__", fp)
            .groupBy((F.col("o_orderkey") % CHECKSUM_BUCKETS).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias(n_alias),
                F.sum("__fp__").alias(s_alias),
            )
        )

    src = summarize(orders, "n_src", "sum_src")
    rep = summarize(replica, "n_rep", "sum_rep")
    return (
        src.join(rep, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_src", F.lit(0)).alias("n_src"),
            F.coalesce("n_rep", F.lit(0)).alias("n_rep"),
            F.coalesce("sum_src", F.lit(0)).alias("sum_src"),
            F.coalesce("sum_rep", F.lit(0)).alias("sum_rep"),
        )
        .filter(
            (F.col("n_src") != F.col("n_rep")) | (F.col("sum_src") != F.col("sum_rep"))
        )
    )


def schema_contract_violations(df: DataFrame, expected_ddl: str) -> list[dict]:
    """Data-contract check for a load input: compare ``df``'s schema to
    the declared contract DDL and return violations as dicts —
    ``{"column", "kind", "expected", "actual"}`` with kind ∈ {missing,
    extra, type_changed, nullability_tightened}.

    The loading-scripts failure mode this guards: a vendor extract
    silently adds/retypes a column and the load either drops data or
    poisons downstream types. Checked BEFORE any transform runs, driver-
    side only (schema metadata, no data scan). A nullable→non-null
    change is NOT flagged (stricter data satisfies the contract);
    non-null→nullable is (the contract promised values).
    """
    from pyspark.sql.types import _parse_datatype_string

    expected = _parse_datatype_string(expected_ddl)
    exp = {f.name: f for f in expected.fields}
    act = {f.name: f for f in df.schema.fields}
    out: list[dict] = []
    for name, ef in exp.items():
        if name not in act:
            out.append(
                {"column": name, "kind": "missing",
                 "expected": ef.dataType.simpleString(), "actual": None}
            )
            continue
        af = act[name]
        if af.dataType != ef.dataType:
            out.append(
                {"column": name, "kind": "type_changed",
                 "expected": ef.dataType.simpleString(),
                 "actual": af.dataType.simpleString()}
            )
        if af.nullable and not ef.nullable:
            out.append(
                {"column": name, "kind": "nullability_tightened",
                 "expected": "NOT NULL", "actual": "NULLABLE"}
            )
    for name, af in act.items():
        if name not in exp:
            out.append(
                {"column": name, "kind": "extra",
                 "expected": None, "actual": af.dataType.simpleString()}
            )
    return out


@register(
    "format_conformance_profile",
    oracle=r"""
    SELECT 'customer.c_name' AS column_name,
           'Customer#\d{9}' AS pattern,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN regexp_full_match(c_name, 'Customer#\d{9}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_conforming
    FROM customer
    UNION ALL
    SELECT 'supplier.s_name', 'Supplier#\d{9}',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN regexp_full_match(s_name, 'Supplier#\d{9}')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM supplier
    UNION ALL
    SELECT 'part.p_name', '[a-z]+( [a-z]+)*',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN regexp_full_match(p_name, '[a-z]+( [a-z]+)*')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM part
    """,
    doc="Format-conformance profile: key text columns checked against "
    "their expected full-string patterns (entity#9-digits for the "
    "name-keyed dimensions, lowercase word sequences for part names) — "
    "the profiling report that catches a vendor feed silently changing "
    "its identifier format BEFORE a downstream equi-join on a parsed "
    "fragment starts dropping rows. Full-match anchoring on both "
    "engines (rlike would accept partial matches).",
)
def format_conformance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One conditional aggregate per column, unioned — each check fuses
    into its table scan; patterns restricted to the Java-regex/RE2
    common subset (classes, quantifiers, groups; no lookaround)."""
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")

    def leg(df, col, colname, pattern):
        return df.agg(
            F.lit(colname).alias("column_name"),
            F.lit(pattern).alias("pattern"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.col(col).rlike(f"^(?:{pattern})$").cast("int")
            )
            .cast("bigint")
            .alias("n_conforming"),
        )

    out = leg(cust, "c_name", "customer.c_name", r"Customer#\d{9}")
    out = out.unionByName(
        leg(sup, "s_name", "supplier.s_name", r"Supplier#\d{9}")
    )
    return out.unionByName(
        leg(part, "p_name", "part.p_name", r"[a-z]+( [a-z]+)*")
    )


@register(
    "key_space_density_audit",
    oracle="""
    SELECT 'customer' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
           (MAX(c_custkey) - MIN(c_custkey) + 1 = COUNT(*)
            AND COUNT(DISTINCT c_custkey) = COUNT(*)) AS is_dense
    FROM customer
    UNION ALL
    SELECT 'supplier', CAST(COUNT(*) AS BIGINT),
           CAST(MIN(s_suppkey) AS BIGINT), CAST(MAX(s_suppkey) AS BIGINT),
           CAST(COUNT(DISTINCT s_suppkey) AS BIGINT),
           (MAX(s_suppkey) - MIN(s_suppkey) + 1 = COUNT(*)
            AND COUNT(DISTINCT s_suppkey) = COUNT(*))
    FROM supplier
    UNION ALL
    SELECT 'part', CAST(COUNT(*) AS BIGINT),
           CAST(MIN(p_partkey) AS BIGINT), CAST(MAX(p_partkey) AS BIGINT),
           CAST(COUNT(DISTINCT p_partkey) AS BIGINT),
           (MAX(p_partkey) - MIN(p_partkey) + 1 = COUNT(*)
            AND COUNT(DISTINCT p_partkey) = COUNT(*))
    FROM part
    """,
    doc="Surrogate key-space density audit: per dimension, whether the "
    "key range [min, max] is exactly filled with distinct keys — "
    "range-size = row count AND distinct = row count — detecting both "
    "gaps (deleted/skipped allocations) and duplicates in one pass of "
    "min/max/count aggregates; the invariant the surrogate allocator "
    "(O44) promises and this audit verifies table-wide.",
)
def key_space_density_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def leg(df, key, name):
        k = F.col(key)
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min(k).cast("bigint").alias("min_key"),
            F.max(k).cast("bigint").alias("max_key"),
            F.countDistinct(k).alias("n_distinct"),
            (
                (F.max(k) - F.min(k) + 1 == F.count(F.lit(1)))
                & (F.countDistinct(k) == F.count(F.lit(1)))
            ).alias("is_dense"),
        )

    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    return (
        leg(cust, "c_custkey", "customer")
        .unionByName(leg(sup, "s_suppkey", "supplier"))
        .unionByName(leg(part, "p_partkey", "part"))
    )


@register(
    "column_stats_analyze",
    oracle="""
    WITH src AS (
        SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
               CAST(o_custkey AS BIGINT) AS o_custkey,
               o_orderstatus, o_orderpriority,
               CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS o_datekey
        FROM orders
    ),
    stats AS (
        SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
               COUNT(*) - COUNT(o_orderkey) AS n_null,
               COUNT(DISTINCT o_orderkey) AS ndv,
               CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
               CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
        FROM src
        UNION ALL
        SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
               COUNT(DISTINCT o_custkey),
               CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
        FROM src
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
               COUNT(DISTINCT o_orderstatus),
               MIN(o_orderstatus), MAX(o_orderstatus)
        FROM src
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
               COUNT(DISTINCT o_orderpriority),
               MIN(o_orderpriority), MAX(o_orderpriority)
        FROM src
        UNION ALL
        SELECT 'o_datekey', COUNT(*), COUNT(*) - COUNT(o_datekey),
               COUNT(DISTINCT o_datekey),
               CAST(MIN(o_datekey) AS VARCHAR), CAST(MAX(o_datekey) AS VARCHAR)
        FROM src
    )
    SELECT column_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_null AS BIGINT) AS n_null, CAST(ndv AS BIGINT) AS ndv,
           min_value, max_value
    FROM stats
    """,
    doc="ANALYZE-style column statistics collection: per column, row "
    "count, null count, exact NDV, and min/max (stringified on "
    "format-stable types: integers and strings; the date column enters "
    "as a yyyymmdd int for the same reason) — the statistics a "
    "cost-based optimizer's reorder/broadcast decisions and a data "
    "catalog's profiling page are built from.",
)
def column_stats_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: all five columns' aggregates compute in ONE pass over the
    scan (the unioned legs share the cached src projection and Catalyst
    collapses count/min/max into one partial-agg per leg); exact NDV is
    the one genuinely shuffle-heavy stat — production ANALYZE swaps it
    for HLL (approx_count_distinct, see approx_distinct_clients) above
    dimension scale, trading <2% error for no per-column shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    src = orders.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("o_custkey").cast("bigint").alias("o_custkey"),
        "o_orderstatus",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyyMMdd").cast("bigint").alias("o_datekey"),
    )
    legs = []
    for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_datekey"):
        legs.append(
            src.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias("n_null"),
                F.countDistinct(c).cast("bigint").alias("ndv"),
                F.min(c).cast("string").alias("min_value"),
                F.max(c).cast("string").alias("max_value"),
            ).select(F.lit(c).alias("column_name"), "*")
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out
