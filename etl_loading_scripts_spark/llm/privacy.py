"""Privacy / anonymization operators for training-data release.

The standard pre-release transform chain: deterministic pseudonymization
(salted-hash key replacement), direct-identifier masking, quasi-identifier
generalization, and k-anonymity small-group suppression. All pure built-in
expressions — codegen'd, shuffle-free except the one window count.

Demonstrated on ``customer`` (the synthetic schema's only person-shaped
table). Reference has no privacy stage; this is part of the LLM-pipeline
extension surface (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_loading_scripts_spark.catalog import load_table
from etl_loading_scripts_spark.registry import register

#: Salt for deterministic pseudonymization. In production this is a managed
#: secret rotated per release; a literal keeps the operator oracle-checkable.
PSEUDO_SALT = "release-2026-08"

#: k-anonymity threshold: quasi-identifier groups smaller than K get their
#: most specific attribute suppressed.
K_ANON = 3

#: Account-balance generalization width (quasi-identifier coarsening).
BAL_BUCKET = 1000


@register(
    "pii_anonymize_customers",
    oracle=f"""
    WITH g AS (
        SELECT md5('{PSEUDO_SALT}|' || CAST(c_custkey AS VARCHAR)) AS pseudo_id,
               'Customer#*******' || right(c_name, 2) AS masked_name,
               CAST(c_nationkey AS BIGINT) AS nationkey,
               CAST(floor(c_acctbal / {BAL_BUCKET}) AS BIGINT) * {BAL_BUCKET}
                   AS bal_bucket,
               c_mktsegment
        FROM customer
    ),
    sized AS (
        SELECT *, COUNT(*) OVER (
                   PARTITION BY nationkey, bal_bucket, c_mktsegment
               ) AS group_n
        FROM g
    )
    SELECT pseudo_id, masked_name, nationkey, bal_bucket,
           CASE WHEN group_n >= {K_ANON} THEN c_mktsegment
                ELSE '*' END AS mktsegment,
           CAST(group_n AS BIGINT) AS group_n
    FROM sized
    """,
    doc="PII anonymization: salted-md5 pseudonym keys, masked names (last-2 "
    "visible), balance generalized to 1000-buckets, and k-anonymity "
    f"suppression (k={K_ANON}) of the market segment in small "
    "(nation, bucket, segment) groups.",
)
def pii_anonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the transform itself is a map-only projection; the k-anonymity
    count is ONE window partitioned by the quasi-identifier tuple — a
    single hash shuffle, no global sort (count needs no ORDER BY, so Spark
    plans an unordered window — whole partition = frame). Equivalent
    groupBy+broadcast-join works when group cardinality is tiny; the window
    form avoids a second scan."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.select(
        F.md5(
            F.concat(F.lit(f"{PSEUDO_SALT}|"), F.col("c_custkey").cast("string"))
        ).alias("pseudo_id"),
        F.concat(F.lit("Customer#*******"), F.expr("right(c_name, 2)")).alias(
            "masked_name"
        ),
        F.col("c_nationkey").cast("long").alias("nationkey"),
        (F.floor(F.col("c_acctbal") / BAL_BUCKET).cast("long") * BAL_BUCKET).alias(
            "bal_bucket"
        ),
        "c_mktsegment",
    )
    w = Window.partitionBy("nationkey", "bal_bucket", "c_mktsegment")
    sized = g.withColumn("group_n", F.count(F.lit(1)).over(w))
    return sized.select(
        "pseudo_id",
        "masked_name",
        "nationkey",
        "bal_bucket",
        F.when(F.col("group_n") >= K_ANON, F.col("c_mktsegment"))
        .otherwise(F.lit("*"))
        .alias("mktsegment"),
        F.col("group_n").cast("long").alias("group_n"),
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten cascade
# ---------------------------------------------------------------------------

#: Deterministic stand-in for the deletion-request table: every customer
#: key ≡ 0 (mod 37) has filed a forget request.
FORGET_MOD = 37


@register(
    "gdpr_forget_cascade",
    oracle=f"""
    WITH forget AS (
        SELECT c_custkey AS k FROM customer WHERE c_custkey % {FORGET_MOD} = 0
    ),
    gone_orders AS (
        SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM forget)
    ),
    audit(table_name, n_before, n_deleted) AS (
        SELECT 'customer', (SELECT COUNT(*) FROM customer),
               (SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT k FROM forget))
        UNION ALL
        SELECT 'orders', (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(*) FROM gone_orders)
        UNION ALL
        SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM gone_orders))
        UNION ALL
        SELECT 'events', (SELECT COUNT(*) FROM events),
               (SELECT COUNT(*) FROM events WHERE user_id IN (SELECT k FROM forget))
    )
    SELECT table_name,
           CAST(n_before AS BIGINT) AS n_before,
           CAST(n_deleted AS BIGINT) AS n_deleted,
           CAST(n_before - n_deleted AS BIGINT) AS n_after
    FROM audit
    """,
    doc="Right-to-be-forgotten cascade audit: deletion requests (custkey "
    f"≡ 0 mod {FORGET_MOD}) propagate customer → orders → lineitem (via "
    "orderkeys) and directly to events; emits the per-table "
    "(before, deleted, after) compliance record the DPO signs off on.",
)
def gdpr_forget_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The referential cascade no lakehouse gives you for free: lineitem
    carries no customer key, so its deletions derive from the DELETED
    ORDER KEYS — a two-hop dependency that must be computed in
    topological order. Each table's deletion set is a semi-join against
    the (small) request set or the derived orderkey set; counts are
    map-side-combinable aggregates, so the audit costs one pass per
    table and shuffles only key columns. The same semi-joins negated
    (left_anti) ARE the delete — `operators.deltalog.delete_delta`
    applies them atomically, one version per table; this query is the audit face
    of that pipeline."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    forget = cust.filter(F.col("c_custkey") % FORGET_MOD == 0).select(
        F.col("c_custkey").alias("k")
    )
    gone_orders = orders.join(
        F.broadcast(forget), orders["o_custkey"] == forget["k"], "left_semi"
    ).select("o_orderkey")

    def audit(df: DataFrame, name: str, deleted: DataFrame) -> DataFrame:
        n_b = df.agg(F.count(F.lit(1)).alias("n_before"))
        n_d = deleted.agg(F.count(F.lit(1)).alias("n_deleted"))
        return n_b.crossJoin(n_d).select(
            F.lit(name).alias("table_name"),
            "n_before",
            "n_deleted",
            (F.col("n_before") - F.col("n_deleted")).alias("n_after"),
        )

    parts = [
        audit(cust, "customer", cust.join(
            F.broadcast(forget), cust["c_custkey"] == forget["k"], "left_semi")),
        audit(orders, "orders", gone_orders),
        audit(li, "lineitem", li.join(
            gone_orders.withColumnRenamed("o_orderkey", "l_orderkey"),
            "l_orderkey", "left_semi")),
        audit(ev, "events", ev.join(
            F.broadcast(forget), ev["user_id"] == forget["k"], "left_semi")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH cls AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / {BAL_BUCKET}) AS INT) AS bal_bucket,
               CAST(COUNT(*) AS BIGINT) AS cls_size
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT cls_size AS class_size,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(cls_size) AS BIGINT) AS n_individuals,
           cls_size < {K_ANON} AS at_risk
    FROM cls GROUP BY 1
    """,
    doc=f"k-anonymity risk audit of the release quasi-identifiers "
    f"(nation, market segment, {BAL_BUCKET}-wide balance bucket): the "
    "equivalence-class size histogram with per-size individual counts and "
    f"an at-risk flag for classes below k={K_ANON} — the measurement that "
    "justifies (or indicts) the generalization choices "
    "pii_anonymize_customers applies.",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit is two hash aggregates (QI-class count, then size
    histogram) — no window, no join, linear in the table and perfectly
    partitionable, so it runs on the full 100 TB release candidate as
    cheaply as any rollup. The dataset's k is the smallest class_size
    with at_risk rows; re-running after coarsening a QI shows the
    histogram mass shifting right — the audit/transform iteration loop
    of a real release process."""
    cust = load_table(spark, sf_dir, "customer")
    cls = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / BAL_BUCKET).cast("int").alias("bal_bucket"),
    ).agg(F.count(F.lit(1)).alias("cls_size"))
    return cls.groupBy(F.col("cls_size").alias("class_size")).agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("cls_size").alias("n_individuals"),
        (F.col("class_size") < K_ANON).alias("at_risk"),
    )


@register(
    "pii_pattern_scan",
    oracle=r"""
    WITH seeded AS (
        SELECT doc_id, source,
               text
               || CASE WHEN doc_id % 4 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@ex' || CAST(doc_id % 3 AS VARCHAR) || '.com'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' tel +1-555-'
                            || substr('000' || CAST(doc_id % 10000 AS VARCHAR), -4)
                       ELSE '' END AS scan_text
        FROM documents
    ),
    hits AS (
        SELECT doc_id, source,
               CAST(len(regexp_extract_all(scan_text,
                    '[a-z0-9.]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(scan_text,
                    '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones
        FROM seeded
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_with_pii,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones
    FROM hits GROUP BY 1
    """,
    doc="PII pattern scan: deterministic email/phone strings are planted "
    "into a subset of documents, then detected by regex over the text — "
    "per-source document and hit counts, the DETECTION stage that feeds "
    "pii_anonymize_customers' masking and gdpr_forget_cascade's erasure. "
    "Planting inside the query keeps the expected hits oracle-derivable "
    "(the synthetic corpus contains no organic PII to find).",
)
def pii_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: pure map-side regexp_extract_all over the scan text — the
    same fused-into-the-scan shape as the quality gate; counts are
    exact integers. Pattern note: the regexes use only classes and
    quantifiers with identical semantics in Java regex (Spark) and RE2
    (DuckDB) — lookarounds and backreferences would not port."""
    docs = load_table(spark, sf_dir, "documents")
    email_part = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@ex"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".com"),
        ),
    ).otherwise("")
    phone_part = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit(" tel +1-555-"),
            F.substring(
                F.concat(F.lit("000"), (F.col("doc_id") % 10000).cast("string")),
                -4,
                4,
            ),
        ),
    ).otherwise("")
    seeded = docs.select(
        "doc_id",
        "source",
        F.concat(F.col("text"), email_part, phone_part).alias("scan_text"),
    )
    hits = seeded.select(
        "source",
        F.size(
            F.expr(r"regexp_extract_all(scan_text, '[a-z0-9.]+@[a-z0-9]+\\.[a-z]+', 0)")
        ).cast("bigint").alias("n_emails"),
        F.size(
            F.expr(r"regexp_extract_all(scan_text, '\\+1-555-[0-9]{4}', 0)")
        ).cast("bigint").alias("n_phones"),
    )
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(((F.col("n_emails") + F.col("n_phones")) > 0).cast("int"))
        .cast("bigint")
        .alias("n_docs_with_pii"),
        F.sum("n_emails").cast("bigint").alias("n_emails"),
        F.sum("n_phones").cast("bigint").alias("n_phones"),
    )
