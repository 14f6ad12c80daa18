"""Reference-domain tables derived deterministically from the test schema.

Role mapping (FIXTURES.md §B): orders ≙ transactions, customer ≙ patron,
supplier ≙ merchant/restaurant, part ≙ billing-group name source. The
derivations seed exactly the data quirks the reference's statements exist to
handle (citations per SURVEY.md):

- unmapped-FK sentinels on the fact (R3: patron_id=1, restaurant_key=0,
  fingerprint_id=0, billing_group_key=0, unique_patron_id NULL);
- NULL / empty proxy ids → the clientid+last4 synthesis wave (P-PAT:96-115);
- U+FFFD replacement chars in restaurant names (S3:19-23);
- dirty billing-group names: quotes, -TERMED suffixes, doubled spaces
  (S4:19-20);
- ~25% of merchants absent from the fingerprint registry → the new-
  fingerprint insert wave (S1:46-128).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_loading_scripts_spark.catalog import load_table
from etl_loading_scripts_spark.constants import (
    UNMAPPED_BILLING_GROUP_KEY,
    UNMAPPED_FINGERPRINT_ID,
    UNMAPPED_PATRON_ID,
    UNMAPPED_RESTAURANT_KEY,
)
from etl_loading_scripts_spark.functions import tsql


@dataclass
class Domain:
    """The warehouse state the monthly load reads and mutates."""

    raw_transactions: DataFrame  # ≙ TransactionHeader ⋈ DetailVolumeHistory
    fact_transaction: DataFrame  # central fact, FKs seeded unmapped
    dim_patron: DataFrame  # partially populated (half the patrons known)
    dim_restaurant: DataFrame  # 3/4 of merchants known, names carry U+FFFD
    pos_fingerprints: DataFrame  # registry missing the suppkey%4==0 merchants
    dim_billing_group: DataFrame  # half the billing groups known


#: merchant-identity columns fingerprinted by stage 1 — the full 8-field
#: normalized identity of S1:7-14 (number, legal name, REPLACE-cleaned
#: display name, address, city, state/nation, zero-padded postal, country),
#: derived from the supplier stand-in by :func:`merchant_identity`.
MERCHANT_FP_COLS = (
    "merchant_number",
    "merchant_name",
    "merchant_display",
    "merchant_addr",
    "merchant_city",
    "merchant_nation",
    "merchant_postal",
    "merchant_country",
)

REPLACEMENT_CHAR = "�"


def merchant_identity(supplier: DataFrame) -> DataFrame:
    """``site_id`` + the 8 identity fields every fingerprint hashes.

    One definition shared by the raw-transaction feed and the registry so
    both sides of the stage-1 probe hash identical inputs (S1:7-14's
    repeated CONCAT block, defined once instead of pasted twice). The
    display name exercises the REPLACE-clean (the reference strips a
    'REV:' prefix), the postal the RIGHT(CONCAT('0000',…)) zero-pad."""
    return supplier.select(
        F.col("s_suppkey").alias("site_id"),
        F.col("s_suppkey").cast("string").alias("merchant_number"),
        F.trim(F.col("s_name")).alias("merchant_name"),
        F.replace(F.trim(F.col("s_name")), F.lit("Supplier#"), F.lit("")).alias(
            "merchant_display"
        ),
        F.concat_ws(
            " ", (F.col("s_suppkey") % 999).cast("string"), F.lit("DEPOT RD")
        ).alias("merchant_addr"),
        F.concat(F.lit("CITY_"), F.col("s_nationkey").cast("string")).alias(
            "merchant_city"
        ),
        F.col("s_nationkey").cast("string").alias("merchant_nation"),
        tsql.zero_pad_last(F.col("s_suppkey") % 100, n=5).alias("merchant_postal"),
        F.concat(F.lit("C_"), (F.col("s_nationkey") % 5).cast("string")).alias(
            "merchant_country"
        ),
    )


def merchant_simhash():
    return tsql.simhash_fingerprint([F.col(c) for c in MERCHANT_FP_COLS])


def build_domain(spark: SparkSession, sf_dir: str) -> Domain:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")

    n_suppliers = supplier.count()

    # --- raw transactions: one per order, with patron + merchant identity
    merchant = merchant_identity(supplier)
    raw = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            F.col("o_orderkey").alias("txn_id"),
            F.to_date("o_orderdate").alias("txn_date"),
            F.col("o_totalprice").cast("decimal(18,4)").alias("amount"),
            F.col("o_custkey").alias("client_id"),
            # proxy id: NULL on %11 (exercises the synthesis wave), else the
            # composite client_last4 convention (S2:47)
            F.when(F.col("o_orderkey") % 11 == 0, F.lit(None).cast("string"))
            .otherwise(
                tsql.concat_nullsafe(
                    F.col("c_nationkey").cast("string"),
                    tsql.zero_pad_last(F.col("c_custkey")),
                    sep="_",
                )
            )
            .alias("proxy_id"),
            F.substring(F.col("c_custkey").cast("string"), -4, 4).alias("cc_last4"),
            (F.col("o_orderkey") % n_suppliers).alias("site_id"),
            # dirty billing-group label (S4:19-20 targets)
            F.concat(
                F.lit('BG "'),
                (F.col("o_orderkey") % 7).cast("string"),
                F.lit('"'),
                F.when(F.col("o_orderkey") % 3 == 0, F.lit("-TERMED")).otherwise(F.lit("")),
            ).alias("billgroup_raw"),
        )
        .join(merchant, "site_id")
    )

    # --- central fact: all FK columns seeded unmapped (R3)
    fact = raw.select(
        F.col("txn_id"),
        tsql.datekey("txn_date").alias("datekey"),
        "amount",
        F.lit(UNMAPPED_PATRON_ID).cast("long").alias("patron_id"),
        F.lit(None).cast("long").alias("unique_patron_id"),
        F.lit(UNMAPPED_RESTAURANT_KEY).cast("long").alias("restaurant_key"),
        F.lit(UNMAPPED_FINGERPRINT_ID).cast("long").alias("fingerprint_id"),
        F.lit(UNMAPPED_BILLING_GROUP_KEY).cast("long").alias("billing_group_key"),
    )

    # --- dim_patron: only even custkeys pre-exist (S2's insert waves fill
    # the rest); patron surrogate keys offset past the sentinel ids 0/1
    dim_patron = (
        customer.filter(F.col("c_custkey") % 2 == 0)
        .select(
            (F.col("c_custkey") + 2).alias("patron_id"),
            tsql.concat_nullsafe(
                F.col("c_nationkey").cast("string"),
                tsql.zero_pad_last(F.col("c_custkey")),
                sep="_",
            ).alias("proxy_id"),
            F.col("c_name").alias("patron_name"),
            F.col("c_custkey").alias("client_id"),
        )
    )

    # --- dim_restaurant: suppkey%4==0 merchants missing; some names carry
    # U+FFFD (S3:19-23 scrub targets)
    dim_restaurant = (
        supplier.filter(F.col("s_suppkey") % 4 != 0)
        .select(
            (F.col("s_suppkey") + 1).alias("restaurant_key"),
            F.col("s_suppkey").alias("site_id"),
            F.when(
                F.col("s_suppkey") % 5 == 0,
                F.concat(F.trim(F.col("s_name")), F.lit(REPLACEMENT_CHAR)),
            )
            .otherwise(F.trim(F.col("s_name")))
            .alias("restaurant_name"),
            F.lit(None).cast("long").alias("bi_reporting_id"),
        )
    )

    # --- fingerprint registry: same missing 25%, simhash precomputed with
    # the engine's own fingerprint function over the SAME 8 identity
    # fields (so probe joins hit, FIXTURES A4)
    pos_fingerprints = (
        merchant_identity(supplier.filter(F.col("s_suppkey") % 4 != 0))
        .withColumn("fingerprint_id", F.col("site_id") + 1)
        .withColumn("sim_hash", merchant_simhash())
    )

    # --- dim_billing_group: even group numbers pre-exist, cleaned form
    dim_billing_group = spark.range(0, 7, 2).select(
        (F.col("id") + 1).alias("billing_group_key"),
        F.concat(F.lit("BG "), F.col("id").cast("string")).alias("billing_group_name"),
    )

    return Domain(
        raw_transactions=raw,
        fact_transaction=fact,
        dim_patron=dim_patron,
        dim_restaurant=dim_restaurant,
        pos_fingerprints=pos_fingerprints,
        dim_billing_group=dim_billing_group,
    )


def full_window(dom: Domain) -> tuple[int, int]:
    """(min, max) datekey of the fact — 'process everything' window for
    tests; production passes the previous-calendar-month pair."""
    row = dom.fact_transaction.agg(
        F.min("datekey").alias("lo"), F.max("datekey").alias("hi")
    ).collect()[0]
    return row["lo"], row["hi"]
