"""The five monthly-load stages (SURVEY §3.1), built on the M2 primitives.

Each stage is a pure transform ``(Domain-state in) -> (state out, metrics)``;
the orchestrator owns ordering and publishing. Every stage ends with the
reference's own operational validation (SURVEY §5) expressed as a metric the
caller asserts on — "the final query must return 0 rows" (S3:91-99).

Incremental discipline: every fact update is guarded by BOTH the month
window (``datekey BETWEEN`` — partition pruning at scale) and the unmapped
sentinel (only untouched rows rewritten), exactly the reference's two-guard
idiom (S4:91-107). The mappings those updates join are built from the
window's transactions only (:func:`window_txns`), so no shuffle on the fact
path grows with the history; the dim insert waves read the whole feed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_loading_scripts_spark.constants import (
    UNMAPPED_BILLING_GROUP_KEY,
    UNMAPPED_FINGERPRINT_ID,
    UNMAPPED_PATRON_ID,
    UNMAPPED_RESTAURANT_KEY,
)
from etl_loading_scripts_spark.functions import tsql
from etl_loading_scripts_spark.functions.tsql import BILLING_GROUP_CLEANUPS
from etl_loading_scripts_spark.operators import (
    allocate_surrogate_keys,
    insert_if_absent,
    top1_per_group,
    top1_per_group_agg,
    update_from_join,
)
from etl_loading_scripts_spark.pipeline.domain import (
    MERCHANT_FP_COLS,
    REPLACEMENT_CHAR,
    merchant_simhash,
)


def month_guard(lo_datekey: int, hi_datekey: int) -> Column:
    return F.col("datekey").between(lo_datekey, hi_datekey)


def _identity_barrier(df: DataFrame, name: str) -> DataFrame:
    return df


def window_txns(txns: DataFrame, window: tuple[int, int]) -> DataFrame:
    """The rows of ``txns`` (raw transactions, or a projection of them
    that keeps ``txn_date``) in the month window. A fact row's datekey
    is its raw row's ``txn_date`` (``build_domain``), so every fact row a
    window guard admits finds its raw row here: the mappings the guarded
    updates join need no other rows. Should a fact ever disagree with
    its feed, the rows it misses stay unmapped, which the stages'
    zero-unmapped probes count."""
    lo, hi = window
    return txns.filter(tsql.datekey("txn_date").between(lo, hi))


# ---------------------------------------------------------------------------
# Validation probes — the reference runs its "must return 0 rows" checks as
# SEPARATE queries against the loaded tables (S3:91-99). Here each probe is
# defined once, as ``{metric: aggregate Column}`` over the stage output, and
# evaluated wherever that output is already being scanned: the staged
# runner attaches it to the barrier write with ``DataFrame.observe`` (no
# extra job; one ``agg`` over the read-back checkpoint when a resumed
# barrier has no write), and a stage called with ``validate=True`` runs it
# as one aggregate job via :func:`evaluate`.
# ---------------------------------------------------------------------------


def evaluate(df: DataFrame, checks: dict[str, Column]) -> dict[str, int]:
    """One aggregate job over ``df`` for every probe in ``checks``."""
    row = df.agg(*(c.alias(k) for k, c in checks.items())).first()
    return {k: int(row[k]) for k in checks}


def validate_stage1() -> dict[str, Column]:
    """S1:29-41 'problem children': rows that STILL have no fingerprint."""
    return {"stage1_unmapped_after": F.count_if(F.col("fingerprint_id").isNull())}


def validate_stage2(window: tuple[int, int]) -> dict[str, Column]:
    """S2:90-94: zero unmapped patrons in the month window."""
    lo, hi = window
    return {
        "stage2_unmapped_after": F.count_if(
            (F.col("patron_id") == UNMAPPED_PATRON_ID) & month_guard(lo, hi)
        )
    }


def validate_stage3(window: tuple[int, int]) -> dict[str, Column]:
    """S3:91-99 unmapped-restaurant probe (nonzero expected when merchants
    lack a dim row — remediated monthly via the manual fuzzy wave,
    S3:50-64) + the fingerprint twin."""
    lo, hi = window
    return {
        "stage3_unmapped_restaurants": F.count_if(
            (F.col("restaurant_key") == UNMAPPED_RESTAURANT_KEY) & month_guard(lo, hi)
        ),
        "stage3_unmapped_fingerprints": F.count_if(
            (F.col("fingerprint_id") == UNMAPPED_FINGERPRINT_ID) & month_guard(lo, hi)
        ),
    }


def validate_stage4(window: tuple[int, int]) -> dict[str, Column]:
    """S4:96-99: zero unmapped billing groups in the month window."""
    lo, hi = window
    return {
        "stage4_unmapped_after": F.count_if(
            (F.col("billing_group_key") == UNMAPPED_BILLING_GROUP_KEY)
            & month_guard(lo, hi)
        )
    }


def validate_stage5() -> dict[str, Column]:
    """S5:54-67: rows of the restaurant↔definition bridge."""
    return {"stage5_bridge_rows": F.count(F.lit(1))}


# ---------------------------------------------------------------------------
# Stage 1 — POS→Txn fingerprint map (S1:5-128)
# ---------------------------------------------------------------------------


def stage1_fingerprint_map(
    raw: DataFrame,
    pos_fingerprints: DataFrame,
    window: tuple[int, int],
    validate: bool = True,
    barrier=_identity_barrier,
) -> tuple[DataFrame, DataFrame, dict]:
    """Probe every transaction's merchant identity against the registry on
    the computed simhash (S1:18-25); then register NEW fingerprints for
    unmatched merchant groups with ClientCount quality metadata + anti-join
    insert guard (S1:46-128).

    Returns (txn→fingerprint staging map, updated registry, metrics). The
    registry grows from the whole feed; the staging map covers only the
    ``window``'s transactions (the reference's monthly ``#map``, S1:46),
    since stage 3's update reads no other rows.
    ``barrier`` (df, name) → df lets the staged runner materialize the
    updated registry before the final probe re-reads it (the reference's
    own staging-table discipline); ``validate=False`` leaves the
    zero-unmapped probe (:func:`validate_stage1`) to the caller, which
    observes it on the checkpoint write."""
    probe = raw.select(
        "txn_id", "txn_date", *MERCHANT_FP_COLS, merchant_simhash().alias("sim_hash")
    )
    # The probes no registry row matches. This anti-join equals the left
    # join's NULL-fingerprint rows only because the registry's
    # fingerprint_id is never NULL (seeded keys, allocated keys below):
    # keep it so. Unlike the left join, the anti-join adds no rows, so
    # the allocator's footer bound proves new_rows small when raw is a
    # parquet read-back, and it skips its routing count().
    unmatched = probe.join(
        F.broadcast(pos_fingerprints.select("sim_hash")), "sim_hash", "left_anti"
    )

    new_candidates = (
        unmatched.groupBy("sim_hash", *MERCHANT_FP_COLS)
        .agg(
            F.countDistinct("txn_id").alias("client_count"),
        )
        .withColumn("site_id", F.lit(None).cast("long"))
        .withColumn("fingerprint_id", F.lit(None).cast("long"))
    )
    new_rows = allocate_surrogate_keys(
        new_candidates.select(
            "fingerprint_id", "site_id", *MERCHANT_FP_COLS, "sim_hash"
        ),
        pos_fingerprints,
        "fingerprint_id",
        order_by=["sim_hash"],
    )
    registry = barrier(
        insert_if_absent(
            pos_fingerprints,
            new_rows.select(pos_fingerprints.columns),
            on=["sim_hash"],
        ),
        "registry",
    )
    final_map = window_txns(probe, window).join(
        F.broadcast(registry.select("sim_hash", "fingerprint_id")), "sim_hash", "left"
    ).select("txn_id", "fingerprint_id", "sim_hash")
    metrics = evaluate(final_map, validate_stage1()) if validate else {}
    return final_map, registry, metrics


# ---------------------------------------------------------------------------
# Stage 2 — patron dimensions (S2 + P-PAT)
# ---------------------------------------------------------------------------


def stage2_patron_dims(
    raw: DataFrame,
    fact: DataFrame,
    dim_patron: DataFrame,
    window: tuple[int, int],
    validate: bool = True,
    barrier=_identity_barrier,
) -> tuple[DataFrame, DataFrame, dict]:
    """Three insert-if-absent waves (S2:23-28,57-63,97-107) collapsed to
    two: direct proxies, then synthesized ``clientid_last4`` proxies for
    NULL-proxy rows (P-PAT:96-115); each followed by a sentinel-guarded
    fact update (patron_id = 1 → mapped id, P-PAT:119-141).

    ``barrier`` materializes each wave's dim state before the next wave
    probes it — the reference's INSERT-then-SELECT against the real
    warehouse table. Without it, wave 2's surrogate allocation and the
    final mapping join lazily RE-DERIVE wave 1 from raw (measured 17x
    shuffle at 10x fact vs 10x with barriers — SCALING.md r6)."""
    lo, hi = window

    # ONE proxy-grain aggregate serves BOTH insert waves (round 10,
    # VERDICT r9 item 4: the two per-wave aggregates were the s2 cost
    # driver at 100× — each scanned and shuffled raw to proxy grain
    # separately). A txn's proxy is its real proxy_id when present,
    # else the synthesized clientid+'_'+last4 (P-PAT:96-115, the
    # NULL-propagating '+' concat); real and synthesized rows are
    # DISJOINT, so grouping by (proxy_id, is_real) in one shuffle
    # yields exactly the two aggregates the waves previously computed
    # — same winners (min txn_id within each slice), same rows. The
    # staged runner materializes this grain via ``barrier`` so neither
    # wave re-derives it from raw.
    unified = raw.select(
        "txn_id",
        F.coalesce(
            F.col("proxy_id"),
            tsql.concat_plus(
                F.col("client_id").cast("string"), F.lit("_"), F.col("cc_last4")
            ),
        ).alias("proxy_id"),
        F.col("proxy_id").isNotNull().alias("is_real"),
        "client_id",
        F.trim(F.col("merchant_name")).alias("patron_name"),
    ).filter(F.col("proxy_id").isNotNull())
    # agg-based dedup (min_by on the unique txn_id): replaces the
    # window's post-exchange SORT with hash aggregation — measured
    # s2 wall 40.1→35.0 s at 100× (SCALING.md r9)
    proxy_grain = barrier(
        top1_per_group_agg(unified, ["proxy_id", "is_real"], "txn_id"),
        "proxy_grain",
    )

    # wave 1: transactions that carry a real proxy
    new_patrons = (
        proxy_grain.filter(F.col("is_real"))
        .select("proxy_id", "patron_name", "client_id")
        .withColumn("patron_id", F.lit(None).cast("long"))
    )
    dim1 = barrier(
        insert_if_absent(
            dim_patron,
            allocate_surrogate_keys(
                new_patrons.select(dim_patron.columns), dim_patron, "patron_id", ["proxy_id"]
            ),
            on=["proxy_id"],
        ),
        "dim_patron_wave1",
    )

    # wave 2: the synthesized proxies not already present after wave 1
    # (insert_if_absent's anti-join against dim1 keeps the wave
    # ordering exact, including real/synth proxy-value collisions)
    new_synth = (
        proxy_grain.filter(~F.col("is_real"))
        .select("proxy_id", "patron_name", "client_id")
        .withColumn("patron_id", F.lit(None).cast("long"))
    )
    dim2 = barrier(
        insert_if_absent(
            dim1,
            allocate_surrogate_keys(new_synth.select(dim1.columns), dim1, "patron_id", ["proxy_id"]),
            on=["proxy_id"],
        ),
        "dim_patron_wave2",
    )

    # fact updates: join through the txn's (possibly synthesized) proxy
    txn_proxy = window_txns(raw, window).select(
        "txn_id",
        F.coalesce(
            F.col("proxy_id"),
            tsql.concat_plus(F.col("client_id").cast("string"), F.lit("_"), F.col("cc_last4")),
        ).alias("proxy_id"),
    )
    mapping = txn_proxy.join(dim2.select("proxy_id", F.col("patron_id").alias("mapped_patron")), "proxy_id")
    fact_out = update_from_join(
        fact,
        mapping.select("txn_id", "mapped_patron"),
        on=["txn_id"],
        set_cols={"patron_id": "mapped_patron"},
        guard=(F.col("patron_id") == UNMAPPED_PATRON_ID) & month_guard(lo, hi),
    )
    metrics = evaluate(fact_out, validate_stage2(window)) if validate else {}
    return fact_out, dim2, metrics


# ---------------------------------------------------------------------------
# Stage 3 — fingerprint/restaurant mapping + scrub (S3 + P-RES fact waves)
# ---------------------------------------------------------------------------


def stage3_restaurant_map(
    raw: DataFrame,
    fact: DataFrame,
    staging_map: DataFrame,
    dim_restaurant: DataFrame,
    window: tuple[int, int],
    validate: bool = True,
) -> tuple[DataFrame, DataFrame, dict]:
    """U+FFFD scrub of dim names (S3:19-23, O6); fact.fingerprint_id update
    from the stage-1 monthly map (S3:26-29); fact.restaurant_key update via
    site lookup (P-RES:466-473); both sentinel+month guarded."""
    lo, hi = window
    dim_clean = dim_restaurant.withColumn(
        "restaurant_name",
        F.replace(F.col("restaurant_name"), F.lit(REPLACEMENT_CHAR), F.lit("")),
    )

    fact1 = update_from_join(
        fact,
        staging_map.select("txn_id", F.col("fingerprint_id").alias("fp_new")),
        on=["txn_id"],
        set_cols={"fingerprint_id": "fp_new"},
        guard=(F.col("fingerprint_id") == UNMAPPED_FINGERPRINT_ID) & month_guard(lo, hi),
    )

    site_map = window_txns(raw, window).select("txn_id", "site_id").join(
        F.broadcast(dim_clean.select("site_id", F.col("restaurant_key").alias("rk_new"))),
        "site_id",
    )
    fact2 = update_from_join(
        fact1,
        site_map.select("txn_id", "rk_new"),
        on=["txn_id"],
        set_cols={"restaurant_key": "rk_new"},
        guard=(F.col("restaurant_key") == UNMAPPED_RESTAURANT_KEY) & month_guard(lo, hi),
    )
    metrics = evaluate(fact2, validate_stage3(window)) if validate else {}
    return fact2, dim_clean, metrics


# ---------------------------------------------------------------------------
# Stage 4 — billing groups (S4)
# ---------------------------------------------------------------------------


def stage4_billing_groups(
    raw: DataFrame,
    fact: DataFrame,
    dim_billing_group: DataFrame,
    window: tuple[int, int],
    validate: bool = True,
    barrier=_identity_barrier,
) -> tuple[DataFrame, DataFrame, dict]:
    """14-REPLACE name normalization + rank-1 dedup (S4:19-30), surrogate-
    keyed insert-if-absent into DimBillingGroup (S4:60-70), sentinel-guarded
    fact update (S4:75-93)."""
    lo, hi = window
    cleaned = raw.select(
        "txn_id",
        "txn_date",
        F.trim(tsql.clean_chain(F.col("billgroup_raw"), BILLING_GROUP_CLEANUPS)).alias(
            "billing_group_name"
        ),
    )
    new_groups = (
        cleaned.select("billing_group_name")
        .distinct()
        .withColumn("billing_group_key", F.lit(None).cast("long"))
    )
    dim_out = barrier(
        insert_if_absent(
            dim_billing_group,
            allocate_surrogate_keys(
                new_groups.select(dim_billing_group.columns),
                dim_billing_group,
                "billing_group_key",
                ["billing_group_name"],
            ),
            on=["billing_group_name"],
        ),
        "dim_billing_group",
    )
    mapping = window_txns(cleaned, window).join(
        F.broadcast(dim_out.select("billing_group_name", F.col("billing_group_key").alias("bg_new"))),
        "billing_group_name",
    )
    fact_out = update_from_join(
        fact,
        mapping.select("txn_id", "bg_new"),
        on=["txn_id"],
        set_cols={"billing_group_key": "bg_new"},
        guard=(F.col("billing_group_key") == UNMAPPED_BILLING_GROUP_KEY)
        & month_guard(lo, hi),
    )
    metrics = evaluate(fact_out, validate_stage4(window)) if validate else {}
    return fact_out, dim_out, metrics


# ---------------------------------------------------------------------------
# Stage 5 — BI reporting definitions (S5)
# ---------------------------------------------------------------------------


def stage5_bi_reporting(
    dim_restaurant: DataFrame,
    bi_definitions: DataFrame,
    validate: bool = True,
) -> tuple[DataFrame, DataFrame, dict]:
    """MERGE definitions (S5:11-37) is modeled upstream; here: update
    DimRestaurant.bi_reporting_id (S5:41-45) and derive the
    restaurant↔definition bridge (S5:54-67, unique per restaurant_key)."""
    dim_out = update_from_join(
        dim_restaurant,
        bi_definitions.select("site_id", F.col("bi_reporting_id").alias("bi_new")),
        on=["site_id"],
        set_cols={"bi_reporting_id": "bi_new"},
    )
    bridge = (
        dim_out.filter(F.col("bi_reporting_id").isNotNull())
        .select("bi_reporting_id", "restaurant_key")
        .distinct()
    )
    return dim_out, bridge, (evaluate(bridge, validate_stage5()) if validate else {})


def update_restaurant_rankings(
    dim_restaurant: DataFrame, fact: DataFrame, lo_datekey: int, hi_datekey: int
) -> DataFrame:
    """SURVEY §7.4 R8 — ``UpdateSalesforceRestaurantRankings`` stub.

    The reference CALLS this proc (``spScript.sql(P-SF):343``) but its body
    is absent from the repo, so the semantics here are a documented
    reconstruction, flagged as such: rank restaurants by in-window fact
    revenue (dense ranking, ties broken by restaurant_key for
    determinism) and set the dim's ``ranking`` column; restaurants with no
    in-window revenue rank last, keeping their relative order stable.

    Scale: one aggregate over the month window (partition-pruned) + a
    global window over dimension-sized input — same trade-off as the
    surrogate-key allocator (SURVEY §4.4)."""
    revenue = (
        fact.filter(F.col("datekey").between(lo_datekey, hi_datekey))
        .groupBy("restaurant_key")
        .agg(F.sum("amount").alias("window_revenue"))
    )
    w = Window.orderBy(
        F.desc_nulls_last("window_revenue"), F.col("restaurant_key")
    )
    return (
        dim_restaurant.join(revenue, "restaurant_key", "left")
        .withColumn("ranking", F.row_number().over(w).cast("long"))
        .drop("window_revenue")
    )
