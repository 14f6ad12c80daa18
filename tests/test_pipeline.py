"""End-to-end tests of the monthly cube load (SURVEY §3.1, §5).

Asserts the reference's own operational invariants: every mapping wave
drives its unmapped count to zero in the processed window, re-running a
stage is a no-op (S4:102 'prevention of overwriting existing data'), and
rows outside the month window are never touched.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_loading_scripts_spark.constants import (
    UNMAPPED_PATRON_ID,
    UNMAPPED_RESTAURANT_KEY,
)
from etl_loading_scripts_spark.pipeline.domain import build_domain
from etl_loading_scripts_spark.pipeline.monthly_load import full_window, run_monthly_load
from etl_loading_scripts_spark.pipeline.stages import stage2_patron_dims


@pytest.fixture(scope="module")
def loaded(spark, sf_dir):
    dom = build_domain(spark, sf_dir)
    window = full_window(dom)
    out, metrics = run_monthly_load(spark, dom, window)
    return dom, out, metrics, window


def test_mapping_waves_reach_zero_unmapped(loaded):
    _, _, metrics, _ = loaded
    # S1: every txn gets a fingerprint (new ones were registered)
    assert metrics["stage1_unmapped_after"] == 0
    # S2:90-94: zero unmapped patrons in the window
    assert metrics["stage2_unmapped_after"] == 0
    # S3: fingerprints fully mapped; restaurants unmapped only where the
    # merchant has no dim row (suppkey%4==0 seeded gap)
    assert metrics["stage3_unmapped_fingerprints"] == 0
    assert metrics["stage3_unmapped_restaurants"] > 0
    # S4: every billing-group label resolves after normalization
    assert metrics["stage4_unmapped_after"] == 0


def test_fact_row_count_preserved(loaded):
    dom, out, _, _ = loaded
    assert out.fact_transaction.count() == dom.fact_transaction.count()


def test_new_fingerprints_registered_for_missing_merchants(loaded):
    dom, out, _, _ = loaded
    before = dom.pos_fingerprints.count()
    after = out.pos_fingerprints.count()
    assert after > before  # the suppkey%4==0 merchants got registered
    # registry keys remain unique
    assert out.pos_fingerprints.select("fingerprint_id").distinct().count() == after


def test_patron_wave_is_idempotent(spark, loaded):
    dom, out, _, window = loaded
    fact2, dim2, m2 = stage2_patron_dims(
        dom.raw_transactions, out.fact_transaction, out.dim_patron, window
    )
    assert m2["stage2_unmapped_after"] == 0
    assert dim2.count() == out.dim_patron.count()  # no duplicate inserts
    # already-mapped fact rows unchanged
    diff = (
        fact2.select("txn_id", "patron_id")
        .exceptAll(out.fact_transaction.select("txn_id", "patron_id"))
        .count()
    )
    assert diff == 0


def test_billing_group_names_normalized(loaded):
    _, out, _, _ = loaded
    names = [r["billing_group_name"] for r in out.dim_billing_group.collect()]
    assert all('"' not in n and "TERMED" not in n and "  " not in n for n in names)
    assert out.dim_billing_group.select("billing_group_key").distinct().count() == len(names)


def test_restaurant_names_scrubbed(loaded):
    _, out, _, _ = loaded
    assert out.dim_restaurant.filter(F.col("restaurant_name").contains("�")).count() == 0


def test_unmapped_restaurants_match_seeded_gap(spark, loaded):
    dom, out, _, window = loaded
    # exactly the transactions whose merchant lacks a dim row stay unmapped
    lo, hi = window
    unmapped = out.fact_transaction.filter(
        (F.col("restaurant_key") == UNMAPPED_RESTAURANT_KEY)
        & F.col("datekey").between(lo, hi)
    ).count()
    expected = dom.raw_transactions.filter(F.col("site_id") % 4 == 0).count()
    assert unmapped == expected
    # and no patron sentinel survives anywhere in-window
    assert (
        out.fact_transaction.filter(F.col("patron_id") == UNMAPPED_PATRON_ID)
        .filter(F.col("datekey").between(lo, hi))
        .count()
        == 0
    )


def test_publish_round_trip(spark, tmp_path, loaded):
    """Publish the load's fact and patron dim as one delta-log set, read
    back, re-publish over the live set (the monthly rerun), and assert FK
    integrity on the read-back state — the full production write path,
    not just in-memory frames."""
    import os

    from etl_loading_scripts_spark.operators.deltalog import (
        publish_set_deltalog,
        read_published_set_deltalog,
    )
    from etl_loading_scripts_spark.operators.quality import (
        referential_integrity_check,
    )

    _, out, _, _ = loaded
    base = str(tmp_path / "warehouse")
    v1 = publish_set_deltalog(
        {"fact_transaction": out.fact_transaction, "dim_patron": out.dim_patron},
        base,
    )
    back = read_published_set_deltalog(spark, base)
    fact_back, dim_back = back["fact_transaction"], back["dim_patron"]
    assert fact_back.count() == out.fact_transaction.count()
    assert fact_back.schema == out.fact_transaction.schema

    # every mapped patron FK resolves in the published dim (full-window run
    # maps everything; sentinel ids were replaced by real keys)
    assert referential_integrity_check(fact_back, dim_back, "patron_id", "patron_id") == 0

    # the monthly rerun: publish over the live set — readers see the old
    # or the new set, never a partial write, and no staging residue remains
    publish_set_deltalog(
        {"fact_transaction": out.fact_transaction, "dim_patron": out.dim_patron.limit(10)},
        base,
    )
    assert read_published_set_deltalog(spark, base)["dim_patron"].count() == 10
    pinned = read_published_set_deltalog(spark, base, version=v1)
    assert pinned["dim_patron"].count() == out.dim_patron.count()
    residue = [
        d for _root, dirs, _files in os.walk(base) for d in dirs
        if d.startswith(".staging-")
    ]
    assert residue == []


@pytest.mark.soak
def test_multi_month_incremental(spark, sf_dir):
    """Run month N, then month N+1 on the updated state: each run maps only
    its own window, leaves other months' sentinels untouched, and the
    second run builds on the first's dimension inserts (the reference's
    actual operating cadence, BASELINE 'monthly batch')."""
    from etl_loading_scripts_spark.pipeline.domain import build_domain
    from etl_loading_scripts_spark.pipeline.monthly_load import run_monthly_load

    dom = build_domain(spark, sf_dir)
    months = sorted(
        r["m"]
        for r in dom.fact_transaction.select((F.col("datekey") / 100).cast("int").alias("m"))
        .distinct()
        .collect()
    )
    m1, m2 = months[0], months[1]
    w1, w2 = (m1 * 100 + 1, m1 * 100 + 31), (m2 * 100 + 1, m2 * 100 + 31)

    out1, metrics1 = run_monthly_load(spark, dom, w1)
    assert metrics1["stage2_unmapped_after"] == 0
    # month-2 rows untouched by the month-1 run
    still_unmapped = out1.fact_transaction.filter(
        F.col("datekey").between(*w2) & (F.col("patron_id") == UNMAPPED_PATRON_ID)
    ).count()
    assert still_unmapped > 0

    out2, metrics2 = run_monthly_load(spark, out1, w2)
    assert metrics2["stage2_unmapped_after"] == 0
    assert (
        out2.fact_transaction.filter(
            F.col("datekey").between(*w2) & (F.col("patron_id") == UNMAPPED_PATRON_ID)
        ).count()
        == 0
    )
    # month-1 mappings survived the month-2 run
    assert (
        out2.fact_transaction.filter(
            F.col("datekey").between(*w1) & (F.col("patron_id") == UNMAPPED_PATRON_ID)
        ).count()
        == 0
    )
    # dimension state accumulated, never shrank, and stayed key-unique
    n2 = out2.dim_patron.count()
    assert n2 >= out1.dim_patron.count()
    assert out2.dim_patron.select("patron_id").distinct().count() == n2
    assert out2.fact_transaction.count() == dom.fact_transaction.count()


def test_restaurant_rankings_stub(spark, loaded):
    """SURVEY §7.4 R8: the reference calls a proc whose body is missing —
    the reconstruction ranks by in-window revenue, deterministic ties,
    no-revenue restaurants last."""
    from etl_loading_scripts_spark.pipeline.stages import update_restaurant_rankings

    dom, out, _, window = loaded
    ranked = update_restaurant_rankings(out.dim_restaurant, out.fact_transaction, *window)
    n = out.dim_restaurant.count()
    assert ranked.count() == n
    ranks = [r["ranking"] for r in ranked.select("ranking").collect()]
    assert sorted(ranks) == list(range(1, n + 1))  # dense, complete, unique
    # top-ranked restaurant really has the max in-window revenue
    top_key = ranked.filter(F.col("ranking") == 1).collect()[0]["restaurant_key"]
    rev = (
        out.fact_transaction.filter(F.col("datekey").between(*window))
        .join(out.dim_restaurant.select("restaurant_key"), "restaurant_key")
        .groupBy("restaurant_key")
        .agg(F.sum("amount").alias("r"))
    )
    best = rev.orderBy(F.desc("r"), "restaurant_key").first()["restaurant_key"]
    assert top_key == best


def test_run_metrics_append(spark, tmp_path, loaded):
    from etl_loading_scripts_spark.pipeline.monthly_load import write_run_metrics

    _, _, metrics, window = loaded
    path = str(tmp_path / "run_metrics")
    write_run_metrics(spark, metrics, path, "run1", window)
    write_run_metrics(spark, metrics, path, "run2", window)
    back = spark.read.parquet(path)
    assert back.count() == 2 * len(metrics)
    assert set(r["run_id"] for r in back.select("run_id").distinct().collect()) == {
        "run1",
        "run2",
    }
    got = {
        r["metric"]: r["value"]
        for r in back.filter(F.col("run_id") == "run1").collect()
    }
    assert got == {k: int(v) for k, v in metrics.items()}


def test_rebucketed_warehouse_joins_without_fact_shuffle(spark, sf_dir):
    """After rebucket_warehouse, the stage-shaped fact⋈mapping join on
    txn_id must exchange ONLY the mapping side — the bucketed fact scan
    feeds the sort-merge join directly."""
    import pyspark.sql.functions as F
    from etl_loading_scripts_spark.pipeline.domain import build_domain
    from etl_loading_scripts_spark.pipeline.monthly_load import rebucket_warehouse

    dom = build_domain(spark, sf_dir)
    try:
        bucketed = rebucket_warehouse(spark, dom, prefix="t_wh", n_buckets=8)
        mapping = dom.raw_transactions.select("txn_id", F.lit(7).alias("mapped"))
        joined = bucketed.fact_transaction.hint("merge").join(mapping, "txn_id")
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        # exactly one SHUFFLE exchange (the mapping side); broadcasts inside
        # the mapping build are fine — the bucketed fact side must have none
        import re

        assert len(re.findall(r"\+- Exchange \(", plan)) == 1, plan
        assert joined.count() == dom.raw_transactions.count()
        # patron dim co-location: bucketed dim ⋈ bucketed dim on proxy_id
        # (the insert-if-absent probe shape) is exchange-free entirely
        d = bucketed.dim_patron
        self_probe = d.hint("merge").join(
            d.select("proxy_id", F.col("patron_id").alias("p2")), "proxy_id"
        )
        plan2 = self_probe._sc._jvm.PythonSQLUtils.explainString(
            self_probe._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan2, plan2
    finally:
        spark.sql("DROP TABLE IF EXISTS t_wh_fact_transaction")
        spark.sql("DROP TABLE IF EXISTS t_wh_dim_patron")


def test_monthly_load_partitioned_prunes_update_waves(spark, sf_dir, tmp_path):
    """VERDICT r2 item 6: the stage update waves of the partitioned
    monthly load must scan ONLY the window month's partition — the month
    filter reaches the parquet file listing as a PartitionFilter, so the
    plan never opens other months' files."""
    from etl_loading_scripts_spark.pipeline.domain import build_domain
    from etl_loading_scripts_spark.pipeline.monthly_load import (
        run_monthly_load_partitioned,
    )

    dom = build_domain(spark, sf_dir)
    lo_dk = dom.fact_transaction.agg(F.min("datekey")).first()[0]
    month = lo_dk // 100
    window = (month * 100 + 1, month * 100 + 31)
    wh = str(tmp_path / "fact_wh")

    out, metrics = run_monthly_load_partitioned(
        spark, dom, window, wh, publish=False
    )
    # pre-publish fact keeps lineage: its scan of the staged layout must
    # carry the month PartitionFilters (file-level pruning, not row filter)
    plan = out.fact_transaction._sc._jvm.PythonSQLUtils.explainString(
        out.fact_transaction._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters", 1)[1][:250]
    assert "month" in pf, pf
    assert str(month) in pf, pf  # bounds are the window's month literals
    # and the month-only load maps every in-window row (stage invariant)
    n_month = out.fact_transaction.count()
    assert n_month == dom.fact_transaction.filter(
        F.col("datekey").between(*window)
    ).count()

    # published run: only the window partition is rewritten, other months
    # keep the seeded unmapped sentinels
    from etl_loading_scripts_spark.constants import UNMAPPED_PATRON_ID

    out2, _ = run_monthly_load_partitioned(spark, dom, window, wh, publish=True)
    outside = out2.fact_transaction.filter(~F.col("datekey").between(*window))
    assert outside.filter(F.col("patron_id") != UNMAPPED_PATRON_ID).count() == 0
    inside = out2.fact_transaction.filter(F.col("datekey").between(*window))
    assert inside.filter(F.col("patron_id") == UNMAPPED_PATRON_ID).count() == 0


def test_split_sql_statements_quotes_and_comments():
    from etl_loading_scripts_spark.pipeline.sql_script import (
        split_sql_statements,
    )

    script = """
    -- leading comment; with semicolon
    CREATE VIEW a AS SELECT 'x;y' AS s, 'it''s' AS t;
    /* block; comment */
    SELECT * FROM a; 
    """
    stmts = split_sql_statements(script)
    assert len(stmts) == 2
    assert "'x;y'" in stmts[0] and "it''s" in stmts[0]
    assert stmts[1].endswith("FROM a")


def test_run_sql_script_returns_last_statement(spark):
    from etl_loading_scripts_spark.pipeline.sql_script import run_sql_script

    out = run_sql_script(
        spark,
        """
        CREATE OR REPLACE TEMPORARY VIEW t_script_test AS
        SELECT tsql_zero_pad4(id) AS p FROM range(3);
        SELECT COUNT(*) AS n, MIN(p) AS lo FROM t_script_test
        """,
    )
    row = out.collect()[0]
    assert (row.n, row.lo) == (3, "0000")


@pytest.mark.soak
def test_staged_load_matches_unstaged(spark, tmp_path, loaded):
    """The staged runner (checkpoint barriers between stages + wave
    barriers inside them, post-checkpoint validation) is the SAME load:
    identical validation metrics and identical published fact as the
    fused `run_monthly_load` — the barriers change execution shape, not
    semantics."""
    from etl_loading_scripts_spark.pipeline.staged import run_monthly_load_staged

    dom, out_ref, metrics_ref, window = loaded
    out, metrics, report = run_monthly_load_staged(
        spark, dom, window, str(tmp_path / "staged")
    )
    assert metrics == metrics_ref
    assert [r["stage"] for r in report] == [
        "s0_domain", "s1_fingerprint_map", "s2_patron_dims",
        "s3_restaurant_map", "s4_billing_groups", "s5_bi_reporting",
        "s6_publish_deltalog",
    ]
    assert report[-1]["set_version"] == 0  # first run of this warehouse
    # fact content identical (sorted compare on the update targets)
    cols = ["txn_id", "patron_id", "restaurant_key", "fingerprint_id",
            "billing_group_key"]
    a = sorted(map(tuple, out.fact_transaction.select(cols).collect()))
    b = sorted(map(tuple, out_ref.fact_transaction.select(cols).collect()))
    assert a == b
    # the publish committed a readable, transactionally-consistent set
    # through the Delta log (the pipeline's commit layer since round 7)
    from etl_loading_scripts_spark.operators.deltalog import (
        read_published_set_deltalog,
    )

    pub = read_published_set_deltalog(spark, str(tmp_path / "staged" / "publish"))
    assert set(pub) == {
        "fact_transaction", "dim_patron", "dim_restaurant",
        "dim_billing_group", "pos_fingerprints",
    }
    assert pub["fact_transaction"].count() == out_ref.fact_transaction.count()


@pytest.mark.soak
def test_staged_load_resumes_from_last_barrier(spark, tmp_path, loaded):
    """Per-stage restartability (the reason the barriers exist): kill
    the load after stage 3 by deleting stage-4/5 checkpoints, rerun
    with resume=True, and the completed stages replay as metadata
    reads (their parquet mtimes unchanged, report flags 'resumed')
    while the tail recomputes — final metrics identical to a clean
    run."""
    import os
    import shutil

    from etl_loading_scripts_spark.pipeline.staged import run_monthly_load_staged

    dom, _, metrics_ref, window = loaded
    d = str(tmp_path / "resume")
    _, metrics_full, _ = run_monthly_load_staged(spark, dom, window, d)
    assert metrics_full == metrics_ref
    # simulate a crash during stage 4: its outputs (and everything
    # after) never committed
    for f in os.listdir(d):
        if f.startswith(("s4_", "s5_", "publish")):
            shutil.rmtree(os.path.join(d, f))
    mtimes_before = {
        f: os.path.getmtime(os.path.join(d, f, "_SUCCESS"))
        for f in os.listdir(d)
        if f.startswith(("s0_", "s1_", "s2_", "s3_"))
    }
    _, metrics_resumed, report = run_monthly_load_staged(
        spark, dom, window, d, resume=True
    )
    assert metrics_resumed == metrics_full
    # completed barriers were NOT rewritten
    for f, t in mtimes_before.items():
        assert os.path.getmtime(os.path.join(d, f, "_SUCCESS")) == t, f
    by_stage = {r["stage"]: r for r in report}
    assert set(by_stage["s0_domain"].get("resumed", [])) == {
        "raw", "fact", "dim_patron", "dim_restaurant",
        "pos_fingerprints", "dim_billing_group",
    }
    assert "resumed" in by_stage["s3_restaurant_map"]
    assert "resumed" not in by_stage["s4_billing_groups"]
    assert "resumed" not in by_stage["s5_bi_reporting"]


def test_staged_bucketed_layout_matches_and_colocates(spark, tmp_path, loaded):
    """Round-9 VERDICT item 5: the bucketed staged runner — fact
    barriers bucketed on txn_id, patron-dim states on proxy_id — is
    the SAME load (identical validations + fact content), and its fact
    side of a txn_id join reads co-located buckets with NO fact-side
    Exchange (the s2/s3/s4 shuffle step the 100x run measured)."""
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.pipeline.staged import run_monthly_load_staged

    dom, out_ref, metrics_ref, window = loaded
    out, metrics, _ = run_monthly_load_staged(
        spark, dom, window, str(tmp_path / "bk"), publish=False,
        bucketed=True,
    )
    assert metrics == metrics_ref
    cols = ["txn_id", "patron_id", "restaurant_key", "fingerprint_id",
            "billing_group_key"]
    a = sorted(map(tuple, out.fact_transaction.select(cols).collect()))
    b = sorted(map(tuple, out_ref.fact_transaction.select(cols).collect()))
    assert a == b
    # co-location: joining the bucketed fact to a derived mapping on
    # txn_id exchanges ONLY the mapping side
    mapping = spark.range(50).select(
        F.col("id").alias("txn_id"), F.lit(1).alias("m")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = out.fact_transaction.hint("merge").join(mapping, "txn_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("Exchange") == 1, plan
    # the bucketed tables live in the shared warehouse; the scoped
    # cleanup drops exactly this run's tables
    from etl_loading_scripts_spark.pipeline.staged import (
        bucket_table_prefix,
        drop_bucketed_stage_tables,
    )

    prefix = bucket_table_prefix(str(tmp_path / "bk"))
    assert any(
        t.name.startswith(prefix) for t in spark.catalog.listTables()
    )
    assert drop_bucketed_stage_tables(spark, str(tmp_path / "bk")) > 0
    assert not any(
        t.name.startswith(prefix) for t in spark.catalog.listTables()
    )


def test_bucketed_barrier_resume_requires_completion_marker(spark):
    """Round-10 ADVICE: bare tableExists is not a resume barrier — an
    interrupted overwrite of a pre-existing bucketed table leaves a
    live catalog entry with torn contents. Resume trusts only tables
    carrying the completion property, set strictly AFTER the write."""
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.pipeline.staged import (
        _bucket_barrier_complete,
        _write_bucketed_barrier,
    )
    from etl_loading_scripts_spark.sources import write_bucketed

    df = spark.range(10).select(F.col("id").alias("txn_id"))
    tbl = "t_barrier_marker_probe"
    try:
        # a plain write_bucketed (the "torn"/interrupted shape: table
        # exists, marker never set) is NOT resumable
        write_bucketed(df, tbl, ["txn_id"], n_buckets=4)
        assert spark.catalog.tableExists(tbl)
        assert not _bucket_barrier_complete(spark, tbl)
        # the barrier writer marks completion — now resumable
        _write_bucketed_barrier(df, tbl, ["txn_id"], 4)
        assert _bucket_barrier_complete(spark, tbl)
        # an overwrite resets the catalog entry: re-running the barrier
        # writer over a marked table still ends marked (idempotent)
        _write_bucketed_barrier(df, tbl, ["txn_id"], 4)
        assert _bucket_barrier_complete(spark, tbl)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
