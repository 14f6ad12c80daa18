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
from etl_loading_scripts_spark.pipeline.domain import build_domain, full_window
from etl_loading_scripts_spark.pipeline.staged import run_monthly_load_staged
from etl_loading_scripts_spark.pipeline.stages import stage2_patron_dims


@pytest.fixture(scope="module")
def loaded(spark, sf_dir, tmp_path_factory):
    dom = build_domain(spark, sf_dir)
    window = full_window(dom)
    out, metrics, _ = run_monthly_load_staged(
        spark, dom, window, str(tmp_path_factory.mktemp("loaded")),
        publish=False,
    )
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
def test_multi_month_incremental(spark, sf_dir, tmp_path):
    """Run month N, then month N+1 on the updated state in the same stage
    dir: each run maps only its own window, leaves other months'
    sentinels untouched, and the second run builds on the first's
    dimension inserts (the reference's actual operating cadence,
    BASELINE 'monthly batch'). Run 2 writes its barriers under its own
    run directory, reading run 1's where they lie."""
    dom = build_domain(spark, sf_dir)
    months = sorted(
        r["m"]
        for r in dom.fact_transaction.select((F.col("datekey") / 100).cast("int").alias("m"))
        .distinct()
        .collect()
    )
    m1, m2 = months[0], months[1]
    w1, w2 = (m1 * 100 + 1, m1 * 100 + 31), (m2 * 100 + 1, m2 * 100 + 31)
    stage_dir = str(tmp_path / "warehouse")

    out1, metrics1, _ = run_monthly_load_staged(spark, dom, w1, stage_dir)
    assert metrics1["stage2_unmapped_after"] == 0
    # month-2 rows untouched by the month-1 run
    still_unmapped = out1.fact_transaction.filter(
        F.col("datekey").between(*w2) & (F.col("patron_id") == UNMAPPED_PATRON_ID)
    ).count()
    assert still_unmapped > 0
    n1 = out1.dim_patron.count()

    out2, metrics2, report2 = run_monthly_load_staged(spark, out1, w2, stage_dir)
    assert metrics2["stage2_unmapped_after"] == 0
    assert report2[-1]["set_version"] == 1
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
    assert n2 >= n1
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
    from etl_loading_scripts_spark.pipeline.staged import write_run_metrics

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


#: Spark jobs and tasks one month close (bootstrap through 1999-12, then
#: close 2000-01 with publish) may run at the test session's config
#: (``get_spark(shuffle_partitions=8)``). Plan-determined, not load-
#: dependent: a change that adds a job or a stage to the close must
#: re-measure and justify raising these. The job count is the same on
#: every core count; the task count grows with it, because AQE coalesces
#: shuffles down to the default parallelism (62 tasks on 1 core, 76 on
#: 2, 84 on 4), and stops growing at the 8 shuffle partitions (90 on 8
#: cores): the budget is that ceiling.
CLOSE_JOB_BUDGET = 57
CLOSE_TASK_BUDGET = 90


def test_month_close_job_and_task_budget(spark, sf_dir, tmp_path):
    """Job/task ratchet on one month close: the validations ride on the
    barrier writes (no count job per probe), barrier read-backs infer
    no schema, AQE coalesces the dim merge's cached diff, surrogate keys
    route and offset from parquet footers, dims that did not grow
    publish without a job, and frames that are already parquet
    read-backs (the input Domain, the wave checkpoints the stage
    barriers hand on) are not copied. Jobs are
    counted by job group with ``statusTracker``; tasks are the completed
    tasks of those jobs' stages."""
    import uuid

    from etl_loading_scripts_spark.catalog import load_table

    dom = build_domain(spark, sf_dir)
    stage_dir = str(tmp_path / "warehouse")
    dom, _, _ = run_monthly_load_staged(spark, dom, (19950101, 19991231), stage_dir)

    # expected validation dict, from the input tables: every in-window
    # row maps except those of merchants the restaurant dim lacks
    n_supp = load_table(spark, sf_dir, "supplier").count()
    in_month = load_table(spark, sf_dir, "orders").filter(
        F.date_format("o_orderdate", "yyyyMM") == "200001"
    )
    golden = {
        "stage1_unmapped_after": 0,
        "stage2_unmapped_after": 0,
        "stage3_unmapped_restaurants": in_month.filter(
            F.col("o_orderkey") % n_supp % 4 == 0
        ).count(),
        "stage3_unmapped_fingerprints": 0,
        "stage4_unmapped_after": 0,
        "stage5_bridge_rows": sum(1 for s in range(n_supp) if s % 4 != 0),
    }

    sc = spark.sparkContext
    group = f"close-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "month close budget")
    try:
        _, metrics, _ = run_monthly_load_staged(
            spark, dom, (20000101, 20000131), stage_dir
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # job and stage records reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    # tasks run: a skipped stage runs none, and the status store may have
    # evicted it already (it has no completion time, so it goes first)
    stages = [tracker.getStageInfo(s) for s in stage_ids]
    tasks = sum(st.numCompletedTasks for st in stages if st is not None)

    assert metrics == golden
    assert len(jobs) <= CLOSE_JOB_BUDGET, (
        f"month close ran {len(jobs)} Spark jobs (budget {CLOSE_JOB_BUDGET})"
    )
    assert tasks <= CLOSE_TASK_BUDGET, (
        f"month close ran {tasks} Spark tasks (budget {CLOSE_TASK_BUDGET})"
    )


#: the dims the stages grow only by insert-if-absent: the close publishes
#: them through the "insert" grain of publish_set_deltalog
INSERT_DIMS = ("dim_patron", "pos_fingerprints", "dim_billing_group")
CLOSE_WINDOW = (20000101, 20000131)


@pytest.fixture(scope="module")
def bootstrapped(spark, sf_dir, tmp_path_factory):
    """A warehouse the staged runner bootstrapped through 1999-12:
    (returned Domain, stage dir). Tests close 2000-01 in a copy of its
    published set (:func:`_warehouse_copy`), so each starts from the
    bootstrap's set; the Domain's barrier files stay under the
    bootstrap's stage dir, which no close writes to."""
    dom = build_domain(spark, sf_dir)
    d = str(tmp_path_factory.mktemp("bootstrapped"))
    out, _, _ = run_monthly_load_staged(spark, dom, (19950101, 19991231), d)
    return out, d


def _warehouse_copy(boot_dir: str, tmp_path) -> tuple[str, str]:
    """A fresh stage dir holding a copy of the bootstrapped published
    set: (stage dir, publish dir)."""
    import os
    import shutil

    stage = str(tmp_path / "warehouse")
    base = os.path.join(stage, "publish")
    shutil.copytree(os.path.join(boot_dir, "publish"), base)
    return stage, base


def _set_pins(base: str) -> dict[str, int]:
    """{table: delta version} the newest set commit under ``base`` pins."""
    import os

    from etl_loading_scripts_spark.operators import deltalog as dl

    coord = os.path.join(base, dl._SET_DIR)
    return dict(dl._set_commit_at(coord, dl._versions(coord)[-1])["tables"])


def test_close_publishes_ungrown_dims_without_commit(spark, tmp_path, bootstrapped):
    """Every dim is complete after the bootstrap, so the close grows none
    of the insert-grain dims: they get no new table version, and the
    new set pins their previous versions next to the fact's new one."""
    import os

    from etl_loading_scripts_spark.operators import deltalog as dl

    dom, boot_dir = bootstrapped
    stage, base = _warehouse_copy(boot_dir, tmp_path)
    pins_before = _set_pins(base)
    logs_before = {t: dl._all_versions(os.path.join(base, t)) for t in INSERT_DIMS}

    _, _, report = run_monthly_load_staged(spark, dom, CLOSE_WINDOW, stage)

    pins_after = _set_pins(base)
    assert report[-1]["set_version"] == dl.published_set_versions(base)[-1] == 1
    for t in INSERT_DIMS:
        assert dl._all_versions(os.path.join(base, t)) == logs_before[t], t
        assert pins_after[t] == pins_before[t], t
    assert pins_after["fact_transaction"] > pins_before["fact_transaction"]


def test_close_inserts_only_dim_growth(spark, tmp_path, bootstrapped):
    """A close whose input dim lacks rows of the published table (two
    seeded billing groups) re-inserts their names under new keys: the
    publish appends exactly those rows and deletes nothing, where a
    full sync would have dropped the two published rows."""
    from dataclasses import replace

    from etl_loading_scripts_spark.operators import deltalog as dl

    dom, boot_dir = bootstrapped
    stage, base = _warehouse_copy(boot_dir, tmp_path)
    tpath = f"{base}/dim_billing_group"

    def rows(df):
        return {(r.billing_group_key, r.billing_group_name) for r in df.collect()}

    pins_before = _set_pins(base)
    before = rows(dl.read_delta_table(spark, tpath))
    shrunk = replace(
        dom,
        dim_billing_group=dom.dim_billing_group.filter(
            ~F.col("billing_group_key").isin(1, 3)
        ),
    )
    out, _, _ = run_monthly_load_staged(spark, shrunk, CLOSE_WINDOW, stage)

    pins_after = _set_pins(base)
    after = rows(dl.read_published_set_deltalog(spark, base)["dim_billing_group"])
    grown = after - before
    assert before <= after  # nothing deleted
    assert {name for _, name in grown} == {"BG 0", "BG 2"}
    assert min(k for k, _ in grown) > max(k for k, _ in before)
    assert grown == rows(out.dim_billing_group) - before
    acts = dl._read_actions(tpath, pins_after["dim_billing_group"])
    info = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    assert info["operation"] == "APPEND"
    assert info["operationParameters"]["publishSet"] == "true"
    assert not any("remove" in a for a in acts)
    for t in ("dim_patron", "pos_fingerprints"):
        assert pins_after[t] == pins_before[t], t


def test_close_fences_orphan_insert(spark, tmp_path, bootstrapped):
    """A publish that crashed after its stamped insert-grain append but
    before its set commit leaves an orphan table version; the next
    close fences it, so the orphan row never reaches a set."""
    from etl_loading_scripts_spark.operators import deltalog as dl

    dom, boot_dir = bootstrapped
    stage, base = _warehouse_copy(boot_dir, tmp_path)
    tpath = f"{base}/dim_patron"
    pinned = _set_pins(base)["dim_patron"]

    def rows(df):
        return sorted(map(tuple, df.select("patron_id", "proxy_id").collect()))

    published = rows(dl.read_delta_table(spark, tpath, version=pinned))
    orphan = (
        dl.read_delta_table(spark, tpath)
        .limit(1)
        .withColumn("patron_id", F.lit(10**9).cast("long"))
        .withColumn("proxy_id", F.lit("orphan"))
    )
    res = dl.insert_if_absent_deltalog(
        spark, tpath, orphan, ["patron_id"],
        operation_parameters={"publishSet": "true"},
    )
    assert res == {"version": pinned + 1, "rows_inserted": 1}

    run_monthly_load_staged(spark, dom, CLOSE_WINDOW, stage)

    assert rows(dl.read_published_set_deltalog(spark, base)["dim_patron"]) == published


def test_close_full_syncs_unfenceable_insert_dim(spark, tmp_path, bootstrapped):
    """An orphan insert followed by an out-of-band commit cannot be
    fenced, so the close publishes that dim by full sync: the frame
    wins, and neither the orphan row (under the key the next allocation
    would hand another patron) nor the out-of-band row reaches the set."""
    from etl_loading_scripts_spark.operators import deltalog as dl

    dom, boot_dir = bootstrapped
    stage, base = _warehouse_copy(boot_dir, tmp_path)
    tpath = f"{base}/dim_patron"
    pinned = _set_pins(base)["dim_patron"]
    table = dl.read_delta_table(spark, tpath)
    top = table.agg(F.max("patron_id")).first()[0]

    def stray(key: int, proxy: str, stamp: dict | None):
        row = (
            table.limit(1)
            .withColumn("patron_id", F.lit(key).cast("long"))
            .withColumn("proxy_id", F.lit(proxy))
        )
        return dl.insert_if_absent_deltalog(
            spark, tpath, row, ["patron_id"], operation_parameters=stamp
        )

    assert stray(top + 1, "orphan", {"publishSet": "true"})["version"] == pinned + 1
    assert stray(10**9, "out-of-band", None)["version"] == pinned + 2
    assert not dl._publish_orphan_range(tpath, pinned, pinned + 2)

    out, _, _ = run_monthly_load_staged(spark, dom, CLOSE_WINDOW, stage)

    def rows(df):
        return sorted(map(tuple, df.select("patron_id", "proxy_id").collect()))

    published = rows(dl.read_published_set_deltalog(spark, base)["dim_patron"])
    assert published == rows(out.dim_patron)
    assert not {"orphan", "out-of-band"} & {proxy for _, proxy in published}


def _row_hashes(dom) -> dict[str, list[int]]:
    """{frame: sorted row hashes} of every frame of ``dom``."""
    from etl_loading_scripts_spark.pipeline.domain import Domain

    out = {}
    for name in Domain.__dataclass_fields__:
        df = getattr(dom, name)
        out[name] = sorted(r[0] for r in df.select(F.xxhash64(*df.columns)).collect())
    return out


def _run_dirs(stage: str) -> set[str]:
    """The run directories under a stage dir: every entry but the
    published set."""
    import os

    return set(os.listdir(stage)) - {"publish"}


NEXT_WINDOW = (20000201, 20000229)


def test_chained_close_keeps_input_domain_readable(spark, tmp_path, bootstrapped):
    """Close month N, then N+1 from N's returned Domain in the same
    stage dir: every frame of the Domain that fed the N+1 close reads
    the same rows afterwards (the close neither overwrote nor deleted
    its files), and the N+1 close wrote no stage-0 checkpoint: its
    inputs are N's read-backs, read where they lie."""
    import os

    dom, boot_dir = bootstrapped
    stage, _ = _warehouse_copy(boot_dir, tmp_path)
    out_n, _, _ = run_monthly_load_staged(spark, dom, CLOSE_WINDOW, stage)
    hashes = _row_hashes(out_n)
    runs = _run_dirs(stage)

    run_monthly_load_staged(spark, out_n, NEXT_WINDOW, stage)

    assert _row_hashes(out_n) == hashes
    [run] = _run_dirs(stage) - runs
    assert not [c for c in os.listdir(os.path.join(stage, run)) if c.startswith("s0_")]


def test_stage_report_records_compile_time(spark, tmp_path, bootstrapped):
    """Every stage record of a close, the publish included, carries the
    driver JVM's JIT compilation seconds over the stage."""
    dom, boot_dir = bootstrapped
    stage, _ = _warehouse_copy(boot_dir, tmp_path)
    _, _, report = run_monthly_load_staged(spark, dom, CLOSE_WINDOW, stage)
    assert [r["stage"] for r in report][-1] == "s6_publish_deltalog"
    assert all(r["compile_s"] >= 0 for r in report)


def _leaf_dirs(stage: str, run: str) -> set[str]:
    """The directories of a run dir that hold no directory, relative to
    the stage dir: each checkpoint, or each month of a checkpoint laid
    out by month. The cleanup of earlier runs keeps or deletes these
    whole."""
    import os

    return {
        os.path.relpath(root, stage)
        for root, dirs, _ in os.walk(os.path.join(stage, run))
        if not dirs and root != os.path.join(stage, run)
    }


def test_chained_closes_keep_only_live_checkpoints(spark, tmp_path, bootstrapped):
    """After three chained closes the stage dir holds the published set,
    the last run's directory whole, and of earlier runs only the
    checkpoints, and the months of the fact checkpoints, that the last
    close's input or returned Domain reads. Every close leaves its month
    of the fact where it wrote it, so all three run dirs stay, the
    first holding nothing but that month."""
    import os
    from urllib.parse import urlparse

    from etl_loading_scripts_spark.pipeline.domain import Domain

    dom, boot_dir = bootstrapped
    stage, _ = _warehouse_copy(boot_dir, tmp_path)
    runs = []
    for window in (CLOSE_WINDOW, NEXT_WINDOW, (20000301, 20000331)):
        last_in, before = dom, _run_dirs(stage)
        dom, _, _ = run_monthly_load_staged(spark, dom, window, stage)
        [run] = _run_dirs(stage) - before
        runs.append(run)

    read_dirs = {
        os.path.dirname(urlparse(u).path)
        for d in (last_in, dom)
        for name in Domain.__dataclass_fields__
        for u in getattr(d, name).inputFiles()
    }
    live = {
        os.path.relpath(p, stage) for p in read_dirs
        if p.startswith(os.path.join(stage, ""))
    }
    current = _leaf_dirs(stage, run)
    kept = {d for r in _run_dirs(stage) for d in _leaf_dirs(stage, r)}
    assert kept == current | live
    assert live - current  # the input Domain reads the previous run's
    assert _run_dirs(stage) == set(runs)
    assert _leaf_dirs(stage, runs[0]) == {
        f"{runs[0]}/s4_billing_groups_fact/month=200001"
    }


def test_close_rewrites_no_untouched_month(spark, tmp_path, bootstrapped):
    """The fact is laid out one file per month, and a close reads and
    writes only its window's months: the bootstrap published one data
    file per month with no OPTIMIZE commit; after a chained close every
    fact file outside the window is one of the input Domain's files,
    unchanged on disk; and the s2-s4 fact checkpoints hold exactly the
    window's rows, s4's in one file."""
    import glob
    import os
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    from etl_loading_scripts_spark.operators import deltalog as dl

    dom, boot_dir = bootstrapped
    boot_fact = os.path.join(boot_dir, "publish", "fact_transaction")
    active, _, _ = dl._snapshot_state(
        boot_fact, _set_pins(os.path.join(boot_dir, "publish"))["fact_transaction"]
    )
    months = [a["partitionValues"]["month"] for a in active.values()]
    n_months = dom.fact_transaction.select(
        (F.col("datekey") / 100).cast("int")
    ).distinct().count()
    assert len(months) == len(set(months)) == n_months
    ops = {
        a["commitInfo"]["operation"]
        for v in dl._versions(boot_fact)
        for a in dl._read_actions(boot_fact, v)
        if "commitInfo" in a
    }
    assert "OPTIMIZE" not in ops

    def files(df) -> dict[str, tuple[int, int]]:
        paths = (urlparse(u).path for u in df.inputFiles())
        return {p: (os.stat(p).st_size, os.stat(p).st_mtime_ns) for p in paths}

    stage, _ = _warehouse_copy(boot_dir, tmp_path)
    before = files(dom.fact_transaction)
    out, _, _ = run_monthly_load_staged(spark, dom, CLOSE_WINDOW, stage)
    window_dir = f"/month={CLOSE_WINDOW[0] // 100}/"
    outside = {p: st for p, st in files(out.fact_transaction).items() if window_dir not in p}
    assert len(outside) == n_months - 1
    assert outside.items() <= before.items()

    n_window = dom.fact_transaction.filter(F.col("datekey").between(*CLOSE_WINDOW)).count()
    [run] = _run_dirs(stage)
    for ckpt in ("s2_patron_dims_fact", "s3_restaurant_map_fact", "s4_billing_groups_fact"):
        parts = glob.glob(os.path.join(stage, run, ckpt, "**", "*.parquet"), recursive=True)
        assert sum(pq.read_metadata(f).num_rows for f in parts) == n_window, ckpt
    assert len(glob.glob(os.path.join(stage, run, "s4_billing_groups_fact", "*", "*.parquet"))) == 1


def test_resumed_barriers_validate_like_observed_writes(spark, tmp_path, loaded):
    """A resumed barrier has no write to observe its validation on, so
    the runner aggregates over the read-back checkpoint instead. Resume
    a load whose stage-4/5 barriers were lost: s1-s3 validate by that
    fallback, s4-s5 by the observed rewrite, and every value equals both
    the fresh run's and a direct count over the barrier's parquet."""
    import os
    import shutil

    from etl_loading_scripts_spark.constants import (
        UNMAPPED_BILLING_GROUP_KEY,
        UNMAPPED_FINGERPRINT_ID,
    )

    dom, _, _, window = loaded
    d = str(tmp_path / "resume")
    _, metrics_fresh, _ = run_monthly_load_staged(
        spark, dom, window, d, publish=False
    )
    [run] = _run_dirs(d)
    run = os.path.join(d, run)
    for f in os.listdir(run):
        if f.startswith(("s4_", "s5_")):
            shutil.rmtree(os.path.join(run, f))
    _, metrics_resumed, report = run_monthly_load_staged(
        spark, dom, window, d, publish=False, resume=True
    )
    by_stage = {r["stage"]: r for r in report}
    assert by_stage["s3_restaurant_map"]["resumed"] == ["fact", "dim_restaurant"]
    assert "resumed" not in by_stage["s4_billing_groups"]
    assert metrics_resumed == metrics_fresh

    def barrier(name: str):
        return spark.read.parquet(os.path.join(run, name))

    def unmapped(name: str, col: str, sentinel: int) -> int:
        return barrier(name).filter(
            (F.col(col) == sentinel) & F.col("datekey").between(*window)
        ).count()

    assert metrics_resumed == {
        "stage1_unmapped_after": barrier("s1_fingerprint_map_staging_map")
        .filter(F.col("fingerprint_id").isNull())
        .count(),
        "stage2_unmapped_after": unmapped(
            "s2_patron_dims_fact", "patron_id", UNMAPPED_PATRON_ID
        ),
        "stage3_unmapped_restaurants": unmapped(
            "s3_restaurant_map_fact", "restaurant_key", UNMAPPED_RESTAURANT_KEY
        ),
        "stage3_unmapped_fingerprints": unmapped(
            "s3_restaurant_map_fact", "fingerprint_id", UNMAPPED_FINGERPRINT_ID
        ),
        "stage4_unmapped_after": unmapped(
            "s4_billing_groups_fact", "billing_group_key", UNMAPPED_BILLING_GROUP_KEY
        ),
        "stage5_bridge_rows": barrier("s5_bi_reporting_bridge").count(),
    }


@pytest.mark.soak
def test_staged_load_matches_unstaged(spark, tmp_path, loaded):
    """A publishing run of the staged runner reports every barrier plus
    the publish, repeats the fixture run's validation metrics, and
    commits the five outputs as set version 0 of a fresh warehouse,
    whose fact equals the returned fact on the columns the stages
    update."""
    from etl_loading_scripts_spark.operators.deltalog import (
        read_published_set_deltalog,
    )

    dom, _, metrics_ref, window = loaded
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
    pub = read_published_set_deltalog(spark, str(tmp_path / "staged" / "publish"))
    assert set(pub) == {
        "fact_transaction", "dim_patron", "dim_restaurant",
        "dim_billing_group", "pos_fingerprints",
    }
    cols = ["txn_id", "patron_id", "restaurant_key", "fingerprint_id",
            "billing_group_key"]
    a = sorted(map(tuple, pub["fact_transaction"].select(cols).collect()))
    b = sorted(map(tuple, out.fact_transaction.select(cols).collect()))
    assert a == b


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

    dom, _, metrics_ref, window = loaded
    d = str(tmp_path / "resume")
    _, metrics_full, _ = run_monthly_load_staged(spark, dom, window, d)
    assert metrics_full == metrics_ref
    # simulate a crash during stage 4: its outputs (and everything
    # after) never committed
    shutil.rmtree(os.path.join(d, "publish"))
    [run] = _run_dirs(d)
    run = os.path.join(d, run)
    for f in os.listdir(run):
        if f.startswith(("s4_", "s5_")):
            shutil.rmtree(os.path.join(run, f))
    mtimes_before = {
        f: os.path.getmtime(os.path.join(run, f, "_SUCCESS"))
        for f in os.listdir(run)
        if f.startswith(("s0_", "s1_", "s2_", "s3_"))
    }
    _, metrics_resumed, report = run_monthly_load_staged(
        spark, dom, window, d, resume=True
    )
    assert metrics_resumed == metrics_full
    # completed barriers were NOT rewritten
    for f, t in mtimes_before.items():
        assert os.path.getmtime(os.path.join(run, f, "_SUCCESS")) == t, f
    by_stage = {r["stage"]: r for r in report}
    assert set(by_stage["s0_domain"].get("resumed", [])) == {
        "raw", "fact", "dim_patron", "dim_restaurant",
        "pos_fingerprints", "dim_billing_group",
    }
    assert "resumed" in by_stage["s3_restaurant_map"]
    assert "resumed" not in by_stage["s4_billing_groups"]
    assert "resumed" not in by_stage["s5_bi_reporting"]
