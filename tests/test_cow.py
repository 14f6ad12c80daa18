"""Month-grain copy-on-write mutations through the delta log.

The contract under test: a MERGE/DELETE against the month-partitioned
Delta fact commits ONE version that touches ONLY the affected months'
files — every other month's files stay referenced and byte-identical
(same names, sizes, mtimes) — with semantics equal to the join-based
``merge_upsert`` (the "own-oracle" strategy, reference shape
``P-SF:95-202``). Also here: the CDC bridge and the multi-table set
publish built on the same log, and the registry entries that exercise
them, hash-compared with their DuckDB oracles.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_loading_scripts_spark.operators.deltalog import (
    _all_versions,
    _snapshot_state,
    delete_delta,
    merge_cow_deltalog,
    publish_set_deltalog,
    read_delta_table,
    read_published_set_deltalog,
    vacuum_delta,
    vacuum_published_set,
    write_delta_table,
)
from etl_loading_scripts_spark.operators.mutations import merge_upsert
from etl_loading_scripts_spark.sources.io import MONTH_COL, with_month


def _write_fact(df, path: str) -> None:
    write_delta_table(with_month(df), path, partition_by=[MONTH_COL])


def _seed_table(spark, path: str):
    """Three months × three rows each; key unique within a month but
    REUSED across months (the realistic trap: a month-scoped merge must
    not reach a same-keyed row in another month)."""
    rows = [
        (k, 20240000 + m * 100 + 10 + k, float(100 * m + k))
        for m in (1, 2, 3)
        for k in (1, 2, 3)
    ]
    df = spark.createDataFrame(rows, "k BIGINT, datekey INT, amount DOUBLE")
    _write_fact(df, path)
    return df


def _rows(spark, path, version=None):
    return {
        (r.k, r.datekey, r.amount)
        for r in read_delta_table(spark, path, version=version)
        .select("k", "datekey", "amount")
        .collect()
    }


def _month_files(path: str) -> dict[int, list[tuple[str, int, int]]]:
    """{month: [(file, size bytes, mtime ns), …]} of the latest snapshot
    — the byte-level audit trail proving untouched months kept their
    files."""
    active, _, _ = _snapshot_state(path, None)
    out: dict[int, list[tuple[str, int, int]]] = {}
    for p, a in active.items():
        st = os.stat(os.path.join(path, p))
        out.setdefault(int(a["partitionValues"][MONTH_COL]), []).append(
            (p, st.st_size, st.st_mtime_ns)
        )
    return {m: sorted(v) for m, v in out.items()}


def test_merge_cow_rewrites_only_source_months(spark, tmp_path):
    path = str(tmp_path / "fact")
    _seed_table(spark, path)
    before = _month_files(path)

    # source touches ONLY month 202402: update k=1, insert k=9
    src = spark.createDataFrame(
        [(1, 20240215, 999.0), (9, 20240216, 555.0)],
        "k BIGINT, datekey INT, amount DOUBLE",
    )
    stats = merge_cow_deltalog(spark, path, src, on=["k"])
    assert stats["version"] == 1
    assert stats["months_rewritten"] == [202402]
    assert stats["months_emptied"] == []

    after = _month_files(path)
    # untouched months: byte-identical file listings (names, sizes, mtimes)
    assert after[202401] == before[202401]
    assert after[202403] == before[202403]
    assert after[202402] != before[202402]

    got = _rows(spark, path)
    want = {
        # month 1 and 3 untouched — including k=1 rows with the same key
        (1, 20240111, 101.0), (2, 20240112, 102.0), (3, 20240113, 103.0),
        (1, 20240215, 999.0),  # updated (datekey is an update_col too)
        (2, 20240212, 202.0), (3, 20240213, 203.0),
        (9, 20240216, 555.0),  # inserted
        (1, 20240311, 301.0), (2, 20240312, 302.0), (3, 20240313, 303.0),
    }
    assert got == want


def test_merge_cow_month_scoped_sync_matches_merge_upsert(spark, tmp_path):
    """delete_unmatched_source syncs WITHIN the source's months only, and
    the month slice's end state is bit-identical to the join-based
    merge_upsert run on that slice (the own-oracle check)."""
    path = str(tmp_path / "fact")
    seed = _seed_table(spark, path)

    src = spark.createDataFrame(
        [(2, 20240212, 777.0)], "k BIGINT, datekey INT, amount DOUBLE"
    )
    merge_cow_deltalog(spark, path, src, on=["k"], delete_unmatched_source=True)

    month2 = seed.filter((F.col("datekey") / 100).cast("int") == 202402)
    expect2 = {
        (r.k, r.datekey, r.amount)
        for r in merge_upsert(
            month2, src, ["k"], delete_unmatched_source=True
        ).collect()
    }
    got = _rows(spark, path)
    got2 = {t for t in got if t[1] // 100 == 202402}
    assert got2 == expect2 == {(2, 20240212, 777.0)}
    # other months fully present: the sync did not leak outside its window
    assert len(got) == 6 + 1


def test_delete_cow_removes_emptied_partition(spark, tmp_path):
    path = str(tmp_path / "fact")
    _seed_table(spark, path)

    # purge: all of month 202401, plus k=3 everywhere (a GDPR-style sweep)
    stats = delete_delta(
        spark,
        path,
        ((F.col("datekey") / 100).cast("int") == 202401) | (F.col("k") == 3),
    )
    assert stats["version"] == 1
    assert stats["rows_deleted"] == 5

    # the emptied month keeps no active file in the new version
    assert sorted(_month_files(path)) == [202402, 202403]
    got = _rows(spark, path)
    assert got == {
        (1, 20240211, 201.0), (2, 20240212, 202.0),
        (1, 20240311, 301.0), (2, 20240312, 302.0),
    }


def test_delete_cow_month_scoped_leaves_other_months_untouched(spark, tmp_path):
    path = str(tmp_path / "fact")
    _seed_table(spark, path)
    before = _month_files(path)

    stats = delete_delta(
        spark, path, (F.col("k") == 1) & (F.col(MONTH_COL) == 202402)
    )
    assert stats["rows_deleted"] == 1
    after = _month_files(path)
    assert after[202401] == before[202401]
    assert after[202403] == before[202403]
    # k=1 survives in the months outside the window
    ks = {(t[0], t[1] // 100) for t in _rows(spark, path)}
    assert (1, 202401) in ks and (1, 202403) in ks and (1, 202402) not in ks


def test_merge_cow_empty_source_is_noop(spark, tmp_path):
    path = str(tmp_path / "fact")
    _seed_table(spark, path)
    before = _month_files(path)
    src = spark.createDataFrame([], "k BIGINT, datekey INT, amount DOUBLE")
    stats = merge_cow_deltalog(spark, path, src, on=["k"])
    assert stats["version"] is None
    assert stats["months_rewritten"] == [] and stats["months_emptied"] == []
    assert _all_versions(path) == [0]  # no commit at all
    assert _month_files(path) == before


def _changelog_state(spark, path):
    return {
        (r.event_id, r.datekey, str(r.value))
        for r in read_delta_table(spark, path)
        .select("event_id", "datekey", "value")
        .collect()
    }


def test_cdc_batch_split_invariance(spark, tmp_path, sf_dir):
    """Applying the changelog as ONE batch or as TWO disjoint batches
    reaches the identical table — the exactly-once story of the CDC
    bridge rests on per-key idempotence, not on batch boundaries."""
    from etl_loading_scripts_spark.catalog import load_table
    from etl_loading_scripts_spark.streaming.cdc_bridge import (
        _event_changelog,
        apply_changelog_batch,
    )

    events = load_table(spark, sf_dir, "events").limit(300)
    seed = (
        _event_changelog(events)
        .filter(F.col("event_id") % 3 != 0)
        .withColumn("value", F.lit(0).cast("decimal(18,6)"))
    )

    paths = [str(tmp_path / "one"), str(tmp_path / "two")]
    for p in paths:
        _write_fact(seed, p)

    apply_changelog_batch(spark, paths[0], events)
    apply_changelog_batch(spark, paths[1], events.filter(F.col("event_id") % 2 == 0))
    apply_changelog_batch(spark, paths[1], events.filter(F.col("event_id") % 2 != 0))

    s1, s2 = _changelog_state(spark, paths[0]), _changelog_state(spark, paths[1])
    assert s1 == s2
    assert len(s1) == 300  # every event healed or inserted exactly once
    # each batch is one Delta version on top of the seed
    assert _all_versions(paths[0]) == [0, 1]
    assert _all_versions(paths[1]) == [0, 1, 2]


def test_merge_cow_multi_month_source_matches_per_month(spark, tmp_path):
    """A source spanning TWO months where the same natural key lives in
    both: each source row must match only its own month's target row.
    (Regression: joining on the bare key over the month-union slice let
    one source row update same-keyed rows in other affected months.)"""
    path = str(tmp_path / "fact")
    _seed_table(spark, path)

    src = spark.createDataFrame(
        [(1, 20240111, 111.0), (1, 20240211, 222.0)],
        "k BIGINT, datekey INT, amount DOUBLE",
    )
    stats = merge_cow_deltalog(spark, path, src, on=["k"])
    assert stats["months_rewritten"] == [202401, 202402]

    got = _rows(spark, path)
    want = {
        (1, 20240111, 111.0), (2, 20240112, 102.0), (3, 20240113, 103.0),
        (1, 20240211, 222.0), (2, 20240212, 202.0), (3, 20240213, 203.0),
        (1, 20240311, 301.0), (2, 20240312, 302.0), (3, 20240313, 303.0),
    }
    assert got == want


def test_merge_cow_source_schema_drift(spark, tmp_path):
    """A source with an extra column (dropped) and a missing column
    (insert_defaults fills inserts; updates keep the target value)."""
    path = str(tmp_path / "fact")
    _seed_table(spark, path)
    src = spark.createDataFrame(
        [(1, 20240215, "noise"), (9, 20240216, "noise")],
        "k BIGINT, datekey INT, junk STRING",
    )
    merge_cow_deltalog(
        spark,
        path,
        src,
        on=["k"],
        insert_defaults={"amount": F.lit(-1.0)},
    )
    got = {t for t in _rows(spark, path) if t[1] // 100 == 202402}
    assert got == {
        (1, 20240215, 201.0),  # updated datekey, amount preserved
        (2, 20240212, 202.0), (3, 20240213, 203.0),
        (9, 20240216, -1.0),  # inserted with the default
    }


def test_cdc_stream_multi_batch_real_streaming(spark, tmp_path, sf_dir):
    """The CDC bridge through REAL multi-batch streaming: events split
    into three parquet files, maxFilesPerTrigger=1 forces three
    micro-batches through foreachBatch, and the healed table equals the
    single-batch application."""
    from etl_loading_scripts_spark.catalog import load_table
    from etl_loading_scripts_spark.streaming.cdc_bridge import (
        _event_changelog,
        apply_changelog_batch,
    )

    events = load_table(spark, sf_dir, "events").limit(300).cache()
    seed = (
        _event_changelog(events)
        .filter(F.col("event_id") % 3 != 0)
        .withColumn("value", F.lit(0).cast("decimal(18,6)"))
    )

    # split the changelog into 3 files for the stream source
    src_dir = str(tmp_path / "stream_src")
    events.withColumn(
        "__split__", (F.col("event_id") % 3).cast("int")
    ).repartitionByRange(3, "__split__").drop("__split__").write.parquet(src_dir)

    streamed = str(tmp_path / "streamed")
    reference = str(tmp_path / "reference")
    for p in (streamed, reference):
        _write_fact(seed, p)

    n_batches = []
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    q = (
        stream.writeStream.foreachBatch(
            lambda b, eid: (
                n_batches.append(eid),
                apply_changelog_batch(spark, streamed, b),
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(n_batches) >= 2, f"expected multiple micro-batches, got {n_batches}"

    apply_changelog_batch(spark, reference, events)

    assert _changelog_state(spark, streamed) == _changelog_state(spark, reference)
    assert len(_changelog_state(spark, streamed)) == 300
    events.unpersist()


def test_merge_cow_recovers_from_stale_staging(spark, tmp_path):
    """A crashed prior run leaves staged-but-uncommitted files behind (a
    ``.staging-*`` dir and an orphan data file inside a month dir): the
    next merge ignores them and commits cleanly, readers never see the
    orphan, and vacuum_delta sweeps the debris."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "fact")
    _seed_table(spark, path)
    stale = os.path.join(path, ".staging-dead", f"{MONTH_COL}=202402")
    os.makedirs(stale)
    with open(os.path.join(stale, "junk.parquet"), "w") as fh:
        fh.write("not parquet")
    orphan = os.path.join(path, f"{MONTH_COL}=202402", "part-orphan.parquet")
    pq.write_table(
        pa.table({
            "k": pa.array([7], pa.int64()),
            "datekey": pa.array([20240217], pa.int32()),
            "amount": pa.array([777.0], pa.float64()),
        }),
        orphan,
    )

    src = spark.createDataFrame(
        [(1, 20240215, 999.0)], "k BIGINT, datekey INT, amount DOUBLE"
    )
    stats = merge_cow_deltalog(spark, path, src, on=["k"])
    assert stats["months_rewritten"] == [202402]
    got = {t for t in _rows(spark, path) if t[1] // 100 == 202402}
    assert got == {(1, 20240215, 999.0), (2, 20240212, 202.0), (3, 20240213, 203.0)}

    removed = vacuum_delta(path, staging_retention_sec=0)
    assert not os.path.exists(orphan)
    assert not os.path.exists(os.path.join(path, ".staging-dead"))
    assert any("part-orphan.parquet" in r for r in removed)
    assert _rows(spark, path) == _rows(spark, path, version=stats["version"])


class _Crash(RuntimeError):
    pass


def _crash():
    raise _Crash("writer died before its commit")


def test_crash_with_incomplete_staging_rolls_back(spark, tmp_path):
    """The writer dies while staging (a half-written staging dir holding
    the new month, no commit): no version references it, so a reader
    sees the complete OLD month — the crash rolls back by construction;
    a retry of the merge then re-does the mutation as the next version."""
    path = str(tmp_path / "fact")
    _seed_table(spark, path)
    old = _rows(spark, path)
    src = spark.createDataFrame(
        [(1, 20240215, 999.0)], "k BIGINT, datekey INT, amount DOUBLE"
    )
    with_month(src).write.partitionBy(MONTH_COL).parquet(
        os.path.join(path, ".staging-crashed")
    )
    os.remove(os.path.join(path, ".staging-crashed", "_SUCCESS"))
    assert _all_versions(path) == [0]
    assert _rows(spark, path) == old

    stats = merge_cow_deltalog(spark, path, src, on=["k"])
    assert stats["version"] == 1
    got = {t for t in _rows(spark, path) if t[1] // 100 == 202402}
    assert got == {(1, 20240215, 999.0), (2, 20240212, 202.0), (3, 20240213, 203.0)}


def test_crash_after_commit_before_cleanup_drops_parked_old(spark, tmp_path):
    """Once the commit lands the new month is live even if the writer
    dies right after: the old month's files are only PARKED (removed
    from the snapshot, still on disk for time travel), and vacuum_delta
    drops them once they fall out of the keep window."""
    path = str(tmp_path / "fact")
    _seed_table(spark, path)
    old_files = [p for p, _, _ in _month_files(path)[202402]]
    src = spark.createDataFrame(
        [(1, 20240215, 999.0)], "k BIGINT, datekey INT, amount DOUBLE"
    )
    merge_cow_deltalog(spark, path, src, on=["k"])
    assert all(os.path.exists(os.path.join(path, p)) for p in old_files)
    got = {t for t in _rows(spark, path) if t[1] // 100 == 202402}
    assert (1, 20240215, 999.0) in got and (1, 20240211, 201.0) not in got
    assert (1, 20240211, 201.0) in _rows(spark, path, version=0)

    live = _rows(spark, path)
    vacuum_delta(path, keep_versions=1, staging_retention_sec=0)
    assert not any(os.path.exists(os.path.join(path, p)) for p in old_files)
    assert _rows(spark, path) == live


def test_next_merge_auto_recovers_crash_state(spark, tmp_path):
    """A merge issued AFTER a crashed one (staged files, no commit) needs
    no recovery step: it merges from the last committed version, and the
    dead merge's staged rows never surface."""
    path = str(tmp_path / "fact")
    _seed_table(spark, path)
    dead = spark.createDataFrame(
        [(1, 20240215, 999.0)], "k BIGINT, datekey INT, amount DOUBLE"
    )
    with pytest.raises(_Crash):
        merge_cow_deltalog(spark, path, dead, on=["k"], _pre_commit_hook=_crash)

    src = spark.createDataFrame(
        [(9, 20240216, 555.0)], "k BIGINT, datekey INT, amount DOUBLE"
    )
    stats = merge_cow_deltalog(spark, path, src, on=["k"])
    assert stats["version"] == 1
    assert stats["months_rewritten"] == [202402]
    got = {t for t in _rows(spark, path) if t[1] // 100 == 202402}
    assert got == {
        (1, 20240211, 201.0), (2, 20240212, 202.0), (3, 20240213, 203.0),
        (9, 20240216, 555.0),
    }


def test_merge_cow_quarter_rewrites_only_three_months(spark, tmp_path, sf_dir):
    """A quarterly restatement over the real orders fact (80 month
    partitions at this sf) rewrites EXACTLY the quarter's 3 partitions
    — all others byte-identical (names, sizes, mtimes)."""
    from etl_loading_scripts_spark.queries.cow_queries import _order_fact

    path = str(tmp_path / "fact")
    base = _order_fact(spark, sf_dir)
    _write_fact(base, path)
    before = _month_files(path)
    assert len(before) >= 12  # plenty of untouched months in the fixture

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
    src = base.filter(yq == busiest_q).filter(F.col("k") % 3 == 0).withColumn(
        "price", (F.col("price") * 3).cast("decimal(18,4)")
    )
    stats = merge_cow_deltalog(spark, path, src, on=["k"])

    after = _month_files(path)
    assert len(stats["months_rewritten"]) == 3
    assert stats["months_emptied"] == []
    untouched = [m for m in before if m not in stats["months_rewritten"]]
    assert len(untouched) == len(before) - 3
    for m in untouched:
        assert after[m] == before[m], f"month {m} should be byte-identical"
    for m in stats["months_rewritten"]:
        assert after[m] != before[m]


# ---------------------------------------------------------------------------
# Multi-table atomic publish set (O10 closed — reference P-SF transaction)
# ---------------------------------------------------------------------------


def _two_tables(spark, tag: int):
    dim = spark.createDataFrame(
        [(k, f"dim{tag}_{k}") for k in range(5)], "k BIGINT, name STRING"
    )
    fact = spark.createDataFrame(
        [(k, tag * 100 + k) for k in range(20)], "k BIGINT, v BIGINT"
    )
    return {"dim": dim, "fact": fact}


def _set_snapshot(spark, base, version=None):
    tables = read_published_set_deltalog(spark, base, version)
    return {
        name: {tuple(r) for r in df.collect()} for name, df in tables.items()
    }


def test_publish_set_roundtrip_and_pinning(spark, tmp_path):
    base = str(tmp_path / "set")
    v1 = publish_set_deltalog(_two_tables(spark, 1), base)
    v2 = publish_set_deltalog(_two_tables(spark, 2), base)
    assert (v1, v2) == (0, 1)
    latest = read_published_set_deltalog(spark, base)
    assert {r.v for r in latest["fact"].collect()} == {200 + k for k in range(20)}
    pinned = read_published_set_deltalog(spark, base, version=v1)
    assert {r.v for r in pinned["fact"].collect()} == {100 + k for k in range(20)}
    with pytest.raises(ValueError, match="set version 9"):
        read_published_set_deltalog(spark, base, version=9)


def test_publish_set_crash_never_tears_cross_table(spark, tmp_path):
    """The O10 guarantee: a crash at ANY point of publish N+1 leaves a
    reader seeing set N for EVERY table — never a mixed set."""
    base = str(tmp_path / "set")
    publish_set_deltalog(_two_tables(spark, 1), base)
    want = _set_snapshot(spark, base)

    t2 = _two_tables(spark, 2)
    # crash A: first table of set 2 committed, second never started
    write_delta_table(t2["dim"], os.path.join(base, "dim"))
    assert _set_snapshot(spark, base) == want
    # crash B: every table committed, coordinator commit never made
    write_delta_table(t2["fact"], os.path.join(base, "fact"))
    assert _set_snapshot(spark, base) == want
    # a retry after either crash commits the whole next set
    v = publish_set_deltalog(_two_tables(spark, 3), base)
    assert v == 1
    got = _set_snapshot(spark, base)
    assert {r[1] for r in got["fact"]} == {300 + k for k in range(20)}
    assert all(name.startswith("dim3_") for _, name in got["dim"])


def test_publish_set_incomplete_table_write_is_refused(spark, tmp_path):
    """A set whose table lost the commit the set pins (tampering /
    partial restore) must refuse, not serve a torn table."""
    base = str(tmp_path / "set")
    publish_set_deltalog(_two_tables(spark, 1), base)
    os.remove(os.path.join(base, "fact", "_delta_log", f"{0:020d}.json"))
    with pytest.raises(FileNotFoundError, match="no log"):
        read_published_set_deltalog(spark, base)


def test_vacuum_set_versions_pins_pointer_and_sweeps_debris(spark, tmp_path):
    """Set retention keeps the newest sets readable and retires older
    ones; an orphan table version from a crashed publish (newer than
    any set) survives, and the latest set still serves."""
    base = str(tmp_path / "set")
    for tag in (1, 2, 3, 4):
        publish_set_deltalog(_two_tables(spark, tag), base)
    # debris: set 5 crashed after committing its dim table
    write_delta_table(_two_tables(spark, 5)["dim"], os.path.join(base, "dim"))
    rep = vacuum_published_set(base, keep_sets=2, staging_retention_sec=0)
    assert rep["sets_retired"] == [0, 1]
    latest = _set_snapshot(spark, base)
    assert all(name.startswith("dim4_") for _, name in latest["dim"])
    kept = _set_snapshot(spark, base, version=2)
    assert {r[1] for r in kept["fact"]} == {300 + k for k in range(20)}
    orphan = read_delta_table(spark, os.path.join(base, "dim"))
    assert {r.name for r in orphan.collect()} == {f"dim5_{k}" for k in range(5)}


@pytest.mark.soak
def test_publish_monthly_set_commits_all_outputs_atomically(spark, sf_dir, tmp_path):
    """End-to-end: the monthly load's five outputs commit as one set and
    read back transactionally consistent (RI holds within the set)."""
    from etl_loading_scripts_spark.operators.quality import (
        referential_integrity_check,
    )
    from etl_loading_scripts_spark.pipeline.domain import build_domain, full_window
    from etl_loading_scripts_spark.pipeline.staged import run_monthly_load_staged

    dom = build_domain(spark, sf_dir)
    stage_dir = str(tmp_path / "stage")
    _out, _metrics, report = run_monthly_load_staged(
        spark, dom, full_window(dom), stage_dir
    )
    tables = read_published_set_deltalog(spark, os.path.join(stage_dir, "publish"))
    assert set(tables) == {
        "fact_transaction",
        "dim_patron",
        "dim_restaurant",
        "dim_billing_group",
        "pos_fingerprints",
    }
    assert report[-1]["set_version"] == 0
    assert (
        referential_integrity_check(
            tables["fact_transaction"].filter(
                F.col("unique_patron_id").isNotNull()
            ),
            tables["dim_patron"],
            "unique_patron_id",
            "patron_id",
        )
        == 0
    )


# ---------------------------------------------------------------------------
# The registry entries that commit through the delta log, against DuckDB
# ---------------------------------------------------------------------------

_DELTA_LOG_ENTRIES = [
    "merge_cow_month",
    "merge_cow_quarter",
    "delete_cow_purge",
    "compact_small_files",
    "publish_set_atomic",
    "stream_cdc_merge_cow",
    "monthly_load_e2e",
    "monthly_load_partitioned_e2e",
]


@pytest.fixture(scope="module")
def oracle(sf_dir):
    import duckdb

    from etl_loading_scripts_spark.catalog import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _DELTA_LOG_ENTRIES)
def test_delta_log_entry_matches_oracle(spark, sf_dir, oracle, name):
    """Row count, column names and order-insensitive value hash of the
    entry equal its DuckDB oracle's (the sweep's comparison)."""
    from etl_loading_scripts_spark.queries import REGISTRY
    from tools.check_correctness import _canon

    q = REGISTRY[name]
    assert _canon(q.spark(spark, sf_dir)) == _canon(oracle.execute(q.oracle).fetchdf())
