"""foreachBatch streaming-upsert sink: stream → merge into a Delta dim."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_loading_scripts_spark.catalog import load_table
from etl_loading_scripts_spark.operators.deltalog import _all_versions, read_delta_table
from etl_loading_scripts_spark.streaming.sinks import foreach_batch_upsert


def _totals(df):
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
    )


def test_stream_merges_into_dimension(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    in_dir = str(tmp_path / "landing")
    events.filter(F.col("user_id") % 2 == 0).write.parquet(in_dir)
    target = str(tmp_path / "user_totals")

    stream = spark.readStream.schema(events.schema).parquet(in_dir)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_upsert(spark, target, on=["user_id"], transform=_totals)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    got = read_delta_table(spark, target)
    expected = _totals(events.filter(F.col("user_id") % 2 == 0))
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0

    # second micro-batch (the callback is exactly what foreachBatch would
    # invoke): overlapping keys update in place, new keys insert, untouched
    # keys survive — the reference's dim-maintenance MERGE, streaming
    callback = foreach_batch_upsert(spark, target, on=["user_id"], transform=_totals)
    batch2 = events.filter((F.col("user_id") % 2 == 1) | (F.col("user_id") == 0))
    callback(batch2, 1)

    final = read_delta_table(spark, target)
    odd_expected = _totals(batch2)
    # odd users + user 0 now reflect batch2; other even users still batch1
    assert final.filter(F.col("user_id") % 2 == 1).exceptAll(
        odd_expected.filter(F.col("user_id") % 2 == 1)
    ).count() == 0
    evens_before = expected.filter(F.col("user_id") != 0)
    assert final.join(evens_before.select("user_id"), "user_id").exceptAll(
        evens_before
    ).count() == 0
    # the first batch created the table, the second committed one merge
    assert _all_versions(target) == [0, 1]


def test_checkpoint_restart_processes_only_new_files(spark, sf_dir, tmp_path):
    """Stop/restart against the same checkpoint: the restarted stream must
    pick up ONLY files that arrived while it was down — the recovery
    semantics every production ingest depends on. Totals stay correct
    because each micro-batch merges once (checkpoint tracks progress;
    the merge itself is idempotent on replay after a crash mid-commit)."""
    events = load_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "totals")

    batch1 = events.filter(F.col("user_id") % 3 == 0)
    batch1.coalesce(1).write.parquet(str(in_dir / "f1"))

    def run_once():
        stream = spark.readStream.schema(events.schema).parquet(str(in_dir / "*"))
        q = (
            stream.writeStream.foreachBatch(
                foreach_batch_upsert(spark, target, on=["user_id"], transform=_totals)
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    after1 = {
        r["user_id"]: r["n_events"] for r in read_delta_table(spark, target).collect()
    }
    n_versions = len(_all_versions(target))

    # new data lands while the stream is DOWN
    batch2 = events.filter(F.col("user_id") % 3 == 1)
    batch2.coalesce(1).write.parquet(str(in_dir / "f2"))
    run_once()

    final = read_delta_table(spark, target)
    expected = _totals(events.filter(F.col("user_id") % 3 != 2))
    assert final.count() == expected.count()
    assert final.exceptAll(expected).count() == 0
    # restart did not reprocess f1: user-0-group totals unchanged, exactly once
    after2 = {r["user_id"]: r["n_events"] for r in final.collect()}
    for uid, n in after1.items():
        assert after2[uid] == n
    # the restart committed only its own micro-batch
    assert len(_all_versions(target)) == n_versions + 1


@pytest.mark.soak
def test_stateful_timeout_sessions_match_batch_sessionization(spark, sf_dir):
    """The EventTimeTimeout sessionizer must emit exactly the sessions the
    batch gap-sessionizer computes — same keys, counts, and integer-micro
    values — proving timeout-driven flushing loses/duplicates nothing."""
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.queries import REGISTRY

    stream = {
        (r["user_id"], r["session_seq"]): (r["session_start"], r["n_events"])
        for r in REGISTRY["stream_sessionize_timeout"].spark(spark, sf_dir).collect()
    }
    batch = {
        (r["user_id"], r["session_seq"]): (r["session_start"], r["n_events"])
        for r in REGISTRY["sessionize_events"].spark(spark, sf_dir).collect()
    }
    assert stream == batch


def test_transform_with_state_first_touch_matches_batch(spark, sf_dir):
    """transformWithState first-touch must equal the batch row_number()=1
    pick per (user, event_type) — exactly-once emission, no key lost."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl_loading_scripts_spark.catalog import load_table
    from etl_loading_scripts_spark.queries import REGISTRY

    got = {
        (r["user_id"], r["event_type"]): (r["first_ts_us"], r["first_event_id"])
        for r in REGISTRY["stream_first_touch"].spark(spark, sf_dir).collect()
    }
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    want = {
        (r["user_id"], r["event_type"]): (r["first_ts_us"], r["event_id"])
        for r in load_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .withColumn("first_ts_us", F.unix_micros("ts"))
        .collect()
    }
    assert got == want


def test_transform_with_state_gate_is_honest():
    """The TWS/classic path choice must track the actual protobuf
    availability (the gate must never hard-code an answer)."""
    from etl_loading_scripts_spark.streaming.stateful import (
        transform_with_state_available,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401

        have = True
    except ImportError:
        have = False
    assert transform_with_state_available() == have


def test_stream_source_dir_repairs_dangling_symlink(tmp_path):
    """ADVICE r2: a dangling link (testdata regenerated at a new path) must
    be repaired, not crash os.symlink with FileExistsError."""
    import os

    from etl_loading_scripts_spark.streaming.source_util import stream_source_dir

    src1 = tmp_path / "a.parquet"
    src1.write_bytes(b"x")
    d = stream_source_dir(str(src1), prefix=f"t_{tmp_path.name}")
    link = os.path.join(d, "events.parquet")
    assert os.path.realpath(link) == str(src1)
    # same target → reuse, no error
    assert stream_source_dir(str(src1), prefix=f"t_{tmp_path.name}") == d
    # now the target disappears: the link dangles
    src1.unlink()
    src2 = tmp_path / "b.parquet"
    src2.write_bytes(b"y")
    # hash-keyed dir differs per src, so force the collision the bug needs:
    # relink inside the same dir by calling with the old dir's prefix via a
    # src that hashes elsewhere is not possible — instead simulate directly
    os.remove(link)
    os.symlink(str(src1), link)  # dangling on purpose
    d2 = stream_source_dir(str(src1), prefix=f"t_{tmp_path.name}")
    assert d2 == d
    assert os.path.lexists(os.path.join(d2, "events.parquet"))
    # unique mode always gets a fresh dir
    u1 = stream_source_dir(str(src2), prefix=f"u_{tmp_path.name}", unique=True)
    u2 = stream_source_dir(str(src2), prefix=f"u_{tmp_path.name}", unique=True)
    assert u1 != u2


def test_stream_ewma_state_bounds(spark, sf_dir):
    """The recursive smoother stays inside each user's value envelope and
    counts every event exactly once (exactness vs the ordered fold is the
    DuckDB oracle's job)."""
    import duckdb

    from etl_loading_scripts_spark.catalog import table_path
    from etl_loading_scripts_spark.queries import REGISTRY

    rows = REGISTRY["stream_ewma_user_value"].spark(spark, sf_dir).collect()
    con = duckdb.connect()
    env = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            "SELECT user_id, COUNT(*), "
            "MIN(CAST(round(value*1000000) AS BIGINT)), "
            "MAX(CAST(round(value*1000000) AS BIGINT)) "
            f"FROM read_parquet('{table_path(sf_dir, 'events')}') GROUP BY user_id"
        ).fetchall()
    }
    assert {r["user_id"] for r in rows} == set(env)
    for r in rows:
        n, lo, hi = env[r["user_id"]]
        assert r["n_events"] == n
        # floor division can undershoot the envelope by at most 1 per step
        assert lo - 1 <= r["ewma_micros"] <= hi


def test_rocksdb_state_store_matches_default_provider(spark, sf_dir):
    """The RocksDB state store provider — the configuration that keeps
    streaming state off the executor heap when it outgrows memory (the
    100 TB stateful-streaming setting: per-key state spills to local
    SSD, snapshots to the checkpoint) — must produce byte-identical
    results to the default HDFS-backed provider for the engine's
    stateful operators. Runs the applyInPandasWithState running-totals
    query under both providers and compares full result sets."""
    from etl_loading_scripts_spark.queries import REGISTRY

    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)

    def run():
        rows = REGISTRY["stream_stateful_totals"].spark(spark, sf_dir).collect()
        return sorted(tuple(r) for r in rows)

    baseline = run()
    assert baseline, "stateful totals should emit rows"
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocks = run()
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    assert rocks == baseline


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path):
    """Genuine watermark semantics, not liveness: after the watermark
    passes a window's end (batch 1), append mode finalizes it; events
    for that window arriving in batch 2 are LATE and must be dropped —
    the finalized count never changes. This is the at-scale contract
    that bounds streaming state (state for closed windows is freed)."""
    import datetime as dt

    from pyspark.sql import functions as F

    land = str(tmp_path / "wm_landing")
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")

    # batch 1: 40 events in hour 0, 60 in hour 1 → watermark advances to
    # (t0 + 1:59) - 10min, finalizing the hour-0 window
    batch1 = [(i, t0 + dt.timedelta(minutes=int(i * 1.4)), 1.0) for i in range(40)]
    batch1 += [(100 + i, t0 + dt.timedelta(minutes=60 + i % 59), 1.0) for i in range(60)]
    mk(batch1).write.mode("overwrite").parquet(land)

    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(land)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = "wm_sink"
    q = (
        agg.writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
    )
    try:
        q.processAllAvailable()
        emitted = {
            r["w"]["start"].hour: r["n"]
            for r in spark.sql(f"SELECT * FROM {sink}").collect()
        }
        assert emitted == {0: 40}  # hour-0 finalized with exactly batch-1 rows

        # batch 2: 10 LATE events for hour 0 (behind the watermark) plus
        # 5 events in hour 2 that advance the watermark past hour 1
        batch2 = [(200 + i, t0 + dt.timedelta(minutes=30), 1.0) for i in range(10)]
        batch2 += [(300 + i, t0 + dt.timedelta(minutes=130 + i), 1.0) for i in range(5)]
        mk(batch2).write.mode("append").parquet(land)
        q.processAllAvailable()
        emitted = {
            r["w"]["start"].hour: r["n"]
            for r in spark.sql(f"SELECT * FROM {sink}").collect()
        }
        # hour-0 stays 40 (late rows dropped, never re-emitted);
        # hour-1 finalizes with its 60 on-time rows
        assert emitted == {0: 40, 1: 60}
    finally:
        q.stop()
