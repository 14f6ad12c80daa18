"""Unit tests for the mutation primitives (SURVEY §1.3, §4, M2).

Each test encodes an invariant the reference relies on operationally
(SURVEY §5): insert-if-absent idempotence, sentinel-guarded updates touching
only unmapped rows, merge delete-guards protecting sentinel rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_loading_scripts_spark.operators import (
    allocate_surrogate_keys,
    anti_not_in,
    delete_where,
    insert_if_absent,
    merge_upsert,
    or_join,
    top1_per_group,
    update_from_join,
)


def _rows(df, *cols):
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple((x is not None, x) for x in t),
    )


def test_insert_if_absent_appends_only_new_and_is_idempotent(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    source = spark.createDataFrame([(2, "B"), (3, "c"), (3, "c2")], ["k", "v"])
    out = insert_if_absent(target, source, on=["k"])
    assert _rows(out, "k") == [(1,), (2,), (3,)]
    # existing key 2 keeps the target's value
    assert dict(_rows(out, "k", "v"))[2] == "b"
    # idempotent: re-run is a no-op
    again = insert_if_absent(out, source, on=["k"])
    assert _rows(again, "k", "v") == _rows(out, "k", "v")


def test_update_from_join_sentinel_guard(spark):
    # fact with sentinel restaurant_key=0 meaning unmapped (R3); only those
    # rows may be rewritten (S4:102 'prevention of overwriting existing data')
    fact = spark.createDataFrame(
        [(100, 1, 0), (101, 1, 7), (102, 2, 0), (103, 9, 0)],
        ["txn", "site", "restaurant_key"],
    )
    mapping = spark.createDataFrame([(1, 11), (2, 22)], ["site", "rk"])
    out = update_from_join(
        fact,
        mapping,
        on=["site"],
        set_cols={"restaurant_key": "rk"},
        guard=F.col("restaurant_key") == 0,
    )
    got = dict(_rows(out, "txn", "restaurant_key"))
    assert got == {100: 11, 101: 7, 102: 22, 103: 0}


def test_update_from_join_is_deterministic_on_1_to_n(spark):
    # R6: 1:N mapping resolved rank-1 by explicit order, not arbitrarily
    fact = spark.createDataFrame([(1, 1, None)], "txn long, site long, k long")
    mapping = spark.createDataFrame(
        [(1, 5, "2024-01-01"), (1, 9, "2024-06-01")], ["site", "k2", "updated"]
    )
    out = update_from_join(
        fact,
        mapping,
        on=["site"],
        set_cols={"k": "k2"},
        mapping_order=[F.col("updated").desc()],
    )
    assert out.collect()[0]["k"] == 9
    assert out.count() == 1  # no row explosion


def test_merge_upsert_full_sync_with_delete_guard(spark):
    # P-SF:95-202: matched -> update, new -> insert, absent-from-source ->
    # delete EXCEPT protected rows (P-SF:201-202)
    target = spark.createDataFrame(
        [(1, "stale", "n"), (2, "keep-del", "n"), (0, "protected", "y")],
        ["k", "v", "prot"],
    )
    source = spark.createDataFrame([(1, "fresh"), (3, "new")], ["k", "v"])
    out = merge_upsert(
        target,
        source,
        on=["k"],
        update_cols=["v"],
        delete_unmatched_source=True,
        delete_guard=F.col("prot") == "y",
        insert_defaults={"prot": F.lit("n")},
    )
    assert _rows(out, "k", "v") == [(0, "protected"), (1, "fresh"), (3, "new")]


def test_merge_upsert_update_only_when_changed(spark):
    # P-SF:55-62: WHEN MATCHED AND (cols differ) THEN UPDATE
    target = spark.createDataFrame([(1, "same", 10), (2, "old", 20)], ["k", "v", "aud"])
    source = spark.createDataFrame([(1, "same"), (2, "new")], ["k", "v"])
    from etl_loading_scripts_spark.operators.mutations import src_col

    src_prefixed_differs = src_col("v") != F.col("v")
    out = merge_upsert(
        target,
        source,
        on=["k"],
        update_cols=["v"],
        update_condition=src_prefixed_differs,
    )
    assert _rows(out, "k", "v", "aud") == [(1, "same", 10), (2, "new", 20)]


def test_delete_where_keeps_nulls(spark):
    df = spark.createDataFrame([(1, 2), (2, 1), (3, None)], ["k", "rank"])
    out = delete_where(df, F.col("rank") != 1)
    assert _rows(out, "k") == [(2,), (3,)]


def test_allocate_surrogate_keys_offsets_from_max(spark):
    existing = spark.createDataFrame([(10, "a")], ["bg_key", "name"])
    new = spark.createDataFrame([("z",), ("m",)], ["name"]).withColumn(
        "bg_key", F.lit(None).cast("long")
    )
    out = allocate_surrogate_keys(new, existing, "bg_key", order_by=["name"])
    assert _rows(out, "name", "bg_key") == [("m", 11), ("z", 12)]


def test_allocate_surrogate_keys_auto_routes_to_partitioned(spark):
    """Above max_window_rows the default allocator must switch to the
    range-bucketed path (no single-partition window sort) and still assign
    the IDENTICAL keys as the window idiom (VERDICT r2 item 5)."""
    existing = spark.createDataFrame([(100, "x")], ["sk", "nk"])
    new = spark.createDataFrame(
        [(None, f"n{i:04d}") for i in range(300)], "sk long, nk string"
    )
    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    pinned = allocate_surrogate_keys(
        new, existing, "sk", ["nk"], max_window_rows=None
    )
    routed = allocate_surrogate_keys(
        new, existing, "sk", ["nk"], max_window_rows=50
    )
    assert "SinglePartition" in plan_of(pinned)  # the window idiom
    assert "SinglePartition" not in plan_of(routed)  # auto-routed
    assert {(r.nk, r.sk) for r in routed.collect()} == {
        (r.nk, r.sk) for r in pinned.collect()
    }


def test_or_join_matches_union_of_disjuncts(spark):
    left = spark.createDataFrame(
        [(1, "ALPHA", "x"), (2, "beta", "BETA-CO"), (3, "nope", "none")],
        ["id", "name", "legal"],
    )
    right = spark.createDataFrame([("ALPHA", 100), ("BETA-CO", 200)], ["gname", "gkey"])
    out = or_join(
        left,
        right,
        key_pairs=[
            (F.col("name"), F.col("gname")),
            (F.col("legal"), F.col("gname")),
        ],
    )
    assert _rows(out, "id", "gkey") == [(1, 100), (2, 200)]


def test_anti_not_in_handles_null_subquery(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    right = spark.createDataFrame([(1, ), (None,)], ["rk"])
    out = anti_not_in(left, right, "k", "rk")
    assert _rows(out, "k") == [(2,), (3,)]


def test_top1_per_group(spark):
    df = spark.createDataFrame(
        [("s1", "2024-01-01", 1), ("s1", "2024-02-01", 2), ("s2", "2024-01-01", 3)],
        ["site", "dt", "id"],
    )
    out = top1_per_group(df, ["site"], [F.col("dt").desc()])
    assert _rows(out, "site", "id") == [("s1", 2), ("s2", 3)]


def test_allocate_surrogate_keys_partitioned_matches_global(spark):
    from etl_loading_scripts_spark.operators import (
        allocate_surrogate_keys_partitioned,
    )

    existing = spark.createDataFrame([(100, "x")], ["sk", "nk"])
    new = spark.createDataFrame(
        [(None, f"n{i:04d}") for i in range(500)], "sk long, nk string"
    )
    want = {
        (r.nk, r.sk)
        for r in allocate_surrogate_keys(new, existing, "sk", ["nk"]).collect()
    }
    got1 = {
        (r.nk, r.sk)
        for r in allocate_surrogate_keys_partitioned(
            new, existing, "sk", ["nk"], num_partitions=7
        ).collect()
    }
    got2 = {
        (r.nk, r.sk)
        for r in allocate_surrogate_keys_partitioned(
            new, existing, "sk", ["nk"], num_partitions=7
        ).collect()
    }
    assert got1 == want  # identical keys to the global-window idiom
    assert got1 == got2  # deterministic across re-runs
    keys = sorted(k for _, k in got1)
    assert keys == list(range(101, 601))  # dense, gap-free, starts past MAX


def test_global_ntile_matches_window_ntile(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from etl_loading_scripts_spark.operators import global_ntile

    # 103 rows / 10 tiles exercises the uneven-remainder rule (3 big tiles)
    df = spark.createDataFrame([(i, (i * 37) % 103) for i in range(103)], ["k", "v"])
    want = {
        (r.k, r.t)
        for r in df.withColumn(
            "t", F.ntile(10).over(Window.orderBy("v", "k"))
        ).collect()
    }
    got = {
        (r.k, r.tile)
        for r in global_ntile(df, 10, ["v", "k"], num_partitions=6).collect()
    }
    assert got == want


def test_global_rank_survives_cache_loss_between_passes(spark):
    """r15 (VERDICT r14 what's-wrong #2): the rank design derives
    per-partition offsets from ONE stats pass over the persisted range
    exchange, then ranks by partition-local sort — correctness rests on
    a recomputed cache partition landing IDENTICAL contents. This
    simulates total cache loss between the passes (executor-loss shape:
    every cached partition evicted, lineage re-executed — including the
    range exchange) and asserts the ranks are still exactly the sorted
    sequence. Holds because the RangePartitioner's bounds are sampled
    once per plan instance and held on the shuffle dependency — a
    recompute reuses the SAME bounds, it never re-samples (the
    InMemoryRelation recomputes through its original cached plan)."""
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.operators import global_row_number

    df = spark.createDataFrame(
        [(i, (i * 37) % 1009) for i in range(1009)], ["k", "v"]
    )
    ranked = global_row_number(df, ["v", "k"], "rn", num_partitions=7)
    # offsets are already computed (the stats pass ran inside the call);
    # now drop EVERY cached partition before the ranking pass executes
    spark.catalog.clearCache()
    got = {(r.v, r.k): r.rn for r in ranked.collect()}
    want = {
        (v, k): i + 1
        for i, (v, k) in enumerate(
            sorted((r.v, r.k) for r in df.collect())
        )
    }
    assert got == want
    # and the frame stays self-consistent on a SECOND action after the
    # loss (same recompute path, same bounds)
    assert ranked.filter(F.col("rn") == 1).count() == 1


def test_global_ntile_fewer_rows_than_buckets(spark):
    from etl_loading_scripts_spark.operators import global_ntile

    df = spark.createDataFrame([(i,) for i in range(4)], ["k"])
    got = sorted(
        (r.k, r.tile) for r in global_ntile(df, 10, ["k"], num_partitions=3).collect()
    )
    assert got == [(0, 1), (1, 2), (2, 3), (3, 4)]


def test_insert_if_absent_null_keys_are_idempotent(spark):
    target = spark.createDataFrame([(1, "a")], ["k", "v"])
    source = spark.createDataFrame([(None, "n"), (2, "b")], "k int, v string")
    out = insert_if_absent(target, source, on=["k"])
    assert _rows(out, "k", "v") == [(None, "n"), (1, "a"), (2, "b")]
    # the NULL-keyed row is NOT re-appended on a re-run (ADVICE r1)
    again = insert_if_absent(out, source, on=["k"])
    assert _rows(again, "k", "v") == _rows(out, "k", "v")


def test_merge_upsert_null_keys_survive_full_sync(spark):
    """A NULL-keyed target row null-safe-matches a NULL-keyed source row:
    it must be updated in place — not deleted, not ghost-duplicated
    (ADVICE r1)."""
    target = spark.createDataFrame([(None, "old"), (1, "a")], "k int, v string")
    source = spark.createDataFrame([(None, "new"), (2, "b")], "k int, v string")
    out = merge_upsert(target, source, on=["k"], delete_unmatched_source=True)
    assert _rows(out, "k", "v") == [(None, "new"), (2, "b")]


def test_merge_upsert_null_source_key_inserts_source_values(spark):
    """A NULL-keyed source row with no NULL-keyed target row is an insert
    carrying SOURCE values, not a ghost row of nulled target columns."""
    target = spark.createDataFrame([(1, "a")], "k int, v string")
    source = spark.createDataFrame([(None, "n")], "k int, v string")
    out = merge_upsert(target, source, on=["k"])
    assert _rows(out, "k", "v") == [(None, "n"), (1, "a")]


def test_scd2_apply_versions_and_is_idempotent(spark):
    from etl_loading_scripts_spark.operators import scd2_apply

    dim = spark.createDataFrame(
        [(1, "A", 20240101, 99991231, True),
         (1, "OLD", 20230101, 20240101, False),
         (2, None, 20240101, 99991231, True)],
        "k int, attr string, valid_from int, valid_to int, is_current boolean",
    )
    changes = spark.createDataFrame(
        [(1, "B"), (2, None), (3, "C")], "k int, attr string"
    )
    out = scd2_apply(dim, changes, on=["k"], tracked=["attr"], effective_datekey=20240601)
    rows = sorted((r.k, r.attr, r.valid_from, r.valid_to, r.is_current) for r in out.collect())
    assert rows == [
        (1, "A", 20240101, 20240601, False),   # closed
        (1, "B", 20240601, 99991231, True),    # new version
        (1, "OLD", 20230101, 20240101, False), # history untouched
        (2, None, 20240101, 99991231, True),   # NULL == NULL → no-op
        (3, "C", 20240601, 99991231, True),    # brand new
    ]
    # re-applying the same change batch is a no-op
    again = scd2_apply(out, changes, on=["k"], tracked=["attr"], effective_datekey=20240701)
    assert sorted(
        (r.k, r.attr, r.valid_from, r.valid_to, r.is_current) for r in again.collect()
    ) == rows


def test_quality_checks_detect_injected_violations(spark):
    """Each check builder must count real violations, not just pass on
    clean data: duplicate PKs, orphan FKs, and out-of-range rows are
    injected and must be reported with exact counts."""
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.operators.quality import (
        fk_check,
        run_checks,
        unique_check,
    )

    dirty = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (3, -5)], ["pk", "val"]
    )
    parent = spark.createDataFrame([(1,), (2,)], ["pk"])
    report = {
        r["check"]: r["n_violations"]
        for r in run_checks(
            spark,
            [
                ("pk_unique", lambda: unique_check(dirty, ["pk"])),
                ("fk_parent", lambda: fk_check(dirty, "pk", parent, "pk")),
                ("val_positive", lambda: dirty.filter(F.col("val") <= 0)),
            ],
        ).collect()
    }
    assert report == {"pk_unique": 2, "fk_parent": 1, "val_positive": 1}


def test_merge_aggregates_equals_recompute(spark):
    """Summary-merge must equal the full recompute exactly (decimal
    measures), and reject mismatched schemas."""
    import pytest
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.operators.incremental import merge_aggregates

    facts = spark.createDataFrame(
        [(m, float(v)) for m in (1, 2, 3) for v in (10.01, 20.02, 30.03)],
        ["m", "v"],
    )

    def summarize(df):
        return df.groupBy("m").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,4)")).alias("s"),
        )

    full = {r["m"]: (r["n"], r["s"]) for r in summarize(facts).collect()}
    merged = {
        r["m"]: (r["n"], r["s"])
        for r in merge_aggregates(
            summarize(facts.filter("m < 3")), summarize(facts.filter("m >= 3")), ["m"]
        ).collect()
    }
    assert merged == full
    with pytest.raises(ValueError):
        merge_aggregates(
            summarize(facts), summarize(facts).withColumnRenamed("s", "t"), ["m"]
        )


def test_merge_upsert_schema_evolution(spark):
    """evolve_schema=True widens the target with source-only columns
    (NULL for untouched rows); default drops them (strict governance)."""
    from etl_loading_scripts_spark.operators.mutations import merge_upsert

    target = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k BIGINT, v DOUBLE")
    source = spark.createDataFrame(
        [(2, 22.0, "api"), (3, 30.0, "batch")], "k BIGINT, v DOUBLE, channel STRING"
    )
    strict = merge_upsert(target, source, on=["k"])
    assert strict.columns == ["k", "v"]

    evolved = merge_upsert(target, source, on=["k"], evolve_schema=True)
    assert evolved.columns == ["k", "v", "channel"]
    got = {(r.k, r.v, r.channel) for r in evolved.collect()}
    assert got == {(1, 10.0, None), (2, 22.0, "api"), (3, 30.0, "batch")}


def test_top1_per_group_agg_equals_window_and_partially_aggregates(spark):
    """Round 9: the min_by-based dedup returns exactly what the window
    variant returns for a unique ascending order key, with an AGGREGATE
    plan (partial map-side combine, no Window) — the shape that
    collapses duplicates before the exchange."""
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.operators import top1_per_group_agg

    df = spark.createDataFrame(
        [(g, o, f"v{g}_{o}") for g in range(50) for o in range(g % 7 + 1)],
        "g int, o int, v string",
    ).repartition(8)
    want = sorted(
        map(tuple, top1_per_group(df, ["g"], [F.col("o")]).collect())
    )
    got_df = top1_per_group_agg(df, ["g"], "o")
    got = sorted(map(tuple, got_df.collect()))
    assert got == want and len(got) == 50
    assert got_df.columns == df.columns  # original column order kept
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert any(
        agg in plan
        for agg in ("ObjectHashAggregate", "SortAggregate", "HashAggregate")
    ), plan
    # NULL order keys rank first (Spark's default asc, like the window
    # variant) — bare min_by would SKIP them and return all-null rows
    # for an all-null group
    ndf = spark.createDataFrame(
        [(1, None, "null-row"), (1, 5, "real"), (2, None, "only-null")],
        "g int, o int, v string",
    )
    got_n = {
        (r.g, r.o, r.v)
        for r in top1_per_group_agg(ndf, ["g"], "o").collect()
    }
    want_n = {
        (r.g, r.o, r.v)
        for r in top1_per_group(ndf, ["g"], [F.col("o")]).collect()
    }
    assert got_n == want_n == {(1, None, "null-row"), (2, None, "only-null")}
    # a value column whose NAME contains a dot must survive the unpack
    ddf = spark.createDataFrame(
        [(1, 2, "x")], "g int, o int, `a.b` string"
    )
    assert top1_per_group_agg(ddf, ["g"], "o").collect()[0]["a.b"] == "x"


# --------------------------------------------------------------------------
# surrogate keys from parquet footers: no Spark job for routing or MAX
# --------------------------------------------------------------------------


def _barrier(spark, tmp_path, name, rows, schema, *more_files):
    """Write ``rows`` (and each of ``more_files``, a row list, as another
    file) as parquet and read them back pinned to ``schema``, the shape
    of a staged-runner barrier read-back."""
    path = str(tmp_path / name)
    spark.createDataFrame(rows, schema).coalesce(2).write.parquet(path)
    for more in more_files:
        spark.createDataFrame(more, schema).write.mode("append").parquet(path)
    return spark.read.schema(schema).parquet(path)


def _plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _keys(df):
    return sorted((r.nk, r.sk) for r in df.collect())


def _expected_keys(names, base):
    return [(nk, base + i) for i, nk in enumerate(sorted(names), start=1)]


def test_allocate_surrogate_keys_from_footers_runs_no_job(spark, tmp_path, jobs_of):
    """On barrier-shaped inputs the routing bound and the MAX come from
    the parquet footers: building the allocated frame runs no Spark job,
    and its keys equal the pinned window path's."""
    existing = _barrier(
        spark, tmp_path, "existing",
        [(i, f"e{i:04d}") for i in range(1, 41)], "sk long, nk string",
    )
    new = _barrier(
        spark, tmp_path, "new",
        [(None, f"n{i:04d}") for i in range(60)] * 2, "sk long, nk string",
    )
    gone = _barrier(spark, tmp_path, "gone", [("n0007",)], "nk string")
    # every operator the bound walks: Filter, Aggregate, semi/anti join, Union
    new_rows = (
        new.filter(F.col("nk") != "n0003")
        .distinct()
        .join(gone, "nk", "left_anti")
        .unionByName(new.filter(F.col("nk") == "n0099"))
        .join(new.select("nk"), "nk", "left_semi")
    )
    built = {}
    assert jobs_of(
        lambda: built.update(
            out=allocate_surrogate_keys(new_rows, existing, "sk", ["nk"])
        )
    ) == 0
    names = {f"n{i:04d}" for i in range(60)} - {"n0003", "n0007"}
    pinned = allocate_surrogate_keys(
        new_rows, existing, "sk", ["nk"], max_window_rows=None
    )
    assert _keys(built["out"]) == _keys(pinned) == _expected_keys(names, 40)


def test_allocate_surrogate_keys_falls_back_where_footers_cannot_answer(
    spark, tmp_path, jobs_of
):
    """Each shape the footers cannot answer keeps its job and the exact
    keys: a filtered ``existing``, a key column with an all-null row
    group or a non-integral type, an in-memory leaf, and an inner or
    left-outer join inside ``new_rows``."""
    schema = "sk long, nk string"
    existing = _barrier(
        spark, tmp_path, "existing", [(i, f"e{i:04d}") for i in range(1, 41)], schema
    )
    new = _barrier(
        spark, tmp_path, "new", [(None, f"n{i:04d}") for i in range(30)], schema
    )
    names = {f"n{i:04d}" for i in range(30)}
    # a file whose row group holds only null keys, next to one with values
    half_null = _barrier(
        spark, tmp_path, "half_null", [(None, "x"), (None, "y")], schema,
        [(149, "z")],
    )
    double_key = _barrier(
        spark, tmp_path, "double_key", [(7.0, "d"), (12.0, "e")],
        "sk double, nk string",
    )
    in_memory = spark.createDataFrame(
        [(None, nk) for nk in sorted(names)], schema
    )
    other = _barrier(spark, tmp_path, "other", [(nk,) for nk in names], "nk string")
    cases = {
        "filtered existing": (new, existing.filter(F.col("sk") < 25), 24),
        "all-null row group": (new, half_null, 149),
        "non-integral key": (new, double_key, 12),
        "in-memory leaf": (in_memory, existing, 40),
        "inner join": (new.join(other, "nk"), existing, 40),
        "left-outer join": (new.join(other, "nk", "left"), existing, 40),
    }
    for case, (new_rows, existing_rows, base) in cases.items():
        built = {}
        jobs = jobs_of(
            lambda: built.update(
                out=allocate_surrogate_keys(new_rows, existing_rows, "sk", ["nk"])
            )
        )
        assert jobs >= 1, case
        got = [(nk, int(sk)) for nk, sk in _keys(built["out"])]
        assert got == _expected_keys(names, base), case


def test_allocate_surrogate_keys_counts_above_footer_bound(spark, tmp_path, jobs_of):
    """A footer bound above ``max_window_rows`` proves nothing, since it
    counts rows before the filter: the routing ``count()`` decides, as
    without a bound. 5 surviving rows of 40 take the window path, all
    40 take the partitioned path; both give the pinned path's keys."""
    existing = _barrier(spark, tmp_path, "existing", [(5, "e")], "sk long, nk string")
    new = _barrier(
        spark, tmp_path, "new",
        [(None, f"n{i:04d}") for i in range(40)], "sk long, nk string",
    )
    for new_rows, partitioned in (
        (new.filter(F.col("nk") < "n0005"), False),  # 5 rows, bound 40
        (new, True),
    ):
        built = {}
        assert jobs_of(
            lambda: built.update(
                out=allocate_surrogate_keys(
                    new_rows, existing, "sk", ["nk"], max_window_rows=10
                )
            )
        ) >= 1  # the routing count
        pinned = allocate_surrogate_keys(
            new_rows, existing, "sk", ["nk"], max_window_rows=None
        )
        assert ("SinglePartition" not in _plan_of(built["out"])) == partitioned
        names = [r.nk for r in new_rows.collect()]
        assert _keys(built["out"]) == _keys(pinned) == _expected_keys(names, 5)
