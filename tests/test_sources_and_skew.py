"""Tests: format round-trips, bucketed and range-sorted layouts, salted join."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_loading_scripts_spark.catalog import load_table
from etl_loading_scripts_spark.operators.skew import salted_join
from etl_loading_scripts_spark.sources import read_table, write_table


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_format_roundtrip(spark, sf_dir, tmp_path, fmt):
    src = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / f"nation_{fmt}")
    write_table(src, path, fmt=fmt)
    back = read_table(spark, path, fmt=fmt, schema=src.schema)
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in src.collect()
    )
    assert back.schema == src.schema


def test_csv_without_schema_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        read_table(spark, str(tmp_path), fmt="csv")


def test_salted_join_equals_plain_join(spark, sf_dir):
    # skewed fact: every lineitem of one hot supplier plus the rest
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    plain = li.join(supplier, li.l_suppkey == supplier.s_suppkey).select(
        "l_orderkey", "s_name"
    )
    salted = salted_join(
        li.withColumnRenamed("l_suppkey", "s_suppkey"), supplier, "s_suppkey", n_salt=4
    ).select("l_orderkey", "s_name")
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key by the same bucket count must
    join with zero shuffle — the co-located join that makes the monthly
    fact↔dim merge map-side at 100 TB."""
    from etl_loading_scripts_spark.sources import write_bucketed

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", ["o_orderkey"], n_buckets=8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem",
        ["o_orderkey"], n_buckets=8,
    )
    try:
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        # force the sort-merge path: at test scale AQE would broadcast
        # (also shuffle-free, but not the co-location being proven here)
        joined = bo.hint("merge").join(bl, "o_orderkey")
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan, plan
        expected = orders.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        ).count()
        assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_delta_merge_falls_back_informatively(spark, sf_dir):
    """delta-spark isn't in this environment: the Delta MERGE path must
    fail with a pointer to the portable join-based merge, not an obscure
    ImportError deep in a pipeline run."""
    from etl_loading_scripts_spark.operators.mutations import merge_upsert_delta

    nation = load_table(spark, sf_dir, "nation")
    try:
        import delta  # noqa: F401
        pytest.skip("delta-spark installed; fallback path not applicable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="merge_upsert"):
        merge_upsert_delta(spark, "/tmp/nonexistent", nation, ["n_nationkey"])


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join: a key holding ~90% of the rows is split into multiple
    tasks at runtime (no manual salting needed) — the first line of defense
    for the reference's 'MC'-client hot key (SURVEY §4). Thresholds are
    lowered to make the 100k-row fixture look skewed; production uses the
    defaults."""
    lowered = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ path
    }
    saved = {k: spark.conf.get(k, None) for k in lowered}
    for k, v in lowered.items():
        spark.conf.set(k, v)
    try:
        n = 100_000
        skewed = spark.range(n).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k",
            "id AS payload",
            "repeat('x', 64) AS pad",
        )
        other = spark.range(n // 10).selectExpr("id * 10 AS k", "id AS v")
        joined = skewed.join(other, "k").select("k", "payload", "v")
        # collect() executes THIS DataFrame's QueryExecution (count() would
        # spawn a separate one whose final adaptive plan we couldn't read)
        rows = joined.collect()
        assert len(rows) == 9 * n // 10  # k=0 matches other.k=0
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_iceberg_merge_falls_back_informatively(spark, sf_dir):
    from etl_loading_scripts_spark.operators.mutations import merge_upsert_iceberg

    nation = load_table(spark, sf_dir, "nation")
    with pytest.raises(NotImplementedError, match="merge_upsert"):
        merge_upsert_iceberg(spark, "nonexistent", nation, ["n_nationkey"])


def test_jsonl_robust_ingest_quarantines_bad_lines(spark, tmp_path):
    from etl_loading_scripts_spark.sources.io import read_jsonl_robust

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        '{"doc_id": 2, "text": "fine"}\n'
        'this is not json at all\n'
        '{"doc_id": "NaN-ish", "text": 42}\n'  # type mismatch -> corrupt
        '{"doc_id": 3, "text": "also fine"}\n'
    )
    good, bad = read_jsonl_robust(spark, str(p), "doc_id BIGINT, text STRING")
    good_rows = {r["doc_id"] for r in good.collect()}
    assert good_rows == {1, 2, 3}
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert len(bad_lines) == 2
    assert any("not json" in line for line in bad_lines)


def test_jsonl_quarantine_sink_accumulates_by_run(spark, tmp_path):
    """ingest_jsonl_quarantined: good rows parse, bad raw lines land in
    the quarantine parquet stamped with the run id, appends across runs."""
    from etl_loading_scripts_spark.sources import ingest_jsonl_quarantined

    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"id": 1, "v": "a"}\n'
        "{broken json\n"
        '{"id": 2, "v": "b"}\n'
        '[“not an object”]\n'
    )
    qdir = str(tmp_path / "quarantine")
    good, m = ingest_jsonl_quarantined(
        spark, str(src), "id long, v string", qdir, run_id="r1"
    )
    assert sorted((r.id, r.v) for r in good.collect()) == [(1, "a"), (2, "b")]
    assert m == {"jsonl_quarantined": 2}
    good2, m2 = ingest_jsonl_quarantined(
        spark, str(src), "id long, v string", qdir, run_id="r2"
    )
    q = spark.read.parquet(qdir)
    assert q.count() == 4
    assert sorted(r.run_id for r in q.select("run_id").distinct().collect()) == ["r1", "r2"]


def test_schema_evolution_merge_nulls_missing_columns(spark, tmp_path):
    """Old-generation rows must surface NULL for columns added later;
    new-generation rows keep their values."""
    from etl_loading_scripts_spark.sources.io import read_with_schema_evolution

    gen1 = str(tmp_path / "gen1")
    gen2 = str(tmp_path / "gen2")
    spark.range(3).selectExpr("id", "id * 10 AS v").write.parquet(gen1)
    spark.range(3, 6).selectExpr(
        "id", "id * 10 AS v", "'tagged' AS label"
    ).write.parquet(gen2)

    df = read_with_schema_evolution(spark, [gen1, gen2])
    assert set(df.columns) == {"id", "v", "label"}
    rows = {r["id"]: (r["v"], r["label"]) for r in df.collect()}
    assert rows[0] == (0, None)
    assert rows[5] == (50, "tagged")


def test_range_sorted_write_has_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """write_range_sorted produces files whose parquet min/max stats on
    the sort key do not overlap — the property that lets a range
    predicate prune to ~1 file at planning time."""
    import glob

    import pyarrow.parquet as pq

    from etl_loading_scripts_spark.sources.io import write_range_sorted

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_range")
    write_range_sorted(orders, path, ["o_orderkey"], num_files=6)

    ranges = []
    total = 0
    for f in glob.glob(f"{path}/*.parquet"):
        pf = pq.ParquetFile(f)
        total += pf.metadata.num_rows
        if pf.metadata.num_rows == 0:
            continue
        idx = [c for c in range(pf.metadata.num_row_groups)]
        schema_names = pf.schema_arrow.names
        col = schema_names.index("o_orderkey")
        mins, maxs = [], []
        for rg in idx:
            st = pf.metadata.row_group(rg).column(col).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert total == orders.count()
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges ({lo1},{hi1}) vs ({lo2},{hi2})"
    assert len(ranges) >= 4  # range partitioner actually spread the data


def test_versioned_publish_time_travel(spark, sf_dir, tmp_path):
    """Each Delta overwrite publishes an immutable version; a pinned
    read keeps the old version (old schema included) while the latest
    read follows the log. A write that crashed before its commit is
    invisible: both versions still serve."""
    from etl_loading_scripts_spark.operators.deltalog import (
        read_delta_table,
        write_delta_table,
    )

    base = str(tmp_path / "dim_versions")
    nation = load_table(spark, sf_dir, "nation")
    v1 = write_delta_table(nation, base)
    v2 = write_delta_table(nation.withColumn("extra", F.lit(1)), base)
    assert (v1, v2) == (0, 1)
    latest = read_delta_table(spark, base)
    pinned = read_delta_table(spark, base, version=v1)
    assert "extra" in latest.columns
    assert "extra" not in pinned.columns
    assert pinned.count() == nation.count() == latest.count()
    with pytest.raises(Exception, match="99"):
        read_delta_table(spark, base, version=99).count()

    # a writer that died after staging its files, before the commit,
    # leaves only unreferenced files: no reader ever serves them
    nation.limit(3).write.parquet(os.path.join(base, ".staging-crashed"))
    assert read_delta_table(spark, base).count() == nation.count()
    assert read_delta_table(spark, base, version=v1).count() == nation.count()


def test_read_csv_robust_quarantines_bad_lines(spark, tmp_path):
    """Good typed rows parse; each malformed line lands whole in the
    quarantine frame (wrong arity, bad type, garbage)."""
    from etl_loading_scripts_spark.sources.io import read_csv_robust

    p = tmp_path / "extract"
    p.mkdir()
    (p / "a.csv").write_text("1,2.5,A\n2,3.5,B\n")
    (p / "b.csv").write_text("oops,9.9,C\n3,1.0,D,EXTRA,COLS\n")
    good, bad = read_csv_robust(spark, str(p), "k BIGINT, q DOUBLE, f STRING")
    assert {(r.k, r.q, r.f) for r in good.collect()} == {
        (1, 2.5, "A"), (2, 3.5, "B")
    }
    assert sorted(r.raw_line for r in bad.collect()) == [
        "3,1.0,D,EXTRA,COLS", "oops,9.9,C"
    ]


def test_orc_round_trip(spark, tmp_path, sf_dir):
    """The ORC leg of the format matrix: write + typed read preserve rows."""
    from etl_loading_scripts_spark.catalog import load_table
    from etl_loading_scripts_spark.sources.io import read_table, write_table

    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_orc")
    write_table(nation, path, fmt="orc")
    back = read_table(spark, path, fmt="orc")
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_schema_contract_violations(spark):
    from etl_loading_scripts_spark.operators.quality import (
        schema_contract_violations,
    )

    df = spark.sql(
        "SELECT CAST(1 AS BIGINT) AS k, CAST('x' AS STRING) AS extra_col, "
        "CAST(1.5 AS DOUBLE) AS amount"
    )
    got = schema_contract_violations(
        df, "k BIGINT, amount DECIMAL(18,4), gone STRING"
    )
    kinds = {(v["column"], v["kind"]) for v in got}
    assert kinds == {
        ("amount", "type_changed"),
        ("gone", "missing"),
        ("extra_col", "extra"),
    }
    assert schema_contract_violations(df, "k BIGINT, extra_col STRING, amount DOUBLE") == []


@pytest.mark.soak
def test_file_skipping_index_admits_all_true_rows(spark, sf_dir):
    """The skipping index must be false-negative-free: every orderkey
    that exists in a file passes that file's bloom, and every custkey
    lies within its file's min/max — so pruned reads can never lose
    rows (the oracle checks counts; this pins the per-file invariant)."""
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.sources.skipping import (
        BLOOM_HASHES,
        BLOOM_M,
        _P,
        build_file_index,
        probe_index,
        write_bucketed_layout,
    )

    path = write_bucketed_layout(spark, sf_dir)
    index_path = build_file_index(spark, path)
    idx = {r["file"]: r for r in spark.read.parquet(index_path).collect()}
    sample = (
        spark.read.parquet(path)
        .withColumn("file", F.input_file_name())
        .select("file", "o_orderkey", "o_custkey")
        .limit(500)
        .collect()
    )
    assert sample
    for r in sample:
        meta = idx[r["file"]]
        assert meta["min_ck"] <= r["o_custkey"] <= meta["max_ck"]
        pos = set(meta["bloom_pos"])
        for a, b in BLOOM_HASHES:
            assert ((r["o_orderkey"] * a + b) % _P) % BLOOM_M in pos
        # and the planner admits the file for its own keys
        assert r["file"] in probe_index(
            spark, index_path, custkey=r["o_custkey"], orderkey=None
        )


def test_file_skipping_index_incremental_update(spark, sf_dir, tmp_path):
    """Appending new files to the layout and running the incremental
    update must index ONLY the new files (no table rescan economics),
    and the refreshed index must admit the new keys' files."""
    import shutil

    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.sources.skipping import (
        build_file_index,
        probe_index,
        update_file_index,
        write_bucketed_layout,
    )

    src = write_bucketed_layout(spark, sf_dir)
    path = str(tmp_path / "layout")
    shutil.copytree(src, path)
    index_path = build_file_index(spark, path)
    n0 = spark.read.parquet(index_path).count()
    assert update_file_index(spark, path, index_path) == 0  # no-op when fresh

    # append a new file with out-of-range keys
    novel_ck, novel_ok = 10_000_000, 20_000_000
    spark.createDataFrame(
        [(novel_ok, novel_ck, 1.0)], "o_orderkey long, o_custkey long, o_totalprice double"
    ).coalesce(1).write.mode("append").parquet(path + "/b=99")
    assert update_file_index(spark, path, index_path) == 1
    assert spark.read.parquet(index_path).count() == n0 + 1
    files = probe_index(spark, index_path, custkey=novel_ck, orderkey=novel_ok)
    assert len(files) == 1 and "b=99" in files[0]
    # and a re-run stays incremental
    assert update_file_index(spark, path, index_path) == 0


def test_warc_datasource_pushdown_and_framing(spark, sf_dir, tmp_path):
    """The WARC Python DataSource: spec framing round-trips through
    plain and member-per-record gzip archives; the warc_type EqualTo
    filter is consumed by pushFilters (only a residual isnotnull stays
    JVM-side) and record counts stay exact; corrupt framing raises
    ValueError (quarantine), never IndexError."""
    import gzip

    import pytest as _pytest
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.sources.warc import (
        build_warc_record,
        iter_warc_records,
        plant_warc_fixtures,
        register_warc_source,
        write_warc,
    )

    # record codec round-trip, both layouts
    recs = [
        build_warc_record("response", "http://x/1", "2026-01-01T00:00:00Z",
                          "text/plain", b"hello"),
        build_warc_record("request", "http://x/1", "2026-01-01T00:00:00Z",
                          "application/http", b"GET /"),
    ]
    plain = tmp_path / "a.warc"
    gz = tmp_path / "b.warc.gz"
    write_warc(str(plain), recs)
    write_warc(str(gz), recs, gzip_members=True)
    got = list(iter_warc_records(plain.read_bytes()))
    assert [r["warc_type"] for r in got] == ["response", "request"]
    assert got[0]["payload"] == b"hello"
    assert list(iter_warc_records(gzip.decompress(gz.read_bytes()))) == got

    # corrupt framing: truncated payload / bad version / missing CL
    with _pytest.raises(ValueError, match="corrupt WARC"):
        list(iter_warc_records(recs[0][:-10]))
    with _pytest.raises(ValueError, match="version"):
        list(iter_warc_records(b"HTTP/1.1 200 OK\r\n\r\n"))
    with _pytest.raises(ValueError, match="Content-Length"):
        list(iter_warc_records(
            b"WARC/1.0\r\nWARC-Type: response\r\n\r\nbody\r\n\r\n"
        ))

    # datasource scan, DEFAULT (pushdown off): never skips, never
    # loses rows — filtered and unfiltered scans of ONE load() both
    # exact (the sharp edge pushdown-by-default would hit: Spark 4.1
    # reuses the python-source scan across queries on a relation)
    register_warc_source(spark)
    d = plant_warc_fixtures(sf_dir)
    df = spark.read.format("warc").load(d)
    assert df.filter(F.col("warc_type") == "response").count() == 6 * 3
    assert df.count() == 6 * 9  # unfiltered after filtered: still whole

    # opt-in pushdown: the EqualTo is consumed by pushFilters (no
    # "= response" comparison survives above the scan) and the
    # single-scan count stays exact
    pushed = (
        spark.read.format("warc").option("pushdown", "true").load(d)
        .filter(F.col("warc_type") == "response")
    )
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "response" not in plan.split("BatchScan")[0]
    assert pushed.count() == 6 * 3


def test_warc_streaming_landing_zone(spark, tmp_path):
    """The WARC streaming reader ingests newly-arrived archives
    incrementally: batch 1 sees the initial files, dropping another
    archive into the landing zone yields exactly its records in the
    next batch — the crawl landing-zone flow, with file-list offsets."""
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.sources.warc import (
        build_warc_record,
        register_warc_source,
        write_warc,
    )

    register_warc_source(spark)
    land = tmp_path / "landing"
    land.mkdir()

    def drop(name, n, gz=False):
        recs = [
            build_warc_record(
                "response", f"http://s/{name}/{i}", "2026-01-01T00:00:00Z",
                "text/plain", bytes(10 + i)
            )
            for i in range(n)
        ]
        write_warc(str(land / name), recs, gzip_members=gz)

    drop("a.warc", 3)
    drop("b.warc.gz", 2, gz=True)
    sink = "warc_stream_sink"
    q = (
        spark.readStream.format("warc").load(str(land))
        .groupBy("source_file").agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("complete").format("memory")
        .queryName(sink).start()
    )
    try:
        q.processAllAvailable()
        got = {r["source_file"]: r["n"] for r in spark.sql(f"SELECT * FROM {sink}").collect()}
        assert got == {"a.warc": 3, "b.warc.gz": 2}
        drop("c.warc", 4)
        q.processAllAvailable()
        got = {r["source_file"]: r["n"] for r in spark.sql(f"SELECT * FROM {sink}").collect()}
        assert got == {"a.warc": 3, "b.warc.gz": 2, "c.warc": 4}
    finally:
        q.stop()


def test_warc_writer_roundtrip_and_two_phase(spark, sf_dir, tmp_path):
    """df.write.format('warc') exports a curated sub-corpus as
    member-per-record gzip shards that the warc READER ingests back
    bit-identically; empty partitions leave no file; no .inprogress
    staging files survive a successful commit; overwrite replaces."""
    import os

    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.catalog import load_table
    from etl_loading_scripts_spark.sources.warc import register_warc_source

    register_warc_source(spark)
    out = str(tmp_path / "export")
    docs = (
        load_table(spark, sf_dir, "documents")
        .limit(40)
        .select(
            F.concat(F.lit("http://corpus/"), F.col("doc_id")).alias("target_uri"),
            F.lit("text/plain").alias("content_type"),
            F.encode("text", "UTF-8").alias("payload"),
        )
    )
    docs.repartition(4).write.format("warc").mode("append").save(out)
    files = sorted(os.listdir(out))
    assert files and all(f.endswith(".warc.gz") for f in files)
    back = spark.read.format("warc").load(out)
    assert back.count() == 40
    orig = {r["target_uri"]: bytes(r["payload"]) for r in docs.collect()}
    got = {r["target_uri"]: bytes(r["payload"]) for r in back.collect()}
    assert got == orig
    # overwrite mode replaces the export atomically
    docs.limit(10).repartition(2).write.format("warc").mode("overwrite").save(out)
    assert spark.read.format("warc").load(out).count() == 10
    assert not any(".inprogress" in f for f in os.listdir(out))


def test_warc_cdx_point_read_prunes(spark, tmp_path):
    """The CDX member index (VERDICT r5 item 7): spans address every
    record exactly (gzip members by compressed offset, raw records by
    framing bytes); a point lookup reads ONLY the target member's bytes
    — measured ~1/N of the archive — and decodes the same record the
    full scan yields; and the index-backed range-split scan returns the
    full record set of an archive through multiple independent seeks."""
    from etl_loading_scripts_spark.sources.warc import (
        build_cdx_index,
        build_warc_record,
        iter_member_spans,
        read_warc_file,
        read_warc_span,
        warc_scan_with_index,
        write_warc,
    )

    n_rec = 16
    records = [
        build_warc_record(
            "response" if r % 3 == 0 else "request",
            f"http://x/{r}", "2026-01-01T00:00:00Z", "text/plain",
            bytes((r * 7 + i) % 251 for i in range(50 + r * 13)),
        )
        for r in range(n_rec)
    ]
    d = tmp_path / "warc_cdx"
    d.mkdir()
    gz = str(d / "big-0000.warc.gz")
    plain = str(d / "big-0001.warc")
    write_warc(gz, records, gzip_members=True)
    write_warc(plain, records, gzip_members=False)
    for path in (gz, plain):
        spans = list(iter_member_spans(path))
        assert len(spans) == n_rec
        full = list(read_warc_file(path))
        archive_bytes = os.path.getsize(path)
        # spans tile the file: contiguous, in order, covering every byte
        assert spans[0][0] == 0
        for (o1, l1, _), (o2, _, _) in zip(spans, spans[1:]):
            assert o1 + l1 == o2
        assert spans[-1][0] + spans[-1][1] == archive_bytes
        # point read: exactly one record, same content, ~1/N of the IO
        target = 11
        off, ln, _ = spans[target]
        got, bytes_read = read_warc_span(path, off, ln)
        assert len(got) == 1
        assert got[0] == full[target]
        assert bytes_read == ln
        assert bytes_read < archive_bytes / (n_rec / 2)  # genuinely pruned
    # index-backed range-split scan == full scan (an oversized archive
    # becomes ceil(16/4)=4 independent splits per file)
    index_path = str(d / "_cdx")
    build_cdx_index(spark, str(d), index_path)
    idx = spark.read.parquet(index_path)
    assert idx.count() == 2 * n_rec
    scanned = warc_scan_with_index(spark, str(d), index_path, records_per_split=4)
    # 2 files x 4 ranges: the oversized-archive split unit is the record
    # range, not the file (AQE may still coalesce the tiny test shuffle,
    # so assert the SPLIT computation, not the physical partition count)
    n_ranges = (
        idx.select("source_file", F.floor(F.col("record_idx") / 4)).distinct().count()
    )
    assert n_ranges == 8
    got_uris = sorted(
        (r.source_file, r.target_uri, bytes(r.payload))
        for r in scanned.collect()
    )
    want = sorted(
        (os.path.basename(p), rec["target_uri"], rec["payload"])
        for p in (gz, plain)
        for rec in read_warc_file(p)
    )
    assert got_uris == want


def test_arrow_ipc_roundtrip_and_inference(spark, sf_dir, tmp_path):
    """Arrow IPC DataSource: schema inference from the file's Arrow
    schema, multi-record-batch reads (no lost batches), a full
    write→read round trip through the two-phase-commit sink, and the
    corrupt-payload ValueError contract."""
    import pyarrow as pa

    from etl_loading_scripts_spark.sources.arrowipc import (
        plant_arrow_fixtures,
        register_arrowipc_source,
    )

    register_arrowipc_source(spark)
    d = plant_arrow_fixtures(sf_dir)
    df = spark.read.format("arrowipc").load(d)
    assert [f.name for f in df.schema.fields] == ["row_id", "label", "score"]
    assert df.count() == 480  # 4 files x 3 batches x 40 rows — none lost
    assert df.agg(F.sum("row_id")).first()[0] == 480 * 479 // 2
    # write path: export a projection, read it back through the source
    out = str(tmp_path / "arrow_out")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    orders.repartition(3).write.format("arrowipc").mode("overwrite").save(out)
    back = spark.read.format("arrowipc").load(out)
    assert back.count() == orders.count()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, orders.collect()))
    # no staging residue survives the commit
    assert not [f for f in __import__("os").listdir(out) if "inprogress" in f]
    # corrupt file → ValueError (quarantine convention), not a crash
    bad_dir = tmp_path / "arrow_bad"
    bad_dir.mkdir()
    (bad_dir / "junk.arrow").write_bytes(b"not an arrow file at all")
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)corrupt|arrow"):
        spark.read.format("arrowipc").load(str(bad_dir)).count()


def test_tfrecord_roundtrip_and_quarantine(spark, sf_dir, tmp_path):
    """TFRecord DataSource: the long-form feature rows round-trip
    write→read through the two-phase-commit sink (int64 with negatives,
    bytes, float features); CRC32C matches the public test vector; a
    flipped payload bit or truncated shard raises ValueError."""
    from etl_loading_scripts_spark.sources.tfrecord import (
        crc32c,
        plant_tfrecord_fixtures,
        register_tfrecord_source,
    )

    assert crc32c(b"123456789") == 0xE3069283  # public Castagnoli vector
    register_tfrecord_source(spark)
    d = plant_tfrecord_fixtures(sf_dir)
    df = spark.read.format("tfrecord").load(d)
    assert df.count() == 3 * 40 * 3  # shards x examples x features
    # negative int64s decoded exactly (the 10-byte varint path)
    mn = df.filter(F.col("feature") == "token_ids").select(
        F.min(F.expr("array_min(int64_values)"))
    ).first()[0]
    assert mn < 0
    # write path round trip on a curated subset; record_idx is the
    # sink's example key WITHIN a partition, so re-key globally before
    # mixing shards into shared partitions
    out = str(tmp_path / "tf_out")
    subset = df.filter(F.col("record_idx") < 5).withColumn(
        "record_idx",
        F.expr("cast(substring(source_file, 7, 4) as int)") * 100
        + F.col("record_idx"),
    )
    subset.repartition(2, "source_file").write.format("tfrecord").mode(
        "overwrite"
    ).save(out)
    back = spark.read.format("tfrecord").load(out)
    # per-(feature, kind) value multisets survive (record_idx renumbers
    # per shard, so compare the feature payloads, not the row keys)
    def sig(frame):
        return sorted(
            (
                r.feature,
                r.kind,
                tuple(r.int64_values or []),
                tuple(r.float_values or []),
                tuple(bytes(b) for b in (r.bytes_values or [])),
            )
            for r in frame.collect()
        )

    assert sig(back) == sig(subset)
    assert not [f for f in os.listdir(out) if "inprogress" in f]
    # corruption quarantines
    bad_dir = tmp_path / "tf_bad"
    bad_dir.mkdir()
    src = os.path.join(d, "shard-0000.tfrecord")
    blob = bytearray(open(src, "rb").read())
    blob[25] ^= 0x40
    (bad_dir / "bad.tfrecord").write_bytes(bytes(blob))
    with pytest.raises(Exception, match="corrupt TFRecord"):
        spark.read.format("tfrecord").load(str(bad_dir)).count()


def test_tfrecord_index_point_read(spark, sf_dir, tmp_path):
    """The record index serves PRUNED point reads: fetching one Example
    reads exactly its frame's bytes (measured against the shard size),
    and the decoded features equal the full scan's row. Ragged
    range-splits are additionally lossless (oracle tfrecord_index_scan);
    here the split scan is also compared row-for-row to the full scan."""
    from etl_loading_scripts_spark.sources.tfrecord import (
        build_tfrecord_index,
        plant_tfrecord_fixtures,
        read_tfrecord_file,
        read_tfrecord_span,
        decode_example,
        register_tfrecord_source,
        tfrecord_scan_with_index,
    )

    register_tfrecord_source(spark)
    d = plant_tfrecord_fixtures(sf_dir)
    index_path = str(tmp_path / "tfidx")
    build_tfrecord_index(spark, d, index_path)
    idx = spark.read.parquet(index_path).collect()
    assert len(idx) == 3 * 40  # one row per record
    # point read: record 17 of shard 1 — exactly its span's bytes
    row = next(
        r for r in idx if r.source_file == "shard-0001.tfrecord" and r.record_idx == 17
    )
    shard = os.path.join(d, row.source_file)
    assert row.length < os.path.getsize(shard) / 10  # pruned, measured
    payloads = read_tfrecord_span(shard, row.offset, row.length)
    assert len(payloads) == 1
    want = list(read_tfrecord_file(shard))[17]
    assert decode_example(payloads[0]) == want
    # range-split scan row-equal to the full DataSource scan
    full = spark.read.format("tfrecord").load(d)
    split = tfrecord_scan_with_index(spark, d, index_path, records_per_split=7)

    def sig(frame):
        return sorted(
            (
                r.source_file, r.record_idx, r.feature, r.kind,
                tuple(r.int64_values or []),
                tuple(float(v) for v in (r.float_values or [])),
                tuple(bytes(b) for b in (r.bytes_values or [])),
            )
            for r in frame.collect()
        )

    assert sig(split) == sig(full)
    # and the split scan actually splits: more tasks than shards
    assert split.rdd.getNumPartitions() > 3


def test_arrow_ipc_streaming_landing_zone(spark, tmp_path):
    """The Arrow IPC streaming reader ingests newly-arrived shards
    incrementally: batch 1 sees the initial files, dropping another
    shard into the landing zone yields exactly its rows in the next
    batch — the feature-store landing-zone flow, with file-list
    offsets (VERDICT r6 item 6).

    Flake-hardened (VERDICT r7 item 3): unique queryName per attempt
    (a fixed name collides with a leaked query from a prior run under
    full-suite load), `q.exception()` asserted None before reading the
    sink, and ONE retry on streaming-infrastructure errors with the
    cause logged — never on assertion failures, which are real bugs."""
    import uuid as _uuid

    import pyarrow as pa

    from etl_loading_scripts_spark.sources.arrowipc import (
        register_arrowipc_source,
    )

    register_arrowipc_source(spark)

    def drop(land, name, ids):
        schema = pa.schema([("row_id", pa.int64()), ("label", pa.string())])
        with pa.OSFile(str(land / name), "wb") as sink:
            with pa.ipc.new_file(sink, schema) as writer:
                writer.write_batch(
                    pa.record_batch(
                        [
                            pa.array(ids, pa.int64()),
                            pa.array([f"L{i % 3}" for i in ids]),
                        ],
                        schema=schema,
                    )
                )

    def run_once(attempt: int) -> None:
        land = tmp_path / f"arrow_landing_{attempt}"
        land.mkdir()
        drop(land, "a.arrow", [1, 2, 3])
        drop(land, "b.arrow", [10, 11])
        sink = f"arrow_stream_sink_{attempt}_{_uuid.uuid4().hex[:8]}"
        q = (
            spark.readStream.format("arrowipc").load(str(land))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("row_id").alias("id_sum"),
            )
            .writeStream.outputMode("complete").format("memory")
            .queryName(sink).start()
        )
        try:
            q.processAllAvailable()
            assert q.exception() is None, f"stream failed: {q.exception()}"
            got = spark.sql(f"SELECT * FROM {sink}").collect()[0]
            assert (got.n, got.id_sum) == (5, 27)
            drop(land, "c.arrow", [100, 101, 102, 103])
            q.processAllAvailable()
            assert q.exception() is None, f"stream failed: {q.exception()}"
            got = spark.sql(f"SELECT * FROM {sink}").collect()[0]
            assert (got.n, got.id_sum) == (9, 27 + 406)
        finally:
            q.stop()

    try:
        run_once(0)
    except AssertionError:
        raise  # wrong answer = real bug; never retried away
    except Exception as exc:  # noqa: BLE001 — streaming infra flake
        print(f"streaming attempt 0 failed ({exc!r}); retrying once")
        run_once(1)


@pytest.mark.soak
def test_append_mode_adds_shards_never_clobbers(spark, tmp_path):
    """ADVICE r6 (low): df.write.mode('append') onto a directory written
    by a PREVIOUS job must add shards, not silently replace the prior
    job's part files with colliding partition ids — shard names carry a
    per-task uuid so two jobs' partition 0 never collide. Covers all
    three custom sinks (tfrecord, arrowipc, warc)."""
    from etl_loading_scripts_spark.sources.arrowipc import (
        register_arrowipc_source,
    )
    from etl_loading_scripts_spark.sources.tfrecord import (
        register_tfrecord_source,
    )
    from etl_loading_scripts_spark.sources.warc import register_warc_source

    register_tfrecord_source(spark)
    register_arrowipc_source(spark)
    register_warc_source(spark)

    tf = spark.createDataFrame(
        [(0, "tok", "int64", [1, 2], None, None)],
        "record_idx int, feature string, kind string, "
        "int64_values array<bigint>, float_values array<float>, "
        "bytes_values array<binary>",
    ).coalesce(1)
    d = str(tmp_path / "tf_append")
    tf.write.format("tfrecord").mode("overwrite").save(d)
    tf.write.format("tfrecord").mode("append").save(d)
    assert spark.read.format("tfrecord").load(d).count() == 2

    ar = spark.createDataFrame([(1, "a", 0.5)], "row_id long, label string, score double").coalesce(1)
    d = str(tmp_path / "ar_append")
    ar.write.format("arrowipc").mode("overwrite").save(d)
    ar.write.format("arrowipc").mode("append").save(d)
    assert spark.read.format("arrowipc").load(d).count() == 2

    wc = spark.createDataFrame(
        [("rec-1", "http://x/1", "2024-01-01T00:00:00Z", "text/html", bytearray(b"hi"))],
        "record_id string, target_uri string, warc_date string, "
        "content_type string, payload binary",
    ).coalesce(1)
    d = str(tmp_path / "wc_append")
    wc.write.format("warc").mode("overwrite").save(d)
    wc.write.format("warc").mode("append").save(d)
    assert spark.read.format("warc").load(d).count() == 2


def test_decode_example_rejects_trailing_fields():
    """ADVICE r6 (low): an Example carrying an unexpected extra
    top-level field must raise, not be partially decoded — the parser
    walks the whole payload, not just the first field."""
    from etl_loading_scripts_spark.sources.tfrecord import (
        decode_example,
        encode_example,
    )

    good = encode_example({"a": [1, 2]})
    assert decode_example(good) == {"a": ("int64", [1, 2])}
    # append an unknown top-level field 2 (length-delimited, empty body)
    with pytest.raises(ValueError, match="unknown top-level field"):
        decode_example(good + bytes([(2 << 3) | 2, 0]))
    # a duplicate features field is equally rejected
    with pytest.raises(ValueError, match="duplicate features"):
        decode_example(good + good)
