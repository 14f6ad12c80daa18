"""Session-independence of the catalog (VERDICT r1 item 1).

The events table is stored as parquet TIMESTAMP(NANOS), which Spark
rejects (PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet.
nanosAsLong`` is on. The driver builds its own vanilla SparkSession, so
``load_table`` must enable the conf at read time rather than relying on
``session.get_spark`` having preset it.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_loading_scripts_spark.catalog import (
    _nanos_timestamp_columns,
    load_table,
    table_path,
)
from perfbench.workloads import BI_QUERIES, CORPUS_QUERIES

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def vanilla_conf(spark):
    """Simulate the driver's session: the nanos conf is NOT preset."""
    had = spark.conf.get(NANOS_CONF, None)
    spark.conf.unset(NANOS_CONF)
    yield spark
    if had is not None:
        spark.conf.set(NANOS_CONF, had)


def test_events_nanos_probe_matches_file(sf_dir):
    """The probe reports exactly the TIMESTAMP(NANOS) columns the file
    stores. The driver has shipped events as both nanos and micros across
    rounds, so assert against the actual footer rather than hard-coding."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    path = table_path(sf_dir, "events")
    schema = ds.dataset(path, format="parquet").schema
    expected = [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    assert _nanos_timestamp_columns(path) == expected


def test_non_events_tables_have_no_nanos(sf_dir):
    assert _nanos_timestamp_columns(table_path(sf_dir, "orders")) == []


def test_load_events_without_preset_conf(vanilla_conf, sf_dir):
    df = load_table(vanilla_conf, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0


def test_load_events_sets_conf_at_read_time(vanilla_conf, sf_dir):
    """When (and only when) the file stores nanos, the conf is enabled
    just-in-time; a micros file must load without touching it."""
    has_nanos = bool(_nanos_timestamp_columns(table_path(sf_dir, "events")))
    load_table(vanilla_conf, sf_dir, "events")
    if has_nanos:
        assert vanilla_conf.conf.get(NANOS_CONF) == "true"
    else:
        assert vanilla_conf.conf.get(NANOS_CONF, None) is None


# --------------------------------------------------------------------------
# the read-schema cache: warm loads infer nothing, cold ones see every change
# --------------------------------------------------------------------------


def test_load_table_sees_in_place_part_rewrite(spark, tmp_path):
    """Rewriting a directory table's part file in place leaves the
    directory's mtime as it was; the next load must still see the new
    column, so the cache keys on the parts' own stats."""
    table = tmp_path / "orders.parquet"
    table.mkdir()
    part = table / "part-00000.parquet"
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), part)
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]

    dir_stat = os.stat(table)
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_extra": ["a", "b"]}), part)
    # pin the directory's mtime too, whatever the filesystem does
    os.utime(table, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))

    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "o_extra"]
    assert sorted(df.toPandas().o_extra) == ["a", "b"]


def test_warm_load_table_runs_no_spark_job(spark, sf_dir, tmp_path, jobs_of):
    """The schema is inferred (one job) on the first load only; a changed
    inference conf re-resolves it."""
    cold = jobs_of(lambda: load_table(spark, sf_dir, "orders"))
    warm = jobs_of(lambda: load_table(spark, sf_dir, "orders"))
    assert cold <= 1
    assert warm == 0

    pq.write_table(pa.table({"doc_id": [1], "text": [b"abc"]}),
                   tmp_path / "documents.parquet")
    conf = "spark.sql.parquet.binaryAsString"
    had = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "false")
        assert dict(load_table(spark, str(tmp_path), "documents").dtypes)["text"] == "binary"
        spark.conf.set(conf, "true")
        df = load_table(spark, str(tmp_path), "documents")
        assert dict(df.dtypes)["text"] == "string"
        assert df.first().text == "abc"
    finally:
        if had is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, had)


def test_load_table_self_join_is_unambiguous(spark, sf_dir):
    """Each call builds a new DataFrame (the cache holds schemas, not
    frames), so two loads of one table self-join like two tables."""
    o1 = load_table(spark, sf_dir, "orders")
    o2 = load_table(spark, sf_dir, "orders")
    assert o1.join(o2, o1.o_orderkey == o2.o_orderkey).count() == o1.count()
    # a condition between two different columns of the two sides: on one
    # shared frame both sides would resolve to the same attributes
    per_customer = o1.groupBy("o_custkey").count().toPandas()["count"]
    later = o1.join(
        o2, (o1.o_custkey == o2.o_custkey) & (o1.o_orderkey < o2.o_orderkey)
    )
    assert later.count() == int((per_customer * (per_customer - 1) // 2).sum())


def test_concurrent_loads_share_one_resolution(spark, sf_dir, tmp_path):
    """More client threads than cores load the same tables at once with a
    short switch interval: every frame gets its table's schema, and the
    cache ends with one entry per table."""
    import shutil
    import sys
    import threading

    from etl_loading_scripts_spark import catalog

    names = ("region", "nation", "customer", "supplier", "orders", "events")
    for name in names:
        shutil.copy(table_path(sf_dir, name), tmp_path / f"{name}.parquet")
    expected = {n: load_table(spark, sf_dir, n).schema for n in names}
    got: list[tuple[str, object]] = []
    lock = threading.Lock()

    def client(i: int) -> None:
        for k in range(2 * len(names)):
            name = names[(i + k) % len(names)]
            schema = load_table(spark, str(tmp_path), name).schema
            with lock:
                got.append((name, schema))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 8 * 2 * len(names)
    assert all(schema == expected[name] for name, schema in got)
    cached = [k for k in catalog._schema_cache if k[0].startswith(str(tmp_path))]
    assert sorted(k[0] for k in cached) == sorted(table_path(str(tmp_path), n) for n in names)


#: Spark jobs per warm call of each registry entry in the read mix (see
#: ``test_read_mix_entry_job_budget``)
READ_MIX_JOB_BUDGET = {
    "persona_segmentation": 4,
    "multi_grain_spend_ratio": 7,
    "rollup_spend_nation_month": 4,
    "industry_spend_share": 5,
    "window_dedup_latest": 2,
    "topk_per_group": 4,
    "fingerprint_probe_map": 7,
    "asof_join_last_purchase": 3,
    "pricing_summary_window": 2,
    "dedup_minhash_lsh": 4,
    "dedup_exact": 3,
    "corpus_prep_e2e": 11,
    "ann_lsh_topk": 6,
    "ann_bruteforce_topk": 3,
    "text_quality_score": 1,
}


@pytest.mark.parametrize("entry", BI_QUERIES + CORPUS_QUERIES)
def test_read_mix_entry_job_budget(spark, sf_dir, entry, jobs_of):
    """Job ratchet per registry entry of perfbench's ``bi_reads_4c`` mix:
    the jobs one warm call runs to ``toPandas()`` at the test fixture
    (sf0.001, ``get_spark(shuffle_partitions=8)``), after a warm-up call.
    Plan-determined, not load-dependent: a change that adds a job to an
    entry must re-measure and justify raising its budget. Every entry
    calls ``load_table``; before the read-schema cache each call added one
    schema-inference job (26 per mix round), so each entry ran over its
    budget by its number of ``load_table`` calls:

    ========================= ====== ==========================
    entry                     budget before the cache (calls)
    ========================= ====== ==========================
    persona_segmentation         4    6 (2)
    multi_grain_spend_ratio      7   11 (4)
    rollup_spend_nation_month    4    7 (3)
    industry_spend_share         5    7 (2)
    window_dedup_latest          2    3 (1)
    topk_per_group               4    6 (2)
    fingerprint_probe_map        7   11 (4)
    asof_join_last_purchase      3    4 (1)
    pricing_summary_window       2    3 (1)
    dedup_minhash_lsh            4    5 (1)
    dedup_exact                  3    4 (1)
    corpus_prep_e2e             11   12 (1)
    ann_lsh_topk                 6    7 (1)
    ann_bruteforce_topk          3    4 (1)
    text_quality_score           1    2 (1)
    ========================= ====== ==========================
    """
    from etl_loading_scripts_spark.queries import REGISTRY

    def run():
        return REGISTRY[entry].spark(spark, sf_dir).toPandas()

    run()
    jobs = jobs_of(run)
    assert jobs <= READ_MIX_JOB_BUDGET[entry], (
        f"{entry} ran {jobs} Spark jobs (budget {READ_MIX_JOB_BUDGET[entry]})"
    )
