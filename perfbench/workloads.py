"""The benchmark's workloads. Each one reads the fixture tables shipped in
``perfbench/fixtures``, sets up (timed), checks the engine's outputs
(untimed) and runs a closed loop; the seed picks months and op orders.

``month_close_10x`` — one client, ``CLOSES`` consecutive month closes
(``run_monthly_load_staged`` over a one-month window, with delta-log
publish and month-close OPTIMIZE) onto a warehouse the set-up bootstraps.

``bi_reads_4c`` — four client threads sharing one session pull a seeded
order of reporting queries, snapshot reads of a published warehouse and
corpus-preparation kernels.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time
from contextlib import contextmanager

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_loading_scripts_spark import catalog
from etl_loading_scripts_spark.llm import annindex
from etl_loading_scripts_spark.llm.similarity import N_QUERIES
from etl_loading_scripts_spark.operators import deltalog
from etl_loading_scripts_spark.pipeline import staged
from etl_loading_scripts_spark.pipeline.domain import build_domain
from etl_loading_scripts_spark.queries import REGISTRY

from perfbench.probes import SpeedProbe, dir_bytes, job_totals, median, tree_cpu_s, tree_wchar
from tools import bench_pipeline
from tools.check_correctness import _canon as canon

#: byte copies of the test suite's scale-factor directories
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
#: inputs per workload and scale: (fixture, copies of orders+customer)
SCALES = {
    "month_close_10x": {"full": ("sf0.001", 10), "smoke": ("sf0.001", 1)},
    "bi_reads_4c": {"full": ("sf0.01", 1), "smoke": ("sf0.001", 1)},
}
#: the fixture's orders span 80 whole months, 1995-01 .. 2001-08
N_MONTHS = 80
#: closes per run: a fixed count, so that a faster close changes neither
#: the number of closes nor space_amp, which grows with every close
CLOSES = 1
CLIENTS = 4
#: untimed mix rounds before the measured ones: the JVM keeps compiling
#: hot code for several rounds, and CPU per op falls until it is done
WARMUP_ROUNDS = 2
#: measured mix rounds: a fixed count, like ``CLOSES``, so that CPU per op
#: does not depend on how many rounds fit in a time window (later rounds
#: are cheaper, the JVM still compiling)
MEASURED_ROUNDS = 2

BI_QUERIES = [
    "persona_segmentation", "multi_grain_spend_ratio",
    "rollup_spend_nation_month", "industry_spend_share",
    "window_dedup_latest", "topk_per_group", "fingerprint_probe_map",
    "asof_join_last_purchase", "pricing_summary_window",
]
CORPUS_QUERIES = [
    "dedup_minhash_lsh", "dedup_exact", "corpus_prep_e2e", "ann_lsh_topk",
    "ann_bruteforce_topk", "text_quality_score",
]
#: mix entries that are not registry queries
SNAPSHOT_READS = ["snapshot_set_read", "snapshot_box_agg"]
INDEX_PROBE = "ann_index_probe"
MIX = BI_QUERIES + SNAPSHOT_READS + CORPUS_QUERIES + [INDEX_PROBE]
#: measured with a no-op sink (the result is checked in the warm-up round)
NOOP_SINK = {"pricing_summary_window"}

STAGES = [
    "s0_domain", "s1_fingerprint_map", "s2_patron_dims", "s3_restaurant_map",
    "s4_billing_groups", "s5_bi_reporting", "s6_publish_deltalog",
]


def month_of(index: int) -> int:
    """``yyyymm`` of the ``index``-th month (0-based) of the order history."""
    y, m = divmod(index, 12)
    return (1995 + y) * 100 + m + 1


def read_table(sf_dir: str, name: str) -> pd.DataFrame:
    """One input table as pandas (a parquet file or a directory of parts)."""
    return pq.read_table(catalog.table_path(sf_dir, name)).to_pandas()


def _month_window(month: int) -> tuple[int, int]:
    return month * 100 + 1, month * 100 + 31


def _local(uri: str) -> str:
    return uri.removeprefix("file://").removeprefix("file:")


class Workload:
    """Shared bookkeeping: op records, failures, set-up timings."""

    name = ""

    def __init__(self, spark, work: str, seed: int, scale: str, tracer, corrupt: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.sf, self.copies = SCALES[self.name][scale]
        self.tracer = tracer
        self.corrupt = corrupt
        self.setup_parts: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        #: measured ops: (op_id, mix entry, start, end)
        self.ops: list[tuple[str, str, float, float]] = []
        self.op_wchar = 0
        #: CPU seconds of the process tree during the measured ops, and
        #: the host's speed meanwhile (``SpeedProbe.speed``)
        self.op_cpu: list[float] = []
        self.op_speed: list[float] = []

    def _timed(self, part: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.setup_parts[part] = time.perf_counter() - t0
        return out

    def _inputs(self) -> str:
        """The fixture directory, or its amplified copy under the work dir:
        ``tools/bench_pipeline.amplify`` (key-offset copies of orders and
        customer, other tables single-copy), which takes its source, target
        and copy count from module globals."""
        src = os.path.join(FIXTURES, self.sf)
        if self.copies == 1:
            return src
        bench_pipeline.SRC = src
        bench_pipeline.DST = os.path.join(self.work, "data")
        bench_pipeline.COPIES = self.copies
        self._timed("amplify_s", bench_pipeline.amplify, self.spark)
        return bench_pipeline.DST

    @contextmanager
    def _cpu_meter(self):
        """The process tree's CPU seconds over the block, less the speed
        probe's own, and the host's speed over it."""
        c0 = tree_cpu_s()
        with SpeedProbe() as probe:
            yield
        self.op_cpu.append(tree_cpu_s() - c0 - probe.cpu_s)
        self.op_speed.append(probe.speed)

    def host_speed(self) -> float:
        return median(self.op_speed)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def _job_group(self, op_id: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(op_id, op_id)

    def _space_amp(self, base_dir: str) -> float:
        """Bytes on disk under a published warehouse over the bytes of the
        data files its latest set references."""
        tables = deltalog.read_published_set_deltalog(self.spark, base_dir)
        referenced = sum(
            os.path.getsize(_local(f)) for df in tables.values() for f in df.inputFiles()
        )
        return dir_bytes(base_dir) / referenced

    def setup_metrics(self) -> dict[str, float]:
        return {f"setup.{k}": v for k, v in self.setup_parts.items()}


# --------------------------------------------------------------------------
# month_close_10x
# --------------------------------------------------------------------------


class MonthClose(Workload):
    name = "month_close_10x"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # closes start between month 60 and 70 of the 80 and never reach
        # the last one; the bootstrap covers every month before the first
        self.first = self.rng.randint(60, 70)
        self.months = [month_of(i) for i in range(self.first, self.first + CLOSES)]
        self.reports: list[list[dict]] = []
        self.close_logs: list[dict] = []

    def setup(self) -> None:
        self.sf_dir = self._inputs()
        dom = build_domain(self.spark, self.sf_dir)
        prev = month_of(self.first - 1)
        self.stage_dir = os.path.join(self.work, "warehouse")
        self.publish = os.path.join(self.stage_dir, "publish")
        self.dom, _, _ = self._timed(
            "bootstrap_load_s", staged.run_monthly_load_staged,
            self.spark, dom, (19950101, prev * 100 + 31), self.stage_dir,
        )

    def prepare(self) -> None:
        orders = read_table(self.sf_dir, "orders")
        self.n_supp = len(read_table(self.sf_dir, "supplier"))
        self.o_month = (orders.o_orderdate.dt.year * 100 + orders.o_orderdate.dt.month).to_numpy()
        self.o_unmapped_site = ((orders.o_orderkey % self.n_supp) % 4 == 0).to_numpy()
        self.fact_rows = len(orders)
        self.fact_cents = int(np.round(orders.o_totalprice.to_numpy() * 100).astype(np.int64).sum())

    def golden(self, month: int) -> dict[str, int]:
        """The validation dict a correct close of ``month`` returns: every
        in-window row mapped except those of merchants the restaurant dim
        lacks (``site % 4 == 0``)."""
        in_month = self.o_month == month
        return {
            "stage1_unmapped_after": 0,
            "stage2_unmapped_after": 0,
            "stage3_unmapped_restaurants": int((in_month & self.o_unmapped_site).sum()),
            "stage3_unmapped_fingerprints": 0,
            "stage4_unmapped_after": 0,
            "stage5_bridge_rows": sum(1 for s in range(self.n_supp) if s % 4 != 0),
        }

    def _fact_digest(self, month: int) -> dict:
        """Row count and exact amount of the published fact, plus an
        order-insensitive hash of its rows outside ``month``."""
        fact = deltalog.read_published_set_deltalog(self.spark, self.publish)["fact_transaction"]
        lo, hi = _month_window(month)
        outside = ~F.col("datekey").between(lo, hi)
        row = fact.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount").alias("amount"),
            F.bit_xor(F.when(outside, F.xxhash64(*fact.columns))).alias("h"),
            F.count(F.when(outside, 1)).alias("n_out"),
        ).first()
        return {"n": row.n, "cents": int(row.amount * 100), "outside": (row.h, row.n_out)}

    def _log_files(self) -> set[str]:
        return set(glob.glob(os.path.join(self.publish, "**", "_delta_log", "*.json"), recursive=True))

    def run_op(self) -> bool:
        month = self.months[len(self.ops)]
        op_id = f"close-{len(self.ops)}-{month}"
        before_logs = self._log_files()
        before_outside = self._fact_digest(month)["outside"]
        marks: list[float] = []

        def snapshot():
            marks.append(time.time())
            return {"t": marks[-1]}

        w0 = tree_wchar()
        self._job_group(op_id)
        with self._cpu_meter(), self.tracer.op(op_id), self.tracer.span("op.month_close"):
            t0 = time.perf_counter()
            try:
                dom, metrics, report = staged.run_monthly_load_staged(
                    self.spark, self.dom, _month_window(month), self.stage_dir,
                    snapshot=snapshot if self.tracer.enabled else None,
                )
            except Exception as exc:  # noqa: BLE001 — a failed close is counted
                self.record(False, f"{op_id}: {type(exc).__name__}: {exc}"[:300])
                return False
            t1 = time.perf_counter()
        wrote = tree_wchar() - w0
        self._job_group("untimed")  # the checks below are not the close's jobs
        self.ops.append((op_id, "month_close", t0, t1))
        self.op_wchar += wrote
        # the next close must start from the Domain this close returned:
        # barrier outputs are overwritten in place under the same stage dir
        self.dom = dom
        self.reports.append(report)

        if self.corrupt:
            metrics = dict(metrics, stage2_unmapped_after=metrics["stage2_unmapped_after"] + 1)
        after = self._fact_digest(month)
        checks = {
            "validation": metrics == self.golden(month),
            "rows": after["n"] == self.fact_rows,
            "amount": after["cents"] == self.fact_cents,
            "outside_unchanged": after["outside"] == before_outside,
        }
        bad = [k for k, ok in checks.items() if not ok]
        self.record(not bad, f"{op_id}: {bad}")

        stats = {"commits": 0, "files_added": 0, "files_removed": 0,
                 "bytes_rewritten_mb": 0.0, "add_bytes": 0}
        for path in self._log_files() - before_logs:
            with open(path) as fh:
                actions = [json.loads(x) for x in fh if x.strip()]
            adds = [a["add"].get("size", 0) for a in actions if "add" in a]
            removes = sum(1 for a in actions if "remove" in a)
            stats["commits"] += 1
            stats["files_added"] += len(adds)
            stats["files_removed"] += removes
            stats["add_bytes"] += sum(adds)
            if removes:
                stats["bytes_rewritten_mb"] += sum(adds) / 1e6
        stats["write_amp"] = wrote / stats["add_bytes"] if stats["add_bytes"] else 0.0
        stats["marks"] = marks
        self.close_logs.append(stats)
        return True

    def measure(self, seconds: float) -> float:
        """``CLOSES`` closes, whatever ``seconds`` is; returns the busy time
        (the untimed checks between closes excluded)."""
        for _ in self.months:
            if not self.run_op():
                break
        return sum(e - s for _, _, s, e in self.ops)

    def ops_per_s(self) -> float:
        """Closes per second of close time: ``1 / close_s`` with one close."""
        return len(self.ops) / sum(e - s for _, _, s, e in self.ops) if self.ops else 0.0

    def op_p50(self) -> float:
        return median(e - s for _, _, s, e in self.ops)

    def cpu_s_per_op(self) -> float:
        """CPU seconds per close at the reference host speed."""
        return median(c * s for c, s in zip(self.op_cpu, self.op_speed))

    def check(self) -> None:
        """Closes are checked as they complete."""

    def space_amp(self) -> float:
        return self._space_amp(self.publish)

    def layer_metrics(self, snap: dict | None) -> dict[str, float]:
        logs = self.close_logs
        out = {
            "deltalog.commits_per_close": median(c["commits"] for c in logs),
            "deltalog.files_added": median(c["files_added"] for c in logs),
            "deltalog.files_removed": median(c["files_removed"] for c in logs),
            "deltalog.bytes_rewritten_mb": median(c["bytes_rewritten_mb"] for c in logs),
            "deltalog.write_amp": median(c["write_amp"] for c in logs),
        }
        for stage in STAGES:
            out[f"pipeline.{stage}.s"] = median(
                r["wall_sec"] for rep in self.reports for r in rep if r["stage"] == stage
            )
        if snap is None:
            return out
        # the snapshot hook marks every barrier: jobs submitted between two
        # marks belong to the stage that ended at the second one
        per_stage: dict[str, list[dict]] = {s: [] for s in STAGES}
        for log in logs:
            marks = log["marks"]
            for i, stage in enumerate(STAGES[: len(marks) - 1]):
                lo, hi = marks[i], marks[i + 1]
                ids = [j for j, job in snap["jobs"].items() if job["start"] and lo <= job["start"] < hi]
                tot = job_totals(snap, ids)
                tot["gap_s"] = (hi - lo) - tot["busy_s"]
                per_stage[stage].append(tot)
        for stage, rows in per_stage.items():
            out[f"pipeline.{stage}.jobs"] = median(r["jobs"] for r in rows)
            out[f"pipeline.{stage}.shuffle_write_mb"] = median(r["shuffle_write_mb"] for r in rows)
            out[f"pipeline.{stage}.output_mb"] = median(r["output_mb"] for r in rows)
            out[f"pipeline.{stage}.driver_gap_s"] = median(r["gap_s"] for r in rows)
        return out


# --------------------------------------------------------------------------
# bi_reads_4c
# --------------------------------------------------------------------------


class BiReads(Workload):
    name = "bi_reads_4c"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.mapped = [month_of(self.rng.randint(1, N_MONTHS - 2))]
        self.results: list[tuple[str, str, object]] = []
        self.golden: dict[str, tuple] = {}

    def setup(self) -> None:
        self.sf_dir = self._inputs()
        self.n_supp = len(read_table(self.sf_dir, "supplier"))
        self.wh = os.path.join(self.work, "warehouse")
        self.index = os.path.join(self.work, "index")
        self._timed("warehouse_publish_s", self._publish)
        emb = catalog.load_table(self.spark, self.sf_dir, "embeddings")
        self._timed("index_build_s", annindex.ann_index_build, self.spark, emb, self.index)

    def _publish(self) -> None:
        """Bootstrap the warehouse, then one month-scoped incremental
        publish per mapped month (restaurant keys filled in for that
        month), so reads replay a multi-commit log."""
        dom = build_domain(self.spark, self.sf_dir)
        site = dom.raw_transactions.select("txn_id", "site_id")
        cols = dom.fact_transaction.columns
        month = (F.col("datekey") / 100).cast("int")

        def fact(mapped: list[int]):
            key = F.when(
                month.isin(mapped) & (F.col("site_id") % 4 != 0), F.col("site_id") + 1
            ).otherwise(F.col("restaurant_key"))
            return (
                dom.fact_transaction.join(site, "txn_id")
                .withColumn("restaurant_key", key.cast("long"))
                .select(*cols)
            )

        for k in range(len(self.mapped) + 1):
            deltalog.publish_set_deltalog(
                [("fact_transaction", fact(self.mapped[:k])),
                 ("dim_restaurant", dom.dim_restaurant)],
                self.wh,
                optimize={"fact_transaction": {"zorder_by": ["datekey", "restaurant_key"]}},
                incremental={
                    "fact_transaction": {
                        "on": ["txn_id"], "datekey_col": "datekey",
                        "window": _month_window(self.mapped[max(k - 1, 0)]),
                        "delete_unmatched_source": True,
                    },
                    "dim_restaurant": {
                        "on": ["restaurant_key"], "grain": "dim",
                        "delete_unmatched_source": True,
                    },
                },
            )

    # -- the mix --------------------------------------------------------

    def _box(self) -> dict[str, tuple[int, int]]:
        """A week of the first mapped month by half the restaurants — the
        shape of the stage-5 BI aggregations."""
        lo = self.mapped[0] * 100 + 1
        return {"datekey": (lo, lo + 6), "restaurant_key": (1, max(1, self.n_supp // 2))}

    def _frame(self, entry: str):
        spark = self.spark
        if entry in REGISTRY:
            return REGISTRY[entry].spark(spark, self.sf_dir)
        if entry == "snapshot_set_read":
            t = deltalog.read_published_set_deltalog(spark, self.wh)
            return (
                t["fact_transaction"].join(t["dim_restaurant"], "restaurant_key")
                .groupBy("restaurant_key", (F.col("datekey") / 100).cast("int").alias("month"))
                .agg(F.count(F.lit(1)).alias("n"),
                     (F.sum("amount") * 100).cast("long").alias("cents"))
            )
        if entry == "snapshot_box_agg":
            box = self._box()
            pred = F.col("datekey").between(*box["datekey"]) & F.col(
                "restaurant_key").between(*box["restaurant_key"])
            fact = deltalog.read_delta_table(
                spark, os.path.join(self.wh, "fact_transaction"), stats_filter=box
            )
            return fact.filter(pred).agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce((F.sum("amount") * 100).cast("long"), F.lit(0)).alias("cents"),
            )
        if entry == INDEX_PROBE:
            cells = deltalog.read_delta_table(spark, os.path.join(self.index, annindex.CELLS))
            queries = cells.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "qv", "norm2")
            return annindex.ann_index_probe(spark, queries, self.index)
        raise KeyError(entry)

    def run_entry(self, entry: str, op_id: str, measured: bool) -> None:
        self._job_group(op_id)
        with self.tracer.op(op_id), self.tracer.span(f"op.{entry}"):
            t0 = time.perf_counter()
            try:
                df = self._frame(entry)
                if measured and entry in NOOP_SINK:
                    df.write.format("noop").mode("overwrite").save()
                    res = None
                else:
                    res = df.toPandas()
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                self.results.append((op_id, entry, exc))
                return
            t1 = time.perf_counter()
        if measured:
            self.ops.append((op_id, entry, t0, t1))
        self.results.append((op_id, entry, res))

    def _rounds(self, tag: str, rounds: int, measured: bool) -> None:
        """Every mix entry once per round, each round in a seeded order. The
        clients pull the ops from one queue, each starting its next op when
        the previous one completes."""
        queue = list(enumerate(e for _ in range(rounds) for e in self.rng.sample(MIX, len(MIX))))
        lock = threading.Lock()

        def client():
            while True:
                with lock:
                    if not queue:
                        return
                    i, entry = queue.pop(0)
                self.run_entry(entry, f"{tag}-{i}-{entry}", measured)

        threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def prepare(self) -> None:
        """Oracle results — DuckDB over the fixture files for registry
        queries and the index probe, pandas for the snapshot reads — then
        ``WARMUP_ROUNDS`` warm-up rounds, checked like the measured ops."""
        con = duckdb.connect()
        for t in catalog.TABLES:
            path = catalog.table_path(self.sf_dir, t)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for entry in BI_QUERIES + CORPUS_QUERIES:
            self.golden[entry] = canon(con.execute(REGISTRY[entry].oracle).fetchdf())
        probe = con.execute(REGISTRY["ann_index_build_probe"].oracle).fetchdf()
        self.golden[INDEX_PROBE] = canon(probe[["query_id", "neighbor_id", "cosine", "rank"]])
        con.close()

        orders = read_table(self.sf_dir, "orders")
        o = pd.DataFrame({
            "datekey": orders.o_orderdate.dt.strftime("%Y%m%d").astype(int),
            "cents": np.round(orders.o_totalprice.to_numpy() * 100).astype(np.int64),
            "site": orders.o_orderkey % self.n_supp,
        })
        o["month"] = o.datekey // 100
        mapped = o[o.month.isin(self.mapped) & (o.site % 4 != 0)].copy()
        mapped["restaurant_key"] = mapped.site + 1
        agg = mapped.groupby(["restaurant_key", "month"]).agg(
            n=("cents", "size"), cents=("cents", "sum")).reset_index()
        self.golden["snapshot_set_read"] = canon(agg)
        box = self._box()
        b = mapped[mapped.datekey.between(*box["datekey"])
                   & mapped.restaurant_key.between(*box["restaurant_key"])]
        self.golden["snapshot_box_agg"] = canon(
            pd.DataFrame({"n": [len(b)], "cents": [int(b.cents.sum())]}))

        self._rounds("warm", WARMUP_ROUNDS, measured=False)

    def measure(self, seconds: float) -> float:
        """``MEASURED_ROUNDS`` rounds, whatever ``seconds`` is; returns their
        wall time."""
        w0 = tree_wchar()
        t0 = time.perf_counter()
        with self._cpu_meter():
            self._rounds("m", MEASURED_ROUNDS, measured=True)
        self.window_s = time.perf_counter() - t0
        self.op_wchar = tree_wchar() - w0
        return self.window_s

    def ops_per_s(self) -> float:
        return len(self.ops) / self.window_s

    def op_p50(self) -> float:
        """Median over mix entries of each entry's median latency: every
        entry weighs the same whatever the number of rounds."""
        return median(
            median(e - s for _, n, s, e in self.ops if n == entry)
            for entry in MIX if any(o[1] == entry for o in self.ops)
        )

    def cpu_s_per_op(self) -> float:
        """CPU seconds of the measured window at the reference host speed
        over the ops in it: the four clients' ops overlap, so CPU is not
        split op by op."""
        return self.op_cpu[0] * self.op_speed[0] / max(1, len(self.ops))

    def check(self) -> None:
        for i, (op_id, entry, res) in enumerate(self.results):
            if isinstance(res, Exception):
                self.record(False, f"{op_id}: {type(res).__name__}: {res}"[:300])
                continue
            if res is None:  # no-op sink
                self.record(True, op_id)
                continue
            if entry == INDEX_PROBE:
                res = res[["query_id", "neighbor_id", "cosine", "rank"]]
            if self.corrupt and i == 0:
                res = res.iloc[1:]
            got = canon(res)
            self.record(got == self.golden[entry], f"{op_id}: {got[0]} rows, hash differs")

    def space_amp(self) -> float:
        return self._space_amp(self.wh)

    def layer_metrics(self, snap: dict | None) -> dict[str, float]:
        out: dict[str, float] = {}
        for entry in MIX:
            ops = [o for o in self.ops if o[1] == entry]
            out[f"queries.{entry}.p50_s"] = median(e - s for _, _, s, e in ops)
            if snap is not None:
                out[f"queries.{entry}.jobs"] = median(
                    sum(1 for j in snap["jobs"].values() if j["group"] == op_id)
                    for op_id, _, _, _ in ops
                )
        if snap is not None:
            box = self._box()
            fact = os.path.join(self.wh, "fact_transaction")
            pruned = deltalog.read_delta_table(self.spark, fact, stats_filter=box).inputFiles()
            full = deltalog.read_delta_table(self.spark, fact).inputFiles()
            out["deltalog.prune_ratio"] = len(pruned) / len(full)
        return out


WORKLOADS = {w.name: w for w in (MonthClose, BiReads)}
