"""Physical-plan shape assertions (SURVEY §4 discipline).

Correctness says the values match; these tests pin the properties that make
the same queries viable at 100 TB — filters reaching the parquet scan,
column pruning, dimension broadcasts, whole-stage codegen — so a refactor
that silently de-optimizes a plan fails CI, not the cluster.
"""

from __future__ import annotations

from etl_loading_scripts_spark.queries import REGISTRY


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_sargable_range_is_pushed_to_scan(spark, sf_dir):
    plan = plan_of(REGISTRY["pricing_summary_window"].spark(spark, sf_dir))
    pushed = plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_shipdate" in pushed


def test_in_list_and_null_predicates_pushed(spark, sf_dir):
    plan = plan_of(REGISTRY["in_list_whitelist"].spark(spark, sf_dir))
    assert "In(o_orderpriority" in plan
    assert "IsNotNull(o_orderdate" in plan
    # the nation whitelist prunes on ITS scan too, before the join
    assert "In(n_name" in plan


def test_columns_are_pruned_at_scan(spark, sf_dir):
    # 16-column lineitem, query touches 4 → ReadSchema must not list the rest
    plan = plan_of(REGISTRY["pricing_summary_window"].spark(spark, sf_dir))
    read = plan.split("ReadSchema", 1)[1].split("\n", 1)[0]
    assert "l_returnflag" in read and "l_quantity" in read
    assert "l_comment" not in read and "l_partkey" not in read


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = plan_of(REGISTRY["rollup_spend_nation_month"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation
    assert "SortMergeJoin" not in plan
    assert "Expand" in plan  # ROLLUP grains share one scan via expand


def test_fingerprint_probe_stays_in_codegen(spark, sf_dir):
    plan = plan_of(REGISTRY["fingerprint_probe_map"].spark(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # registry side broadcasts
    # AQE wraps the plan before execution, hiding codegen spans — inspect
    # with AQE off to assert the md5 projection compiles into codegen
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["fingerprint_probe_map"].spark(spark, sf_dir)
        codegen = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
        n = int(codegen.split(" WholeStageCodegen subtrees", 1)[0].split()[-1])
        assert n >= 2, codegen.split("\n", 1)[0]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_exact_dedup_is_single_shuffle(spark, sf_dir):
    plan = plan_of(REGISTRY["dedup_exact"].spark(spark, sf_dir))
    # one Exchange for the groupBy; the join-back reuses it (+1 broadcast at
    # most under AQE) — a second hash-partitioning of the corpus is a bug
    assert plan.count("Exchange hashpartitioning") <= 2


def test_no_python_udf_in_reference_queries(spark, sf_dir):
    """SURVEY §2.9: reference parity needs zero Python UDFs — everything
    stays JVM-side. (LLM multimodal ops legitimately use mapInPandas.)"""
    for name in (
        "persona_segmentation",
        "merge_full_sync",
        "update_fact_sentinel",
        "new_fingerprint_insert",
        "window_dedup_latest",
        "multi_grain_spend_ratio",
    ):
        plan = plan_of(REGISTRY[name].spark(spark, sf_dir))
        assert "EvalPython" not in plan, name


# queries whose CALL executes work (streams, pipeline runs, iterative
# loops) rather than just building a plan — excluded from the sweep
_EXECUTING = {
    "stream_windowed_agg",
    "stream_sliding_window_agg",
    "stream_stateful_totals",
    "stream_sessionize_timeout",
    "stream_first_touch",
    "stream_stream_join",
    "stream_stream_left_join",
    "stream_dedup_events",
    "stream_static_enrich",
    "stream_windowed_topk",
    "stream_ewma_user_value",
    "monthly_load_e2e",
    "dedup_clusters",
    "dedup_clusters_bigstar",
    "dedup_keep_best",  # composes dedup_clusters (driver-loop CC)
}

# BroadcastNestedLoopJoin is legitimate ONLY where one side is a bounded
# broadcast and the condition is a genuine inequality. Most such queries
# need NO entry here: a BNLJ whose build side is provably bounded by
# CONSTRUCTION (single-row global aggregate, VALUES literal table,
# LIMIT k, range — `plancheck.plan_is_bounded`) is safe without review,
# and `broadcast_scalar`/`literal_table` are the authoring APIs that
# guarantee that shape (VERDICT r5 item 4: ~50 name entries → structural
# proof + this irreducible list). What remains is the genuinely
# irregular set — build sides whose boundedness is a DATA property the
# plan can't prove (grouped-aggregate centroid tables, filter-derived
# query sets, calendar-grain spines), each runtime-guarded by
# test_bnlj_build_sides_are_bounded_grain:
_BNLJ_OK = {
    "ann_bruteforce_topk",  # 10-query set via vec_id filter on the scan
    "ann_ivf_topk",  # centroid table: grouped agg over hash-cells (C≤16)
    "kmeans_update_step",  # same grouped-agg centroid shape
    "kmeans_lloyd_two_iter",  # two assignment rounds of the same shape
    "rolling_7day_distinct_hll",  # day-grain spine (calendar-bounded, not plan-bounded)
    "dedup_semantic_clusters",  # grouped-agg K-centroid table
    "knn_join_ivf",  # grouped-agg centroid table
    "kmv_set_overlap",  # |types|² pair spine from a grouped distinct
    "ann_recall_audit",  # inherits ann_bruteforce_topk's filter-derived query set
    "decontam_embedding_overlap",  # benchmark sample via filter on the scan
    "negative_sampling_pairs",  # candidate slice via filter on the scan
    "fx_effective_rate_normalize",  # month grid from a grouped distinct (calendar-bounded)
    "embedding_truncation_fidelity",  # two filter-derived query sets
    "ann_probe_cost_audit",  # filter-derived query set + probe cells
    "ivf_cell_balance_audit",  # grouped-agg centroid table
    "ann_mrr_audit",  # filter-derived query set + centroid assignment
    "ann_clustered_recall_audit",  # same filter-derived query set + centroid shapes, clustered fixture
    "ann_clustered_multiprobe_pq_audit",  # same filter-derived 10-query set, clustered fixture (r7)
    "ann_index_build_probe",  # persisted-index centroid table (C = corpus/50 ≤ 10 at sf0.01)
    "ann_index_multiprobe",  # same persisted centroid table, nprobe=2 query assignment
}

# Python evaluation is legitimate ONLY in Arrow-batched kernels: the
# multimodal decode path and the Misra-Gries partition summaries.
_PYTHON_OK = {
    "mm_decode_features",
    "mm_decode_real",  # genuine BMP/PPM codec, Arrow-batched mapInPandas
    "mm_decode_png",  # genuine PNG codec (zlib+defilter), Arrow-batched
    "mm_audio_wav_stats",  # genuine RIFF/WAVE parser, Arrow-batched
    "mm_resize",
    "heavy_hitter_mg_sketch",
    "nation_revenue_trend",  # grouped-map OLS kernel over month-grain aggregates
    "mm_image_dhash_dedup",  # real-BMP round-trip + dHash, Arrow-batched mapInPandas
    "mm_audio_vad_frames",  # real-WAV round-trip + frame VAD, Arrow-batched mapInPandas
}


# Grain bounds for the BNLJ allow-list (VERDICT r4 item 8): the allow-list
# names WHICH queries may nested-loop-join; this pins WHAT they may
# broadcast. Measured build-side rows at sf0.001 are 1-80 (single-row
# stats, 10-query sets, K≤16 centroids, lag/threshold sweeps); the default
# bound of 64 is far above every point grain yet far below the smallest
# corpus table (customer: 150 rows at sf0.001), so a refactor that swaps
# the broadcast to the corpus side fails this ratchet even though the
# query name stays allow-listed. Calendar-grain builds get their own
# calendar-bounded caps (they grow with the date span, never with rows).
_BNLJ_DEFAULT_BOUND = 64
_BNLJ_BUILD_BOUNDS = {
    "rolling_7day_distinct_hll": 1100,  # day-grain spine: ≤ ~3 years of days
    "fx_effective_rate_normalize": 1200,  # month grid: ≤ 100 years of months
}


def _bnlj_build_rows(df) -> list[int]:
    """Execute ``df`` and return the RUNTIME row count of every
    BroadcastNestedLoopJoin's build side (from the build-side
    BroadcastExchange's numOutputRows metric), walking through AQE
    wrappers, query stages, and exchange reuse."""
    df.collect()

    def first_bex(node):
        name = node.getClass().getSimpleName()
        if name == "BroadcastExchangeExec":
            return node
        if name == "ReusedExchangeExec":
            return first_bex(node.child())
        if name.endswith("QueryStageExec"):
            return first_bex(node.plan())
        ch = node.children()
        for i in range(ch.size()):
            r = first_bex(ch.apply(i))
            if r is not None:
                return r
        return None

    out: list[int] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if name == "BroadcastNestedLoopJoinExec":
            side = node.buildSide().toString()
            bex = first_bex(node.children().apply(1 if side == "BuildRight" else 0))
            if bex is not None:
                it = bex.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == "numOutputRows":
                        out.append(int(kv._2().value()))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_bnlj_build_sides_are_bounded_grain(spark, sf_dir):
    """Every allow-listed BroadcastNestedLoopJoin must broadcast the
    BOUNDED side at runtime. The name-only allow-list would still pass if
    a refactor swapped which side broadcasts (VERDICT r4 item 8); this
    executes each query and asserts the actual broadcast row counts."""
    problems = []
    for name in sorted(_BNLJ_OK):
        q = REGISTRY.get(name)
        if q is None or name in _EXECUTING:
            continue
        bound = _BNLJ_BUILD_BOUNDS.get(name, _BNLJ_DEFAULT_BOUND)
        rows = _bnlj_build_rows(q.spark(spark, sf_dir))
        too_big = [r for r in rows if r > bound]
        if too_big:
            problems.append(f"{name}: BNLJ build rows {too_big} > bound {bound}")
    assert not problems, problems


def test_bnlj_grain_guard_detects_injected_swap(spark, sf_dir):
    """Self-test of the ratchet: a deliberately swapped BNLJ (corpus side
    broadcast) must measure ABOVE the default bound — proving the guard
    can actually fail, not just vacuously pass."""
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.catalog import load_table

    big = load_table(spark, sf_dir, "customer").select("c_custkey")
    tiny = spark.range(3).select(F.col("id").alias("lo"))
    swapped = tiny.join(
        F.broadcast(big), F.col("c_custkey") > F.col("lo"), "inner"
    ).groupBy("lo").count()
    rows = _bnlj_build_rows(swapped)
    assert rows and max(rows) > _BNLJ_DEFAULT_BOUND, rows


import pytest


@pytest.fixture(scope="session")
def registry_plans(spark, sf_dir):
    """Every non-executing registered query's formatted physical plan,
    computed ONCE per session (r15 — VERDICT r14 item 1): the two
    registry-wide sweeps each paid the full ~145 s of query-builder +
    planner work; sharing the map halves the suite's dominant fixed
    cost. DataFrame construction stays serial (builders plant fixtures
    and run driver jobs — not concurrency-safe); the JVM planning/
    stringification is safely parallel per-QueryExecution."""
    from concurrent.futures import ThreadPoolExecutor

    dfs = {
        name: q.spark(spark, sf_dir)
        for name, q in sorted(REGISTRY.items())
        if name not in _EXECUTING
    }

    def _plan(item):
        name, df = item
        return name, plan_of(df)

    with ThreadPoolExecutor(max_workers=8) as pool:
        return dict(pool.map(_plan, dfs.items()))


def test_no_antipatterns_across_registry(spark, sf_dir, registry_plans):
    """Every registered query plans without cartesian products, without
    unapproved nested-loop joins, and without row-at-a-time Python. A
    BNLJ passes either structurally — every build side provably bounded
    by construction (`plancheck.plan_is_bounded`: global aggregates,
    VALUES literals, LIMIT k) — or by an explicit _BNLJ_OK entry for
    the data-bounded irregular cases (those get the runtime grain guard
    below)."""
    from etl_loading_scripts_spark.plancheck import bnlj_builds_bounded

    problems = []
    for name, plan in sorted(registry_plans.items()):
        if "CartesianProduct" in plan:
            problems.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_OK:
            # only the rare unlisted-BNLJ case needs the DataFrame back
            builds = bnlj_builds_bounded(REGISTRY[name].spark(spark, sf_dir))
            if not (builds and all(builds)):
                problems.append(
                    f"{name}: BroadcastNestedLoopJoin with unproven build "
                    f"side (bounded={builds}) — use broadcast_scalar/"
                    "literal_table, or add an _BNLJ_OK entry + grain bound"
                )
        if "EvalPython" in plan and name not in _PYTHON_OK:
            problems.append(f"{name}: Python eval in plan")
    assert not problems, problems


def test_partitioned_surrogate_keys_have_no_global_sort(spark, sf_dir):
    """The scale path of O44 (VERDICT r1 item 3): the partition-offset
    allocator must not fall back to a single-partition window sort."""
    df = REGISTRY["surrogate_key_allocation_partitioned"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange SinglePartition" not in plan, plan
    # r14: the rank pass is a partition-LOCAL sort over the persisted
    # range exchange (monotonically_increasing_id record numbers), no
    # Window operator at all — assert the local sort survives and no
    # global (cross-partition) sort snuck back in
    assert "Sort" in plan, plan
    assert "monotonically_increasing_id" in plan, plan


def test_spend_deciles_has_no_global_sort(spark, sf_dir):
    """NTILE via range-bucket global rank (VERDICT r1 item 6) — the plan
    must not contain a single-partition exchange."""
    plan = plan_of(REGISTRY["spend_deciles"].spark(spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan


def test_every_registered_query_has_an_oracle():
    """The driver scores oracle-less queries as errors (r1: no_oracle).
    Every registry entry must ship DuckDB oracle SQL so no future
    addition silently regresses to the weaker rows-only check."""
    from etl_loading_scripts_spark.queries import REGISTRY

    missing = [n for n, q in REGISTRY.items() if not q.oracle]
    assert not missing, f"queries without oracles: {missing}"


# An Exchange SinglePartition FEEDING a Window is the global-sort
# bottleneck pattern (one task sorts everything). Legitimate only when the
# windowed relation is dimension-/day-/bucket-grain — bounded rows by
# construction, documented per query:
_GLOBAL_WINDOW_OK = {
    "abc_pareto_classification",  # bucket-offset window over ~32 range buckets
    "cumulative_distinct_users",  # day-grain running sum (~|days| rows)
    "industry_spend_share",  # segment-grain share window (25 rows)
    "mixture_weights_temperature",  # source dimension (~20 rows)
    "month_over_month_growth",  # month-grain lag (~80 rows)
    "skyline_pareto",  # brand-grain frontier scan (bounded)
    "spend_concentration_gini",  # bucket-offset window over range buckets
    "surrogate_key_allocation",  # the documented small-dim path; scale twin exists
    "token_budget_apportionment",  # source-dimension remainder rank
    "top_nations_with_others",  # nation grain (25 rows)
    "top_percent_with_ties",  # customer dimension; fact-grain form uses ranks.py
}


def test_no_unpartitioned_fact_windows(registry_plans):
    """Ratchet: any query whose plan has BOTH a Window and an Exchange
    SinglePartition must be on the bounded-grain allow-list above —
    a new fact-grain global window can't slip in unreviewed."""
    problems = []
    for name, plan in sorted(registry_plans.items()):
        if name in _GLOBAL_WINDOW_OK:
            continue
        if "Window" in plan and "Exchange SinglePartition" in plan:
            problems.append(name)
    assert not problems, (
        f"unreviewed global-window queries: {problems} — either re-express "
        "via operators/ranks.py range-bucketed machinery or add to "
        "_GLOBAL_WINDOW_OK with a bounded-grain justification"
    )


def _shuffle_profile(spark, df):
    """Execute and walk the final adaptive plan, totalling shuffle
    records and leaf-scan rows (reused exchanges deduplicated) — the
    runtime twin of the static plan ratchets."""
    df.collect()
    jvm = spark._jvm
    seen: set[int] = set()
    tot = {"shuffle_records": 0, "rows_scanned": 0, "shuffle_bytes": 0}

    def walk(node):
        ident = jvm.java.lang.System.identityHashCode(node)
        if ident in seen:
            return
        seen.add(ident)
        cls = node.getClass().getSimpleName()
        if cls == "ReusedExchangeExec":
            return
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, val = kv._1(), kv._2().value()
            if val > 0 and key == "shuffleRecordsWritten":
                tot["shuffle_records"] += val
            elif val > 0 and key == "shuffleBytesWritten":
                tot["shuffle_bytes"] += val
            elif val > 0 and key == "numOutputRows" and node.nodeName().startswith("Scan "):
                tot["rows_scanned"] += val
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(node.plan())
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return tot


def test_shuffle_ratios_stay_bounded(spark, sf_dir):
    """Runtime shuffle ratchet (SCALING.md r5 profile): for the
    queries whose plans collapse map-side, the records moved through
    exchanges must stay proportional to the RESULT cardinality (each
    map task emits at most one partial row per group), never to the
    scan — a regression that re-shuffles the scan (lost partial agg,
    lost broadcast) trips this at any scale factor, long before
    wall-clock moves. Scale-factor-safe formulation: bound =
    tasks_factor x result_rows + slack, not a scan ratio (at tiny SF
    the group count can approach the row count and ratios lie)."""
    from etl_loading_scripts_spark.queries import REGISTRY

    # query -> (multiplier on result rows, absolute slack)
    bounds = {
        "pricing_summary_window": (10, 100),
        "json_props_extract": (10, 100),
        "multi_grain_spend_ratio": (10, 200),
        "rollup_spend_nation_month": (10, 200),
        "topk_per_group": (20, 500),
    }
    for name, (mult, slack) in bounds.items():
        df = REGISTRY[name].spark(spark, sf_dir)
        tot = _shuffle_profile(spark, df)
        n_result = df.count()
        limit = mult * n_result + slack
        assert tot["rows_scanned"] > 0, name
        assert tot["shuffle_records"] <= limit, (
            f"{name}: {tot['shuffle_records']} records shuffled for a "
            f"{n_result}-row result (limit {limit}, scanned "
            f"{tot['rows_scanned']}) — a plan regression is moving "
            "payload rows through an exchange"
        )
        # and the collapse is real: shuffled stays far below the scan
        assert tot["shuffle_records"] < 0.9 * tot["rows_scanned"], name


# Per-query cap on the AVERAGE shuffled bytes per record — the payload-
# leak detector (VERDICT r5 item 8). Record width through exchanges is
# scale-INVARIANT (same columns at any SF), so a bound set at test SF
# holds at 100 TB: a text/embedding column leaking into an exchange
# multiplies the width 10-100x and fails here, long before a bench read.
# Queries = the top-20 shufflers of the r6 full-registry profile
# (tools/bench_shuffle.py --all at sf0.01: 292 queries, 45 MB total,
# spill 0); bounds ~3x the measured width (graph edges ~9-10 B/rec,
# id+agg rows ~15-27 B/rec, HLL partials ~94 B/rec, percentile digests
# ~54-68 KB/rec — digest size is an accuracy constant, not data).
_SHUFFLE_WIDTH_BOUNDS = {
    "pagerank_two_iter": 30,
    "label_propagation_communities": 30,
    "word_cooccurrence_lift": 90,
    "copurchase_reach_3hop": 30,
    "triangle_count_copurchase": 30,
    "copurchase_part_pairs": 30,
    "frequent_triples_apriori": 30,
    "percentile_price_profile_approx": 250_000,
    "percentile_price_profile": 250_000,
    "backup_supplier_coverage": 30,
    "supplier_sole_blame": 45,
    "approx_distinct_monthly": 300,
    "weighted_median_price": 60,
    "sql_view_shipping_priority": 80,
    "line_sequence_integrity_audit": 50,
    "salted_join_skew_guard": 50,
    "doc_lm_score": 65,
    "rank_preference_case": 30,
    "negative_sampling_pairs": 70,
    "rolling_quarter_active_customers": 30,
    "sessionize_events_bucketed": 75,
    "shingle_df_distribution": 65,
}


def test_shuffle_width_stays_bounded(spark, sf_dir):
    """Registry-wide shuffle-WIDTH ratchet: for the top-20 shufflers of
    the full-registry profile, the average bytes moved per exchange
    record must stay at the ids+aggregates width the plans were designed
    around. A regression that drags a payload column (text, embedding
    array, raw struct) through an exchange fails this test at any scale
    factor — width is a schema property, not a data-volume property."""
    for name, bound in _SHUFFLE_WIDTH_BOUNDS.items():
        tot = _shuffle_profile(spark, REGISTRY[name].spark(spark, sf_dir))
        assert tot["shuffle_records"] > 0, name
        width = tot["shuffle_bytes"] / tot["shuffle_records"]
        assert width <= bound, (
            f"{name}: {width:.1f} B/record through exchanges (bound "
            f"{bound}) — a payload column is leaking into a shuffle"
        )


def test_pipeline_stage_shuffles_stay_bounded(spark, sf_dir, tmp_path):
    """Pipeline-level shuffle ratchet (VERDICT r5 item 1): run the
    staged five-stage monthly load and bound each stage OUTPUT's
    shuffled records against the fact cardinality. The sf0.1 10x sweep
    (tools/bench_pipeline.py, SCALING.md r6) measured every stage
    linear-or-better with wave barriers in place; this test pins that
    shape at test SF — a regression that re-derives a wave from raw on
    every action (the 17x-vs-10x slope bug the barriers fixed) or
    loses a dim broadcast shows up as a bound violation here, not in a
    bench read. Dim outputs and the stage-1 map must shuffle ~nothing
    (broadcast-built); fact updates may shuffle a small multiple of
    the fact (the update join's mapping side)."""
    from etl_loading_scripts_spark.pipeline.domain import build_domain, full_window
    from etl_loading_scripts_spark.pipeline.staged import run_monthly_load_staged

    dom = build_domain(spark, sf_dir)
    window = full_window(dom)
    n_fact = dom.fact_transaction.count()
    _, metrics, report = run_monthly_load_staged(
        spark, dom, window, str(tmp_path / "ratchet"),
        instrument=lambda df: _shuffle_profile(spark, df),
        publish=False,
    )
    # (stage, output) -> (multiplier on fact rows, absolute slack)
    bounds = {
        ("s1_fingerprint_map", "staging_map"): (0, 500),
        ("s1_fingerprint_map", "registry"): (0, 500),
        ("s2_patron_dims", "fact"): (3, 500),
        ("s2_patron_dims", "dim_patron"): (0, 500),
        ("s3_restaurant_map", "fact"): (3, 500),
        ("s3_restaurant_map", "dim_restaurant"): (0, 500),
        ("s4_billing_groups", "fact"): (3, 500),
        ("s4_billing_groups", "dim_billing_group"): (0, 500),
        ("s5_bi_reporting", "dim_restaurant"): (0, 500),
        ("s5_bi_reporting", "bridge"): (0, 500),
    }
    profs = {
        (r["stage"], k): v
        for r in report
        for k, v in r.get("profiles", {}).items()
    }
    for (stage, out_name), (mult, slack) in bounds.items():
        tot = profs[(stage, out_name)]
        limit = mult * n_fact + slack
        assert tot["shuffle_records"] <= limit, (
            f"{stage}/{out_name}: {tot['shuffle_records']} records "
            f"shuffled for a {n_fact}-row fact (limit {limit}) — a "
            "barrier was lost or a dim broadcast regressed to a shuffle"
        )
    # the load itself stayed correct while we profiled it
    assert metrics["stage2_unmapped_after"] == 0
    assert metrics["stage4_unmapped_after"] == 0


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """Dynamic partition pruning: the quarter rollup filters the
    CALENDAR DIM, never the fact, yet the month-partitioned fact scan
    must carry dynamicpruningexpression (the broadcast-subquery
    partition filter) and at runtime read only the quarter's
    partitions — the runtime twin of the static month pruning
    SURVEY §4 builds the layout for."""
    from pyspark.sql import functions as F

    from etl_loading_scripts_spark.sources.pruning import plant_partitioned_fact

    df = REGISTRY["dpp_quarter_rollup"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "dynamicpruning" in plan, plan[:2000]
    # runtime proof: scanned rows = quarter's fact rows + the calendar
    # dim's orders scan — far below fact + orders (no pruning)
    d = plant_partitioned_fact(spark, sf_dir)
    fact_total = spark.read.parquet(d).count()
    q2 = (
        spark.read.parquet(d)
        .filter((F.col("month") % 100).between(4, 6))
        .count()
    )
    assert 0 < q2 < fact_total
    tot = _shuffle_profile(spark, df)
    # orders is read once for the dim (fact_total == |orders| here)
    assert tot["rows_scanned"] <= q2 + fact_total + 10
    assert tot["rows_scanned"] < 2 * fact_total  # pruning actually happened
