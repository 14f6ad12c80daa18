"""Table-mutation primitives as pure DataFrame transforms.

The reference mutates SQL Server tables in place; Spark tables are immutable
files. Every in-place idiom becomes read → derive → (atomically) overwrite:
the five primitives here cover ~90% of the reference's statements
(SURVEY §7.1 M2). All are pure ``DataFrame -> DataFrame`` transforms; the
commit side lives in ``deltalog.py``.

Scale notes (100 TB): each primitive is a join or window over the target's
key — Catalyst picks broadcast when the mapping side is small, sort-merge
otherwise, and AQE handles skew. None of them collect to the driver except
``allocate_surrogate_keys``'s single MAX scalar (one row), and that one is
read from the parquet footers without a Spark job whenever the existing
keys are a bare local parquet scan. The fact-table variants are designed
to be run against a *month partition*, not the whole table — the
reference's own incremental guards (``DateKey BETWEEN`` + sentinel keys)
mean only ~1/100th of the data is rewritten per run.
"""

from __future__ import annotations

import json
from collections.abc import Mapping, Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType
from pyspark.sql.window import Window

_SRC_PREFIX = "__src__"


def src_col(name: str) -> Column:
    """Reference a *source* column inside a ``merge_upsert``
    ``update_condition`` / ``delete_guard`` expression (the joined frame
    carries source columns under an internal prefix)."""
    return F.col(_SRC_PREFIX + name)


def _prefix_columns(df: DataFrame, prefix: str = _SRC_PREFIX) -> DataFrame:
    return df.select([F.col(c).alias(prefix + c) for c in df.columns])


def insert_if_absent(
    target: DataFrame,
    source: DataFrame,
    on: Sequence[str],
    distinct: bool = True,
) -> DataFrame:
    """Append source rows whose key is not already in target.

    The reference's dominant idiom: LEFT JOIN target, keep ``target.key IS
    NULL``, INSERT (``script.sql(S2):23-28,57-63``, ``UpdtMapDimPatron.sql
    (P-PAT):48-62``) — i.e. a **left-anti join** guarded append. Idempotent:
    re-running with the same source is a no-op (SURVEY §5).

    Returns target ∪ (source ⟕anti target). Column order follows target.

    The anti-join is NULL-SAFE on the keys (ADVICE r1): a plain equi-anti
    join never matches NULL keys, so a NULL-keyed source row would be
    re-appended on every run, breaking the idempotence contract. Here NULL
    is one more key value — inserted at most once.
    """
    new_rows = source.select(target.columns)
    if distinct:
        new_rows = new_rows.dropDuplicates(list(on))
    keys = target.select(*on).distinct()
    cond = None
    for k in on:
        c = new_rows[k].eqNullSafe(keys[k])
        cond = c if cond is None else (cond & c)
    new_rows = new_rows.join(keys, on=cond, how="left_anti")
    return target.unionByName(new_rows)


def update_from_join(
    target: DataFrame,
    mapping: DataFrame,
    on: Sequence[str],
    set_cols: Mapping[str, str],
    guard: Column | None = None,
    mapping_order: Sequence[Column] | None = None,
) -> DataFrame:
    """Correlated ``UPDATE target SET c = m.x FROM target JOIN mapping`` —
    the reference's fact-FK mapping statement (``S2:31-37``, ``S3:26-29``,
    ``UpdMapDimRest.sql(P-RES):466-473``).

    - ``set_cols``: target column → mapping column supplying the new value.
    - ``guard``: predicate over *target* columns selecting updatable rows
      (the sentinel guards of SURVEY §7.4 R3, e.g. ``col('k') == 0``);
      rows failing the guard keep their values even when the join matches —
      the reference's "prevention of overwriting existing data"
      (``S4:102-107``).
    - ``mapping_order``: T-SQL UPDATE…FROM with a 1:N join picks an
      arbitrary matching row; this engine forces determinism by rank-1
      dedup of the mapping on ``on`` ordered by ``mapping_order`` (defaults
      to the mapping's non-key columns) — a documented behavioral
      improvement (SURVEY §7.4 R6).

    Untouched rows and columns pass through unchanged; the result has
    exactly the target's schema.
    """
    on = list(on)
    order = list(mapping_order) if mapping_order is not None else [
        F.col(c) for c in mapping.columns if c not in on
    ]
    w = Window.partitionBy(*on).orderBy(*order) if order else Window.partitionBy(*on).orderBy(F.lit(1))
    deduped = (
        mapping.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )
    src = _prefix_columns(deduped)
    join_cond = None
    for k in on:
        c = target[k].eqNullSafe(src[_SRC_PREFIX + k])
        join_cond = c if join_cond is None else (join_cond & c)
    matched = src[_SRC_PREFIX + on[0]].isNotNull()
    eligible = matched if guard is None else (matched & guard)

    joined = target.join(src, join_cond, "left")
    out_cols = []
    for c in target.columns:
        if c in set_cols:
            new_val = F.col(_SRC_PREFIX + set_cols[c])
            out_cols.append(F.when(eligible, new_val).otherwise(target[c]).alias(c))
        else:
            out_cols.append(target[c].alias(c))
    return joined.select(out_cols)


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    on: Sequence[str],
    update_cols: Sequence[str] | None = None,
    insert_defaults: Mapping[str, Column] | None = None,
    update_condition: Column | None = None,
    delete_unmatched_source: bool = False,
    delete_guard: Column | None = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """General ``MERGE`` (SURVEY §4.1, O4): full-outer join + per-column
    resolution, covering every MERGE shape in the reference:

    - update-when-matched / insert-when-not-matched
      (``BillingGroup_script.sql(S4):15-46``);
    - ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` full-sync
      (``delete_unmatched_source=True``; ``P-RES:70-217``, ``spScript.sql
      (P-SF):95-202``);
    - guarded delete — protected rows survive the sync
      (``delete_guard``; ``P-SF:201-202`` ``sfkey <> 'XXX…'``, ``P-SF:302``
      ``FingerprintID <> 0``);
    - update-only-when-changed (``update_condition``; ``P-SF:55-62``).

    ``update_cols`` defaults to every non-key column present in both frames.
    ``insert_defaults`` supplies values for target columns the source lacks
    (surrogate keys, audit timestamps). Duplicate source keys make a
    full-outer merge explode — callers must dedup first (rank-1 window, the
    reference's own discipline, ``S4:23,30``); this function asserts nothing
    and documents the contract instead of paying a count() per call.

    ``evolve_schema=True`` is Delta's ``mergeSchema``/autoMerge idiom:
    source columns absent from the target are ADDED to the result —
    pre-existing target rows carry NULL, matched/inserted rows take the
    source value. Off by default because silent widening is a schema
    governance decision, not a merge default.

    Scale: one shuffle on ``on`` (or broadcast if source is small); no
    driver-side data movement.
    """
    on = list(on)
    if evolve_schema:
        src_types = dict(source.dtypes)
        for c in source.columns:
            if c not in target.columns:
                target = target.withColumn(c, F.lit(None).cast(src_types[c]))
    if update_cols is None:
        update_cols = [c for c in target.columns if c not in on and c in source.columns]
    insert_defaults = dict(insert_defaults or {})

    # row presence after the full-outer join comes from synthetic non-null
    # markers, never from key nullability (ADVICE r1): the join itself is
    # null-safe, so a NULL-keyed target row genuinely matches a NULL-keyed
    # source row and must not be misread as absent (which would ghost-insert
    # or, under delete_unmatched_source, silently delete it)
    tgt = target.withColumn("__tgt__", F.lit(True))
    src = _prefix_columns(source).withColumn("__src__", F.lit(True))
    join_cond = None
    for k in on:
        c = tgt[k].eqNullSafe(src[_SRC_PREFIX + k])
        join_cond = c if join_cond is None else (join_cond & c)
    joined = tgt.join(src, join_cond, "full_outer")

    tgt_present = tgt["__tgt__"].isNotNull()
    src_present = src["__src__"].isNotNull()
    matched = tgt_present & src_present
    src_only = src_present & ~tgt_present
    tgt_only = tgt_present & ~src_present

    do_update = matched if update_condition is None else (matched & update_condition)

    if delete_unmatched_source:
        survives = matched | src_only
        if delete_guard is not None:
            survives = survives | (tgt_only & delete_guard)
    else:
        survives = F.lit(True)

    out_cols = []
    for c in target.columns:
        if c in on:
            expr = F.when(tgt_present, tgt[c]).otherwise(src[_SRC_PREFIX + c])
        elif c in update_cols:
            expr = (
                F.when(src_only, src[_SRC_PREFIX + c] if c in source.columns else insert_defaults.get(c, F.lit(None)))
                .when(do_update, src[_SRC_PREFIX + c])
                .otherwise(tgt[c])
            )
        else:
            if c in source.columns:
                insert_val = src[_SRC_PREFIX + c]
            else:
                insert_val = insert_defaults.get(c, F.lit(None).cast(dict(target.dtypes)[c]))
            expr = F.when(src_only, insert_val).otherwise(tgt[c])
        out_cols.append(expr.alias(c))

    result = joined.select(*out_cols, survives.alias("__keep__"))
    return result.filter(F.col("__keep__")).drop("__keep__")


def delete_where(df: DataFrame, cond: Column) -> DataFrame:
    """``DELETE … WHERE cond`` → keep the complement (O7, ``P-RES:65-66``)."""
    return df.filter(~cond | cond.isNull())


#: Above this many new rows the window allocator's single-task global sort
#: becomes the bottleneck and allocation auto-routes to the range-bucketed
#: path. 100k rows sort comfortably on one core in well under a second;
#: the threshold errs low because the failure mode (one straggler task
#: sorting a billion rows) is catastrophic while the cost of switching
#: early (one extra count + range exchange) is mild.
SURROGATE_WINDOW_MAX_ROWS = 100_000

#: Unary logical operators whose output has at most as many rows as their
#: input (a global Aggregate is the one exception: it yields one row from
#: none). The optimizer has already rewritten Distinct and dropDuplicates
#: into Aggregates.
_ROW_BOUNDED = frozenset({"Project", "Filter", "Aggregate", "Sort"})
_INTEGRAL_TYPES = (ByteType, ShortType, IntegerType, LongType)


def _local_parquet_files(node) -> list[str] | None:
    """The local file paths a logical parquet scan reads, or None when
    ``node`` is anything else (an in-memory relation, another format,
    a remote filesystem)."""
    if node.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = node.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
    ):
        return None
    paths = []
    for uri in rel.location().inputFiles():
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        paths.append(unquote(parsed.path))
    return paths


def _plan_row_bound(node, cap: int) -> int | None:
    """Upper bound on the rows of a logical plan, summed from parquet
    footers: defined when every leaf is a local parquet scan and every
    operator above the leaves is row-bounded (see ``_ROW_BOUNDED``),
    a Union, or a LeftSemi/LeftAnti join (bounded by its left side).
    Footers are read only until the bound passes ``cap``, so any value
    above ``cap`` means no more than "above ``cap``"."""
    import pyarrow.parquet as pq

    files = _local_parquet_files(node)
    if files is not None:
        total = 0
        for f in files:
            if total > cap:
                break
            total += pq.read_metadata(f).num_rows
        return total
    kind = node.getClass().getSimpleName()
    children = node.children()
    kids = [children.apply(i) for i in range(children.size())]
    if kind == "Union":
        total = 0
        for k in kids:
            bound = _plan_row_bound(k, cap - total)
            if bound is None:
                return None
            total += bound
            if total > cap:
                break
        return total
    if kind == "Join":
        if node.joinType().toString() not in ("LeftSemi", "LeftAnti"):
            return None
        return _plan_row_bound(kids[0], cap)
    if kind not in _ROW_BOUNDED or len(kids) != 1:
        return None
    bound = _plan_row_bound(kids[0], cap)
    if bound is not None and kind == "Aggregate":
        if node.groupingExpressions().isEmpty():
            bound = max(bound, 1)
    return bound


def footer_rows_and_max(df: DataFrame, key_col: str) -> tuple[int, int | None] | None:
    """``(rows, MAX(key_col))`` of ``df`` from its parquet footer
    statistics (``deltalog._file_stats``: exact values, the column
    dropped when any row group lacks them), with no Spark job, when
    ``df`` is a bare local parquet scan of an integral key; None when a
    non-empty file has no max for the key or the shape is anything else.
    Empty files add nothing, so an all-empty scan answers ``(0, None)``
    like ``MAX`` over no rows."""
    from etl_loading_scripts_spark.operators.deltalog import _file_stats

    if not isinstance(df.schema[key_col].dataType, _INTEGRAL_TYPES):
        return None
    files = _local_parquet_files(df._jdf.queryExecution().optimizedPlan())
    if files is None:
        return None
    rows, best = 0, None
    for f in files:
        stats = json.loads(_file_stats(f))
        if not stats["numRecords"]:
            continue
        top = stats["maxValues"].get(key_col)
        if top is None:
            return None
        rows += stats["numRecords"]
        best = top if best is None else max(best, top)
    return rows, best


def _max_key(existing: DataFrame, key_col: str) -> int:
    """``MAX(existing.key_col)``, 0 when there is none: from the parquet
    footers when they answer it, else one aggregate job."""
    known = footer_rows_and_max(existing, key_col)
    if known is not None:
        max_key = known[1]
    else:
        max_key = existing.agg(F.max(key_col)).collect()[0][0]
    return 0 if max_key is None else max_key


def allocate_surrogate_keys(
    new_rows: DataFrame,
    existing: DataFrame,
    key_col: str,
    order_by: Sequence[str],
    max_window_rows: int | None = SURROGATE_WINDOW_MAX_ROWS,
) -> DataFrame:
    """Deterministic surrogate keys: ``MAX(existing.key) + ROW_NUMBER()
    OVER (ORDER BY natural key)`` (O44, ``S4:64-73``; SURVEY §4.4).

    AUTO-SCALING (VERDICT r2 item 5): inputs above ``max_window_rows`` are
    routed to :func:`allocate_surrogate_keys_partitioned`, which assigns
    the IDENTICAL keys (property-tested) without the unpartitioned
    window's single-task sort — a future caller can no longer grab the
    bottleneck path for a billion-row table by accident. Pass
    ``max_window_rows=None`` to pin the window path.

    No Spark job for what the parquet footers already hold:

    - **Routing**: an upper bound on ``new_rows``' rows summed from the
      footers' row counts proves the input small enough for the window
      path, when every leaf of its optimized plan is a local parquet
      scan and no operator above them can add rows (Project, Filter,
      Aggregate/Distinct, Sort, Union, LeftSemi/LeftAnti join). A bound
      above ``max_window_rows`` proves nothing (fewer rows may survive),
      so the routing ``count()`` decides, as without a bound.
    - **MAX** comes from the footers' exact integer statistics when
      ``existing`` is a bare local parquet scan (the staged runner's
      barrier read-backs are).

    Any other shape falls back to the routing ``count()`` and a ``MAX``
    aggregate: an in-memory or non-parquet leaf, an inner or outer join
    in ``new_rows``, a filtered ``existing``, a row group with no
    statistics for the key (e.g. all nulls) or a non-integral key. The
    keys are identical on every path.

    Ordering by the natural key — never ``monotonically_increasing_id`` —
    keeps keys stable across retries.
    """
    if max_window_rows is not None:
        plan = new_rows._jdf.queryExecution().optimizedPlan()
        rows = _plan_row_bound(plan, max_window_rows)
        if rows is None or rows > max_window_rows:
            rows = new_rows.count()
        if rows > max_window_rows:
            return allocate_surrogate_keys_partitioned(
                new_rows, existing, key_col, order_by
            )
    base = _max_key(existing, key_col)
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return new_rows.withColumn(key_col, (F.lit(base) + F.row_number().over(w)).cast("long"))


def allocate_surrogate_keys_partitioned(
    new_rows: DataFrame,
    existing: DataFrame,
    key_col: str,
    order_by: Sequence[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale-safe surrogate keys: the SAME key assignment as
    :func:`allocate_surrogate_keys` (``MAX(existing) + global rank over the
    natural key``, ``S4:64-73``) without the unpartitioned window's
    single-task sort (VERDICT r1 item 3).

    Plan: range-repartition on the natural key — range partition *i* holds
    keys strictly below partition *i+1*'s, so per-partition ``row_number``
    plus the cumulative count of earlier partitions IS the global rank.
    Driver traffic is one long per partition (the counts), not data. The
    MAX comes from the parquet footers when ``existing`` is a bare local
    parquet scan, as in :func:`allocate_surrogate_keys`.

    Keys are retry-deterministic because bucket membership is a *logical*
    comparison against driver-collected boundary literals, never a
    physical partition id — AQE may re-coalesce the range exchange between
    the count pass and the key pass without changing a single key
    (mechanism in ``operators/ranks.py``). ``order_by`` must be unique per
    row (same contract as the window version — ties would make *any*
    ROW_NUMBER assignment arbitrary).
    """
    from etl_loading_scripts_spark.operators.ranks import global_row_number

    base = _max_key(existing, key_col)
    ranked = global_row_number(
        new_rows, order_by, rank_col="__rank__", num_partitions=num_partitions
    )
    out_cols = list(new_rows.columns)
    if key_col not in out_cols:  # same add-or-replace contract as withColumn
        out_cols.append(key_col)
    return ranked.withColumn(
        key_col, (F.lit(base) + F.col("__rank__")).cast("long")
    ).select(out_cols)


def merge_upsert_delta(
    spark,
    target_path: str,
    source: DataFrame,
    on: Sequence[str],
    delete_unmatched_source: bool = False,
) -> None:
    """The same MERGE contract executed as a NATIVE Delta Lake ``MERGE
    INTO`` when delta-spark is on the classpath.

    At 100 TB the rewrite-whole-table ``merge_upsert`` is wasteful for
    small monthly increments: Delta's merge rewrites only the files whose
    rows match (data-skipping on the join keys), gives an atomic
    multi-writer commit, and keeps time travel for the reference's
    'rerun last month' remediation flows (BASELINE scale facts: 746→0
    unmapped rows over three reruns). This engine treats Delta as an
    optional accelerator — the join-based merge is the portable fallback
    and the semantics contract both are tested against.
    """
    try:
        from delta.tables import DeltaTable  # type: ignore[import-not-found]
    except ImportError as exc:  # pragma: no cover - delta not in test env
        raise NotImplementedError(
            "delta-spark is not installed; use operators.merge_upsert (join-"
            "based, same semantics), or operators.deltalog."
            "merge_upsert_deltalog (the same MERGE executed against the "
            "OPEN Delta log protocol, no jars needed — atomic commits, "
            "snapshot isolation, time travel), or add io.delta:delta-spark "
            "to the cluster"
        ) from exc

    tgt = DeltaTable.forPath(spark, target_path)
    cond = " AND ".join(f"t.{k} <=> s.{k}" for k in on)
    m = (
        tgt.alias("t")
        .merge(source.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
    )
    if delete_unmatched_source:
        m = m.whenNotMatchedBySourceDelete()
    m.execute()


def merge_upsert_iceberg(
    spark,
    target_table: str,
    source: DataFrame,
    on: Sequence[str],
    delete_unmatched_source: bool = False,
) -> None:
    """MERGE via Iceberg's SQL ``MERGE INTO`` when an Iceberg catalog is
    configured (same contract as ``merge_upsert_delta``; same join-based
    portable fallback).

    Iceberg brings the same file-level rewrite + snapshot isolation as
    Delta with engine-neutral tables; at 100 TB either lakehouse format
    turns the monthly dimension sync into a bounded metadata commit.
    """
    if not spark.conf.get("spark.sql.catalog.spark_catalog", "").endswith(
        "SparkSessionCatalog"
    ) and "iceberg" not in str(
        spark.conf.get("spark.sql.extensions", "")
    ).lower():
        raise NotImplementedError(
            "no Iceberg catalog/extension configured; use operators."
            "merge_upsert (join-based, same semantics) or add "
            "org.apache.iceberg:iceberg-spark-runtime to the cluster"
        )
    source.createOrReplaceTempView("__merge_src__")
    cond = " AND ".join(f"t.{k} <=> s.{k}" for k in on)
    delete_clause = (
        "WHEN NOT MATCHED BY SOURCE THEN DELETE" if delete_unmatched_source else ""
    )
    spark.sql(
        f"""
        MERGE INTO {target_table} t USING __merge_src__ s ON {cond}
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        {delete_clause}
        """
    )


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    on: Sequence[str],
    tracked: Sequence[str],
    effective_datekey: int,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    current_col: str = "is_current",
    open_datekey: int = 99991231,
) -> DataFrame:
    """Type-2 slowly-changing-dimension upsert with half-open validity.

    An engine extension past the reference's type-1 overwrites (its dims
    keep only latest values — e.g. P-PAT's patron upserts): version rows
    carry ``[valid_from, valid_to)`` datekeys and ``is_current``. For each
    change row whose TRACKED attributes differ (null-safely) from the
    entity's current version: the current version closes at
    ``effective_datekey`` and a new open version is inserted; unchanged
    matches are no-ops (idempotent re-runs); unknown keys insert as brand
    new. Half-open intervals avoid day-before datekey arithmetic and make
    as-of lookups ``from <= d < to``.

    Scale: ONE null-safe left join of current-versions ⋈ changes on the
    business key + unions — no window, no global sort; history rows
    (``is_current = false``) are never touched, so at 100 TB the join is
    current-cardinality × change-batch, both dimension-sized.
    """
    on = list(on)
    tracked = list(tracked)
    cur = dim.filter(F.col(current_col))
    hist = dim.filter(~F.col(current_col))

    src = _prefix_columns(changes.select(on + tracked)).withColumn(
        "__src_present__", F.lit(True)
    )
    cond = None
    for k in on:
        c = cur[k].eqNullSafe(src[_SRC_PREFIX + k])
        cond = c if cond is None else (cond & c)
    joined = cur.join(src, cond, "left")

    differs = None
    for t in tracked:
        d = ~cur[t].eqNullSafe(src[_SRC_PREFIX + t])
        differs = d if differs is None else (differs | d)
    changed = F.col("__src_present__").isNotNull() & differs

    closed = joined.filter(changed).select(
        *[cur[c] for c in dim.columns if c not in (to_col, current_col)],
        F.lit(effective_datekey).alias(to_col),
        F.lit(False).alias(current_col),
    ).select(dim.columns)
    kept = joined.filter(~F.coalesce(changed, F.lit(False))).select(
        *[cur[c] for c in dim.columns]
    )
    new_versions = joined.filter(changed).select(
        *[
            (src[_SRC_PREFIX + c].alias(c) if c in tracked else cur[c])
            for c in dim.columns
            if c not in (from_col, to_col, current_col)
        ],
        F.lit(effective_datekey).alias(from_col),
        F.lit(open_datekey).alias(to_col),
        F.lit(True).alias(current_col),
    ).select(dim.columns)

    cur_keys = cur.select(*on)
    brand_new = changes.select(on + tracked).join(cur_keys, on, "left_anti")
    dim_types = dict(dim.dtypes)
    brand_new_rows = brand_new.select(
        *[
            (
                F.col(c)
                if c in on + tracked
                else F.lit(None).cast(dim_types[c])
            )
            for c in dim.columns
            if c not in (from_col, to_col, current_col)
        ],
        F.lit(effective_datekey).alias(from_col),
        F.lit(open_datekey).alias(to_col),
        F.lit(True).alias(current_col),
    ).select(dim.columns)

    return hist.unionByName(kept).unionByName(closed).unionByName(
        new_versions
    ).unionByName(brand_new_rows)
