"""Mutation primitives and join rewrites (SURVEY §1.3, §4)."""

from etl_loading_scripts_spark.operators.mutations import (
    allocate_surrogate_keys,
    allocate_surrogate_keys_partitioned,
    delete_where,
    insert_if_absent,
    merge_upsert,
    scd2_apply,
    update_from_join,
)
from etl_loading_scripts_spark.operators.joins import (
    anti_not_in,
    or_join,
    top1_per_group,
    top1_per_group_agg,
)
from etl_loading_scripts_spark.operators.ranks import global_ntile, global_row_number

__all__ = [
    "allocate_surrogate_keys",
    "allocate_surrogate_keys_partitioned",
    "anti_not_in",
    "delete_where",
    "global_ntile",
    "global_row_number",
    "insert_if_absent",
    "merge_upsert",
    "or_join",
    "scd2_apply",
    "top1_per_group",
    "top1_per_group_agg",
    "update_from_join",
]
