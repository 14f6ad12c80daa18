"""The reference's monthly cube load, end-to-end (SURVEY §3.1, §7.1 M4-M5).

``domain``        — derives the reference-domain tables (FIXTURES.md §A) from
                    the synthetic star schema, with the reference's data
                    quirks seeded (sentinel FKs, NULL proxies, U+FFFD dirt,
                    dirty billing-group names, missing fingerprints).
``stages``        — stage 1-5 of the monthly load as pure transforms built
                    on the engine's mutation primitives.
``staged``        — the orchestrator (entry point A of the reference): the
                    five stages with parquet barriers between them and one
                    delta-log set publish per close.
"""

from etl_loading_scripts_spark.pipeline.staged import run_monthly_load_staged

__all__ = ["run_monthly_load_staged"]
