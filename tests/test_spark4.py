"""Spark 4 native surface (plans/spark4_ops.py): VARIANT semi-
structured stats, pinned to the DuckDB oracle of the classic
JSON-extraction path so the modern API can never drift."""

from __future__ import annotations

from monday_etl_automation_spark.plans.spark4_ops import (
    VARIANT_PROPS_ORACLE,
    variant_props_stats,
)
from oracle_compare import assert_matches_oracle


def test_variant_props_matches_oracle(spark, sf_dir):
    assert_matches_oracle(variant_props_stats(spark, sf_dir), VARIANT_PROPS_ORACLE, sf_dir)


def test_variant_silent_null_on_malformed(spark, sf_dir):
    """try_parse_json must keep the reference's silent-null posture:
    malformed payloads count toward n_events but never toward k."""
    from monday_etl_automation_spark.sources.tables import (
        clear_artifact_caches,
        register_views,
    )

    register_views(spark, sf_dir)
    clear_artifact_caches(spark)
    base = spark.table("events")
    broken = base.limit(5).selectExpr(
        "event_id + 90000000 AS event_id",
        "user_id",
        "event_type",
        "ts",
        "value",
        "'{not json' AS props",
    )
    cols = base.columns
    base.select(cols).unionByName(broken.select(cols)).createOrReplaceTempView("events")
    try:
        rows = variant_props_stats(spark, sf_dir).collect()
        assert sum(r.n_events for r in rows) == base.count() + 5
        assert sum(r.n_with_k for r in rows) <= base.count()
    finally:
        spark._mea_views_sf_dir = None  # noqa: SLF001
        register_views(spark, sf_dir)
        clear_artifact_caches(spark)

