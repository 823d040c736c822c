"""Rule-driven document selection (SURVEY.md §2.2, §2.5, §2.6).

Re-expresses the reference's imperative per-item rule engine
(Leyton_depot.py:259-339) as one declarative DataFrame plan:

- P1/P2  JSON file-cell parsing with silent-null semantics
         (``from_json`` permissive + coalesce to empty array;
         reference: Leyton_depot.py:147-153)
- P3/P4  type + keyword predicates over accent-normalized names
         (Leyton_depot.py:271-286)
- U2     fallback cascade as rule *tiers*: evaluate all tiers in one
         filtered join, keep the minimum matching tier per group
         (Leyton_depot.py:309-325 — fallbacks drop keyword filters by
         carrying NULL keywords in the rules table)
- W1     pick semantics as a single window: ``latest``/``first`` are
         top-1 by created_at desc (the reference's ``first`` is
         ``cand[:1][::-1]`` after a desc sort — observably top-1,
         Leyton_depot.py:296-297); ``all`` keeps row_number <= max.

Scale notes: rules are a tiny dimension — broadcast join, no shuffle
on the fact side for the match step. The only shuffles are the two
windows over ``(item_id, column_id)``, which share one hash
partitioning (Catalyst reuses the exchange). Missing created_at sorts
last under DESC via the epoch-0 default (Leyton_depot.py:291).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from monday_etl_automation_spark.functions.scalar import file_ext, norm_name

CELL_SCHEMA = "STRUCT<files: ARRAY<STRUCT<assetId BIGINT, name STRING, createdAt TIMESTAMP>>>"

EPOCH0 = "TIMESTAMP '1970-01-01 00:00:00'"


def parse_file_cells(cells: DataFrame) -> DataFrame:
    """P1+P2: JSON file-column cell -> one row per file.

    Malformed / NULL cells silently yield zero rows (the reference
    returns ``[]`` on json.JSONDecodeError, Leyton_depot.py:147-153):
    permissive ``from_json`` gives NULL, coalesced to an empty array
    before the explode.
    """
    parsed = F.coalesce(F.from_json(F.col("cell"), CELL_SCHEMA)["files"], F.array())
    return (
        cells.withColumn("_file", F.explode(parsed))
        .select(
            "item_id",
            "column_id",
            F.col("_file.assetId").alias("asset_id"),
            F.col("_file.name").alias("file_name"),
            F.col("_file.createdAt").alias("created_at"),
        )
    )


def candidate_matches(files: DataFrame, rules: DataFrame) -> DataFrame:
    """P3+P4+J3: join every file against its column's rule tiers and
    keep (file, tier) pairs that satisfy the tier's predicates.

    ``rules`` columns: column_id, tier, include_kw1, include_kw2,
    exclude_kw1, file_type, pick, max_count. NULL keywords mean "no
    constraint" (that is how fallback tiers drop keyword filters).
    """
    f = files.withColumn("_norm", norm_name(F.col("file_name"))).withColumn(
        "_ext", file_ext(F.col("file_name"))
    )
    j = f.join(F.broadcast(rules), "column_id")

    type_ok = (F.col("file_type") == "any") | (F.col("_ext") == F.col("file_type"))
    include_ok = (
        F.col("include_kw1").isNull() & F.col("include_kw2").isNull()
    ) | (
        F.when(F.col("include_kw1").isNotNull(), F.col("_norm").contains(F.col("include_kw1"))).otherwise(F.lit(False))
        | F.when(F.col("include_kw2").isNotNull(), F.col("_norm").contains(F.col("include_kw2"))).otherwise(F.lit(False))
    )
    exclude_ok = F.when(
        F.col("exclude_kw1").isNotNull(), ~F.col("_norm").contains(F.col("exclude_kw1"))
    ).otherwise(F.lit(True))

    return j.filter(type_ok & include_ok & exclude_ok).select(
        "item_id",
        "column_id",
        "tier",
        "pick",
        "max_count",
        "asset_id",
        "file_name",
        "created_at",
    )


def apply_rules(files: DataFrame, rules: DataFrame) -> DataFrame:
    """U2+W1: full cascade — minimum matching tier wins per
    (item, column); within it, pick latest / first / all-capped.

    Returns (item_id, column_id, tier, sel_rank, asset_id, file_name,
    created_key).
    """
    cand = candidate_matches(files, rules)
    cand = cand.withColumn("created_key", F.coalesce(F.col("created_at"), F.expr(EPOCH0)))

    grp = Window.partitionBy("item_id", "column_id")
    cand = cand.withColumn("min_tier", F.min("tier").over(grp)).filter(
        F.col("tier") == F.col("min_tier")
    )

    order = Window.partitionBy("item_id", "column_id").orderBy(
        F.col("created_key").desc(), F.col("asset_id").desc(), F.col("file_name")
    )
    ranked = cand.withColumn("sel_rank", F.row_number().over(order))

    keep = (F.col("pick").isin("latest", "first") & (F.col("sel_rank") == 1)) | (
        (F.col("pick") == "all")
        & (F.col("sel_rank") <= F.coalesce(F.col("max_count"), F.lit(2147483647)))
    )
    return ranked.filter(keep).select(
        "item_id", "column_id", "tier", "sel_rank", "asset_id", "file_name", "created_key"
    )
