"""Aggregation operators (SURVEY.md §2.4).

A1 — next auto-increment id: MAX of a regexp-captured int + 1,
     default 1 (reference paginates a folder listing and folds max by
     hand, Leyton_depot.py:517-545; here it is one partial+final max).
A2 — conditional success counts per group
     (Leyton_depot.py:635-645).
A3 — processed-file counters per column + grand total
     (app.py:314-331) as a rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def next_start_id(listing: DataFrame) -> DataFrame:
    """A1: coalesce(max(captured int), 0) + 1 as ``next_id``.

    Case-insensitive match (Leyton_depot.py:521 uses lower()).
    """
    captured = F.regexp_extract(F.upper(F.col("name")), r"^ACT_(\d+)_", 1)
    as_int = F.when(captured != "", captured.cast("long"))
    return listing.agg((F.coalesce(F.max(as_int), F.lit(0)) + 1).alias("next_id"))


def success_counts(uploads: DataFrame, group_cols: list[str]) -> DataFrame:
    """A2: (n_success, n_total) per group; success = non-null file_id."""
    return uploads.groupBy(*group_cols).agg(
        F.sum(F.when(F.col("file_id").isNotNull(), 1).otherwise(0)).alias("n_success"),
        F.count(F.lit(1)).alias("n_total"),
    )


def processed_counters(processed: DataFrame) -> DataFrame:
    """A3: per-column counts plus a grand-total row (rollup)."""
    return (
        processed.rollup("column_id")
        .agg(F.count(F.lit(1)).alias("n_processed"))
        .select(F.coalesce(F.col("column_id"), F.lit("__total__")).alias("column_id"), "n_processed")
    )
