"""Bucketed tables: co-located fact-to-fact joins without a shuffle.

SCALE.md's fact-join posture says "in a real deployment both sides are
bucketed on the join key and the plans are unchanged" — this module is
that deployment path made concrete. `spark.write.bucketBy(n, key)`
pre-shuffles data at WRITE time into n hash buckets (persisted in the
table catalog); a join or aggregation on the bucket key then reads
co-located buckets directly — zero Exchange in the physical plan, which
tests/test_bucketing.py asserts.

At 100 TB this converts every repeated lineitem⋈orders-style join from
a 2-sided shuffle per query into a one-time write-side cost: the
canonical layout for fact tables queried along one dominant key. The
bucket count is chosen like shuffle partitions (2-3× cluster cores, or
total_bytes / 256 MB per bucket, whichever is larger); sortBy within
buckets additionally enables merge-join without a per-task sort.

Requires a metastore-backed catalog (bucket metadata lives in the
table, not the files) — local default catalog works; on a cluster this
is the Hive/Glue/Unity catalog. Parquet directories alone cannot carry
bucket info, which is why these helpers go through saveAsTable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (optionally sorted) catalog table.
    Overwrites any existing table of the same name — including a stale
    warehouse directory left by a previous session (the in-memory
    catalog forgets the table but its managed location survives, and
    CREATE then fails with LOCATION_ALREADY_EXISTS)."""
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = os.path.join(warehouse, table.lower())
    if os.path.isdir(stale):
        shutil.rmtree(stale)
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, on: list[str]) -> DataFrame:
    """Inner-join two tables bucketed on ``on`` — when both sides have
    the same bucket count on the join key, Catalyst plans a
    SortMergeJoin with NO Exchange on either side (reads are already
    co-located)."""
    return spark.table(left_table).join(spark.table(right_table), on, "inner")


def plan_has_exchange(df: DataFrame) -> bool:
    """True if the physical plan contains a shuffle Exchange — the
    property bucketing removes (used by tests and by plan audits)."""
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
