"""Z-order clustered writes: multi-column file pruning
(SURVEY.md §2.12 — the lakehouse OPTIMIZE ZORDER equivalent, in plain
Spark).

A range-partitioned layout prunes on ONE column: files are tight on
the sort key and useless for predicates on anything else. Z-ordering
interleaves the bits of several columns' bucket ranks into one
clustering key, so every file covers a small HYPER-RECTANGLE of the
key space and min/max footer stats prune on EITHER column — the
standard trade: neither dimension prunes as tightly as its dedicated
sort, both prune far better than the other's.

Mechanics (all metadata-sized driver work, all deterministic):

- each clustering column is quantized to 2^{_BITS} width buckets from
  its (min, max) — one tiny aggregate; at 100 TB you'd reuse catalog
  stats. ``width_bucket`` keeps the mapping in codegen.
- the z-value interleaves the bucket bits ({_BITS} shift/mask terms
  per column — pure BIGINT arithmetic, no UDF);
- ``repartitionByRange(_N_FILES, zval)`` + in-file sort writes files
  that are contiguous z-ranges — the distributed clustered rewrite,
  no single-task sort.

``candidate_files`` computes, from per-file min/max of a column, how
many files a range predicate must touch — the same decision a parquet
reader makes from footer stats; tests pin that the z-ordered layout
prunes on BOTH dimensions while the linear layout prunes on one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BITS = 10  # buckets per dimension = 1024
_N_FILES = 16  # files per clustered rewrite


def _zvalue_expr(bucket_cols: list[str]) -> str:
    """Interleave the low {_BITS} bits of each bucket column: bit i of
    column k lands at position i * n_cols + k."""
    n = len(bucket_cols)
    terms = []
    for k, c in enumerate(bucket_cols):
        for i in range(_BITS):
            terms.append(f"shiftleft(shiftright({c}, {i}) & 1, {i * n + k})")
    return " + ".join(terms)


def zorder_write(df: DataFrame, out_dir: str, cols: tuple[str, ...]) -> None:
    """Rewrite ``df`` as ``_N_FILES`` parquet files clustered by the
    z-order of ``cols`` (numeric)."""
    # (min, max) per clustering column — one metadata-sized aggregate
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    stats = df.agg(*aggs).collect()[0]
    bcols = []
    with_buckets = df
    for c in cols:
        lo, hi = stats[f"_lo_{c}"], stats[f"_hi_{c}"]
        b = f"_zb_{c}"
        if lo is None or hi is None or lo == hi:
            # degenerate column (all-NULL or constant): width_bucket
            # would yield NULL for every row — NULL z-values collapse
            # the clustering silently (or, for all-NULL stats, break
            # the SQL). A constant dimension carries no information;
            # pin its bucket to 0 and let the other columns cluster.
            with_buckets = with_buckets.withColumn(b, F.lit(0).cast("bigint"))
        else:
            # width_bucket is 1-based and gives max -> 2^bits + 1;
            # clamp into [0, 2^bits) so every value has {_BITS} bits
            with_buckets = with_buckets.withColumn(
                b,
                F.expr(
                    f"least(CAST({2**_BITS - 1} AS BIGINT),"
                    f" width_bucket(CAST({c} AS DOUBLE), {lo}, {hi}, {2**_BITS}) - 1)"
                ),
            )
        bcols.append(b)
    zed = with_buckets.withColumn("_zval", F.expr(_zvalue_expr(bcols)))
    (
        zed.repartitionByRange(_N_FILES, "_zval")
        .sortWithinPartitions("_zval")
        .drop("_zval", *bcols)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def linear_write(df: DataFrame, out_dir: str, col: str) -> None:
    """The single-column baseline: range-clustered on one key."""
    (
        df.repartitionByRange(_N_FILES, col)
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def file_stats(spark: SparkSession, path: str, col: str) -> DataFrame:
    """Per-file (min, max) of ``col`` — what a parquet reader gets from
    footer statistics without reading data pages."""
    return (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
    )


def candidate_files(spark: SparkSession, path: str, col: str, lo, hi) -> int:
    """How many files a reader must touch for ``col BETWEEN lo AND hi``
    — the footer-stats pruning decision."""
    return (
        file_stats(spark, path, col)
        .where((F.col("lo") <= F.lit(hi)) & (F.col("hi") >= F.lit(lo)))
        .count()
    )
