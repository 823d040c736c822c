"""Scale-safe global row numbering (W3/G1 auto-increment shape).

A naive ``row_number() OVER (ORDER BY ...)`` has no partition clause,
so Spark funnels the ENTIRE table through one task (the
``WindowExec: No Partition Defined`` warning) — a non-starter at
100 TB. ``with_global_index`` is the standard two-pass alternative
(the same scheme ``zipWithIndex`` uses internally):

1. range-repartition on the sort keys, so partition p holds a
   contiguous, sorted slice of the total order;
2. per-partition ``row_number`` (window partitioned by partition id —
   fully parallel);
3. per-partition row counts (one tiny row per partition — partition
   METADATA, not data) cumulated into start offsets on the driver;
4. global index = local row_number + broadcast offset of the
   partition.

That path runs eager jobs inside the builder: step 1's boundary
sample, the ``localCheckpoint`` that pins it, step 3's counts collect,
over ``spark.sql.shuffle.partitions`` range partitions. When the
input's Catalyst size estimate (driver-side plan statistics, no job) is
at most the session's ``spark.sql.autoBroadcastJoinThreshold`` — a
relation Spark would broadcast whole anyway — the range repartition
goes to ONE partition instead: its only offset is ``start - 1``, so the
sampling, the checkpoint and the counts all go and the build runs no
job. The window keeps its ``partitionBy("_pid")`` on both paths.

The order must be total (tie-free) for the result to be well defined;
given that, the output is deterministic regardless of where the range
sampler happens to place partition boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _fits_one_partition(df: DataFrame) -> bool:
    """True when the optimizer's size estimate of ``df`` is at most the
    session's broadcast threshold (a disabled threshold, -1, never fits)."""
    jss = df.sparkSession._jsparkSession  # noqa: SLF001
    bound = jss.sessionState().conf().autoBroadcastJoinThreshold()
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))  # noqa: SLF001
    return size <= bound


def with_global_index(
    df: DataFrame,
    order_cols: list[str],
    name: str = "rn",
    start: int = 1,
) -> DataFrame:
    """Add a dense 1-based (plus ``start - 1``) global index following
    the total order ``order_cols``, without a single-task global sort."""
    spark = df.sparkSession
    num_partitions = 1 if _fits_one_partition(df) else int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols]).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    if num_partitions == 1:  # one partition: the only offset is start - 1
        return (
            ranged.withColumn(name, (F.row_number().over(w) + F.lit(start - 1)).cast("int"))
            .drop("_pid")
        )
    # MATERIALIZE before reading partition counts: repartitionByRange
    # SAMPLES its boundaries with a per-execution seed, so without a
    # barrier the counts pass and the final pass could see DIFFERENT
    # partitionings and the offsets would be wrong (caught by
    # strict_compare at sf0.1). The checkpoint pins one partitioning
    # for both passes; at cluster scale this is a reliable-storage
    # checkpoint of the sorted input — the price every two-pass global
    # index (incl. zipWithIndex) pays.
    local = ranged.withColumn("_lrn", F.row_number().over(w)).localCheckpoint(eager=True)
    # one row per partition: metadata-sized, the canonical two-pass trick
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    offsets: dict[int, int] = {}
    acc = start - 1
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["_n"]
    if not offsets:  # empty input
        return df.withColumn(name, F.lit(None).cast("int"))
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    return (
        local.withColumn(name, (F.col("_lrn") + omap[F.col("_pid")]).cast("int"))
        .drop("_pid", "_lrn")
    )
