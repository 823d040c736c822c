"""Driver-hash exposure of the epoch-shuffled split writer
(sources/shard_writer.py:write_shuffled_split — the last seat-mapped
query-shaped family, r16 verdict item 2; rides ``vector_extra`` as the
``eperm`` shape).

What the hash pins: two epochs (0 and 1) of the train split are
written through the REAL writer into {_EPERM_FILES}-file layouts, the
SHIPPED parquet is read back, and every file directory's statistics —
row count, (min, max) shuffle-key range, a 60-bit md5 multiset
checksum over (epoch, doc_id, shuffle_key), and a one-file-per-dir
layout flag — are hash-matched against the DuckDB oracle's inline
re-derivation (split assignment + epoch-salted keys + fixed-width
key-range bucketing, the identical integer arithmetic). Together the
per-file ranges and checksums pin the permutation's file decomposition
exactly: which rows land in which file, with which keys, per epoch.
The remaining on-disk property (rows are SORTED within each file) is a
file-order contract outside a hash compare's reach, and stays pinned
by tests/test_shard_writer.py's in-file order assertions (the writer
policy, COVERAGE.md).

This exposure is what the writer's r17 determinism rework bought:
repartitionByRange's sampled boundaries were per-execution, so file
CONTENTS could not ride any oracle; fixed-width ranges over the
uniform md5 key space are deterministic, boundary-exact in both
engines, and drop the sampling pass (see write_shuffled_split).

Scale: the writer is one row-local projection + one shuffle on
file_id; the exposure reads back KB-scale parquet and aggregates —
per-pass cost is the read path a dataloader manifest check pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monday_etl_automation_spark.plans.sampling_ops import corpus_splits_oracle
from monday_etl_automation_spark.plans.vstream_extra import _ck, _key
from monday_etl_automation_spark.sources.shard_writer import (
    shuffled_file_width,
    write_shuffled_split,
)
from monday_etl_automation_spark.sources.tables import (
    owned_tempdir,
    register_views,
    snapshot_key,
    snapshot_memo,
)

_EPERM_FILES = 8
_EPERM_EPOCHS = (0, 1)

# DuckDB twin of shard_writer._EPOCH_SHUF (same md5 salt construction
# as plans/sampling_ops's split/shuffle hashes)
_DUCK_EPOCH_SHUF = (
    "CAST('0x' || substr(md5('order:' || CAST({e} AS VARCHAR) || ':'"
    " || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)"
)


# --- Spark side ---------------------------------------------------------------


def _eperm_artifact(spark: SparkSession, sf_dir: str) -> tuple:
    """(base_path,) — both epochs written ONCE per (session, documents
    snapshot) through the real writer; superseded snapshots rmtree on
    eviction (the vstream/tokp artifact discipline)."""
    register_views(spark, sf_dir)

    def build() -> tuple:
        base = owned_tempdir("eperm_split_")
        for e in _EPERM_EPOCHS:
            write_shuffled_split(
                spark, sf_dir, f"{base}/epoch={e}", epoch=e, n_files=_EPERM_FILES
            )
        return (base,)

    key = (snapshot_key(sf_dir, "documents"),)
    return snapshot_memo(spark, "eperm_split", key, build)


def eperm_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(epoch, file) aggregates of the SHIPPED split files:
    (part, n, min_key, max_key, checksum, files_ok)."""
    (base,) = _eperm_artifact(spark, sf_dir)
    back = spark.read.parquet(base)  # epoch + file_id from dir layout
    return _eperm_agg(back)


def _eperm_agg(back: DataFrame) -> DataFrame:
    """The aggregation the hash rides, factored so the tamper tests can
    re-run the IDENTICAL expressions over a corrupted copy of the
    shipped rows (tests/test_artifact_tamper.py)."""
    ck = _ck("spark", _key("spark", ["'ep'", "epoch", "doc_id", "shuffle_key"]))
    return (
        # input_file_name() must be projected BEFORE the aggregate —
        # non-deterministic expressions are rejected inside agg args
        back.withColumn("fname", F.input_file_name())
        .groupBy("epoch", "file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("shuffle_key").cast("bigint").alias("min_key"),
            F.max("shuffle_key").cast("bigint").alias("max_key"),
            F.sum(F.expr(ck)).cast("bigint").alias("checksum"),
            (F.count_distinct(F.col("fname")) == 1)
            .cast("bigint")
            .alias("files_ok"),
        )
        .select(
            F.concat(
                F.lit("e"),
                F.col("epoch").cast("string"),
                F.lit(":f"),
                F.col("file_id").cast("string"),
            ).alias("part"),
            "n",
            "min_key",
            "max_key",
            "checksum",
            "files_ok",
        )
    )


# --- DuckDB oracle ------------------------------------------------------------


def eperm_oracle_body() -> str:
    """The inline twin: train-split membership (the corpus_splits
    oracle), epoch-salted keys, fixed-width bucketing — identical
    integer arithmetic, files_ok pinned at 1 (the writer's
    one-task-per-file_id layout contract)."""
    width = shuffled_file_width(_EPERM_FILES)
    keys = "\nUNION ALL\n".join(
        f"  SELECT {e} AS epoch, doc_id, {_DUCK_EPOCH_SHUF.format(e=e)} AS shuffle_key"
        " FROM cs WHERE split = 'train'"
        for e in _EPERM_EPOCHS
    )
    ck = _ck("duckdb", _key("duckdb", ["'ep'", "epoch", "doc_id", "shuffle_key"]))
    return f"""
WITH cs AS ({corpus_splits_oracle()}),
k AS (
{keys}
),
b AS (SELECT epoch, doc_id, shuffle_key, shuffle_key // {width} AS file_id FROM k)
SELECT 'e' || CAST(epoch AS VARCHAR) || ':f' || CAST(file_id AS VARCHAR) AS part,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(shuffle_key) AS BIGINT) AS min_key,
       CAST(max(shuffle_key) AS BIGINT) AS max_key,
       CAST(sum({ck}) AS BIGINT) AS checksum,
       CAST(1 AS BIGINT) AS files_ok
FROM b GROUP BY epoch, file_id
""".strip()
