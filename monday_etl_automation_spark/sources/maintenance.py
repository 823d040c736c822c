"""Table maintenance: small-file compaction and file-size-aware writes.

Streaming sinks (`streaming/pipeline.py`) and incremental batch appends
accrete many small parquet files; at 100 TB the file count, not the
byte count, becomes the scan bottleneck (driver listing, footer reads,
one scheduler task per tiny split). These helpers are the vanilla-Spark
equivalent of Delta/Iceberg OPTIMIZE: rewrite a (partitioned) parquet
directory into ~target-sized files, preserving partition layout and
contents exactly.

Design for 1000 executors:
- Sizing comes from the files' actual on-disk bytes (listing metadata,
  no data read) — never from row counts, which mispredict wildly across
  schemas.
- The rewrite is one distributed job per run: read → repartition to
  ceil(bytes/target) → dynamic-overwrite. Per-partition file counts are
  controlled with a partition-local shuffle key so one giant partition
  still writes multiple files while small partitions write one.
- Idempotent: re-running on a compacted table is a no-op plan (the
  planner skips partitions already within budget).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def dir_stats(path: str) -> dict[str, int]:
    """File count / total bytes under ``path`` (local fs; on cloud
    storage this is the FileSystem listing the driver does anyway)."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return {"n_files": n, "total_bytes": total}


_TARGET_FILE_BYTES = 128 * 1024 * 1024


def plan_compaction(path: str) -> dict:
    """Decide whether ``path`` needs compaction (two or more files,
    more than its bytes fill at ``_TARGET_FILE_BYTES`` each) and into
    how many files. Metadata-only (no data scan)."""
    stats = dir_stats(path)
    want_files = max(1, -(-stats["total_bytes"] // _TARGET_FILE_BYTES))  # ceil
    needed = stats["n_files"] >= 2 and stats["n_files"] > want_files
    return {**stats, "target_files": int(want_files), "compact": needed}


def compact_parquet(
    spark: SparkSession,
    path: str,
    partition_by: list[str] | None = None,
) -> dict:
    """Rewrite ``path`` into ~``_TARGET_FILE_BYTES`` files.

    Unpartitioned: repartition(target_files) → overwrite.
    Partitioned: repartition on (partition cols, pseudo-random split
    derived from the row) so each Hive partition's data clusters into
    few writer tasks — small partitions get 1 file, a giant partition
    still splits. Contents are preserved exactly (pinned by
    tests/test_maintenance.py); the write is staged through a temp dir
    then atomically swapped so a failed compaction never destroys the
    table (the same reason StatusUpsertSink severs lineage before its
    overwrite: never write over files still being read).
    """
    staging = path.rstrip("/") + "._compact_staging"
    backup = path.rstrip("/") + "._compact_old"
    _recover_interrupted(path, staging, backup)
    plan = plan_compaction(path)
    if not plan["compact"]:
        return {**plan, "rewritten": False}
    df = spark.read.parquet(path)
    if partition_by:
        # spread within partitions only as far as size demands:
        # files-per-partition budget ~ total target spread over
        # partitions, floor 1 (xxhash of the full row is retry-stable)
        splits = max(1, plan["target_files"])
        spread = F.pmod(
            F.xxhash64(F.struct(*[F.col(c) for c in df.columns])), F.lit(splits)
        ).cast("int")
        (
            df.repartition(splits, *partition_by, spread)
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(staging)
        )
    else:
        df.repartition(plan["target_files"]).write.mode("overwrite").parquet(staging)
    # atomic-ish swap (rename): on HDFS/local a dir rename is atomic;
    # on object stores this step is the table format's metadata commit.
    # Order matters for crash-safety: the backup is deleted ONLY after
    # the staging->path rename lands, and a crash anywhere in between
    # is repaired by _recover_interrupted on the next run.
    os.rename(path, backup)
    try:
        os.rename(staging, path)
    except OSError:
        os.rename(backup, path)  # restore — the table must never vanish
        raise
    import shutil

    shutil.rmtree(backup)
    return {**plan, "rewritten": True, **{f"after_{k}": v for k, v in dir_stats(path).items()}}


def _recover_interrupted(path: str, staging: str, backup: str) -> None:
    """Repair leftovers from a compaction that crashed mid-swap, so
    compact_parquet is safely re-runnable:

    - backup exists and the table path is MISSING → crash landed
      between the two renames; the backup IS the table — restore it.
    - backup exists alongside the table → crash after the swap but
      before cleanup; the table is current — drop the stale backup
      (a blind ``os.rename(path, backup)`` would otherwise fail:
      POSIX refuses to rename onto a non-empty directory).
    - stale staging → partial write from an aborted run — drop it
      (the overwrite would clobber it anyway, but a crash BEFORE the
      write must not leave it to be mistaken for a finished stage).
    """
    import shutil

    if os.path.exists(backup):
        if not os.path.exists(path):
            os.rename(backup, path)
        else:
            shutil.rmtree(backup)
    if os.path.exists(staging):
        shutil.rmtree(staging)
