"""Small-file compaction: contents preserved exactly, file counts cut
to the size-derived target, idempotent second run."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from monday_etl_automation_spark.sources.maintenance import (
    compact_parquet,
    dir_stats,
    plan_compaction,
)
from monday_etl_automation_spark.sources.tables import load_table


def _parquet_files(path):
    return glob.glob(f"{path}/**/*.parquet", recursive=True)


def test_compact_unpartitioned(spark, sf_dir, tmp_path):
    path = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(64).write.parquet(path)  # simulate streaming-sink rot
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert dir_stats(path)["n_files"] == 64

    out = compact_parquet(spark, path)
    assert out["rewritten"]
    assert out["after_n_files"] < 64
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before

    # idempotent: second run is a metadata-only no-op
    out2 = compact_parquet(spark, path)
    assert not out2["rewritten"]


def test_compact_partitioned_preserves_layout(spark, sf_dir, tmp_path):
    path = str(tmp_path / "frag_part")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "etype", F.col("event_type")
    )
    ev.repartition(16).write.partitionBy("etype").parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    n_before = dir_stats(path)["n_files"]

    out = compact_parquet(spark, path, partition_by=["etype"])
    assert out["rewritten"]
    assert out["after_n_files"] < n_before
    # Hive layout preserved: partition dirs still present, readers
    # still partition-prune on etype
    dirs = {p.split("/")[-2] for p in _parquet_files(path)}
    assert all(d.startswith("etype=") for d in dirs)
    assert len(dirs) >= 2
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before


def test_plan_compaction_is_metadata_only(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tiny")
    load_table(spark, sf_dir, "events").limit(100).repartition(10).write.parquet(path)
    plan = plan_compaction(path)
    assert plan["n_files"] == 10
    assert plan["target_files"] == 1
    assert plan["compact"]


def test_compact_recovers_from_crash_leftovers(spark, sf_dir, tmp_path):
    """compact_parquet must be re-runnable after any mid-swap crash:
    (a) table missing + backup present -> backup restored;
    (b) stale backup next to a live table -> backup dropped (a blind
        rename onto the non-empty dir would raise);
    (c) stale staging -> dropped."""
    import os
    import shutil

    path = str(tmp_path / "tbl")
    ev = load_table(spark, sf_dir, "events").limit(500)
    ev.repartition(8).write.parquet(path)
    want = sorted(map(tuple, spark.read.parquet(path).collect()))
    backup, staging = path + "._compact_old", path + "._compact_staging"

    # (a) crash between the two renames: only the backup exists
    os.rename(path, backup)
    out = compact_parquet(spark, path)
    assert out["rewritten"]
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want
    assert not os.path.exists(backup) and not os.path.exists(staging)

    # (b)+(c) crash after swap but before cleanup, plus a stale staging
    ev.repartition(8).write.mode("overwrite").parquet(path)
    shutil.copytree(path, backup)
    shutil.copytree(path, staging)
    out = compact_parquet(spark, path)
    assert out["rewritten"]
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want
    assert not os.path.exists(backup) and not os.path.exists(staging)


def test_load_table_cache_invalidates_on_rewrite(spark, sf_dir, tmp_path):
    """The per-session memo must key on the file fingerprint: this
    environment regenerates testdata mid-round, and a plan pinned to
    the old snapshot would silently serve stale rows."""
    import shutil

    sf_copy = str(tmp_path / "sf")
    shutil.copytree(sf_dir, sf_copy)
    n1 = load_table(spark, sf_copy, "region").count()
    # rewrite the file with fewer rows (new mtime/size)
    load_table(spark, sf_copy, "region").limit(2).toPandas().to_parquet(
        f"{sf_copy}/region.parquet"
    )
    n2 = load_table(spark, sf_copy, "region").count()
    assert n1 > 2 and n2 == 2, f"stale cache: {n1} -> {n2}"
