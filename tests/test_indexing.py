"""Global index unit tests (operators/indexing.py).

Regression context: repartitionByRange samples split boundaries with a
per-execution seed, so an unmaterialized two-pass index could compute
offsets on one partitioning and emit rows under another — wrong global
ids that only showed up at sf0.1 (caught by tools/strict_compare.py).
"""

from __future__ import annotations

from contextlib import contextmanager

from monday_etl_automation_spark.operators.indexing import with_global_index
from monday_etl_automation_spark.sources.tables import load_table


def _customers(spark, sf_dir):
    return load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@contextmanager
def _two_pass(spark):
    """Force the two-pass path: with the broadcast threshold disabled
    (-1) no input fits one partition, so the index range-partitions
    over ``spark.sql.shuffle.partitions``. Restores the threshold."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def test_global_index_is_correct_and_stable(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    with _two_pass(spark):
        idx = with_global_index(o, ["o_orderkey"], name="rn", start=1)
        a = sorted((r.o_orderkey, r.rn) for r in idx.collect())
        b = sorted((r.o_orderkey, r.rn) for r in idx.collect())  # re-execution
    assert a == b, "global index changed between executions"
    keys = sorted(r.o_orderkey for r in o.collect())
    want = [(k, i + 1) for i, k in enumerate(keys)]
    assert a == want


def test_global_index_start_offset_and_empty(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    idx = with_global_index(o.limit(5), ["o_orderkey"], name="auto_id", start=100)
    got = sorted(r.auto_id for r in idx.collect())
    assert got == [100, 101, 102, 103, 104]
    empty = with_global_index(o.where("o_orderkey < 0"), ["o_orderkey"], name="rn")
    assert empty.count() == 0


def test_one_partition_path_matches_two_pass(spark, sf_dir):
    """The default (one-partition) path numbers rows exactly as the
    forced multi-partition two-pass path does."""
    c = _customers(spark, sf_dir)
    default = with_global_index(c, ["c_name", "c_custkey"], name="auto_id", start=100)
    with _two_pass(spark):
        forced = _rows(with_global_index(c, ["c_name", "c_custkey"], name="auto_id", start=100))
    got = _rows(default)
    assert got == forced
    assert sorted(r[2] for r in got) == list(range(100, 100 + len(got)))
    assert "SinglePartition" in default._jdf.queryExecution().executedPlan().toString()


def test_one_partition_build_runs_no_job(spark, sf_dir, spark_jobs):
    """A small input's index is all plan: building it fires no sampling,
    checkpoint or counts job (the two-pass build fires several)."""
    c = _customers(spark, sf_dir)
    _, jobs = spark_jobs(lambda: with_global_index(c, ["c_name", "c_custkey"], name="auto_id", start=100))
    assert jobs == []


def test_disabled_broadcast_threshold_takes_two_pass(spark, sf_dir, spark_jobs):
    """The size guard reads the session's broadcast threshold: with it
    disabled (-1) the default path is the two-pass build, which runs
    jobs and plans no single-partition exchange, with the same rows."""
    c = _customers(spark, sf_dir)
    with _two_pass(spark):
        idx, jobs = spark_jobs(lambda: with_global_index(c, ["c_name", "c_custkey"], name="auto_id", start=100))
        assert jobs, "the two-pass build materializes its range partitions"
        assert "SinglePartition" not in idx._jdf.queryExecution().executedPlan().toString()
        got = _rows(idx)
    assert got == _rows(with_global_index(c, ["c_name", "c_custkey"], name="auto_id", start=100))
