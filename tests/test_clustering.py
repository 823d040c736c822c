"""Z-order clustering: two-dimensional pruning pins + losslessness."""

from __future__ import annotations

import pytest

from monday_etl_automation_spark.sources.clustering import (
    candidate_files,
    linear_write,
    zorder_write,
)
from monday_etl_automation_spark.sources.tables import load_table

_N_FILES = 16


@pytest.fixture(scope="module")
def layouts(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("layouts")
    df = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    z, lin = str(base / "zorder"), str(base / "linear")
    zorder_write(df, z, ("l_orderkey", "l_partkey"))
    linear_write(df, lin, "l_orderkey")
    return df.localCheckpoint(eager=True), z, lin


def _mid_range(df, col, frac=0.05):
    # start at 30% of the span: a probe at exactly 50% straddles the
    # top-bit boundary of the z-curve and doubles the candidate count
    lo, hi = df.selectExpr(f"min({col})", f"max({col})").collect()[0]
    span = hi - lo
    start = lo + span * 3 // 10
    return start, start + max(1, int(span * frac))


def test_zorder_lossless(spark, layouts):
    df, z, _ = layouts
    back = spark.read.parquet(z)
    assert back.count() == df.count()
    a = df.groupBy().sum("l_orderkey", "l_partkey", "l_quantity").collect()
    b = back.groupBy().sum("l_orderkey", "l_partkey", "l_quantity").collect()
    assert a == b


def test_zorder_prunes_both_dimensions(spark, layouts):
    """The pin that makes z-order worth its write cost: the linear
    layout answers l_partkey predicates by touching (nearly) every
    file; the z-ordered layout touches a strict subset on BOTH
    dimensions."""
    df, z, lin = layouts
    ok_lo, ok_hi = _mid_range(df, "l_orderkey")
    pk_lo, pk_hi = _mid_range(df, "l_partkey")

    z_ok = candidate_files(spark, z, "l_orderkey", ok_lo, ok_hi)
    z_pk = candidate_files(spark, z, "l_partkey", pk_lo, pk_hi)
    lin_ok = candidate_files(spark, lin, "l_orderkey", ok_lo, ok_hi)
    lin_pk = candidate_files(spark, lin, "l_partkey", pk_lo, pk_hi)

    # the dedicated sort is unbeatable on its own column...
    assert lin_ok <= z_ok
    # ...but blind on the other: a narrow partkey predicate touches
    # (almost) the whole linear layout
    assert lin_pk >= _N_FILES - 1
    # z-order prunes BOTH dimensions meaningfully
    assert z_ok <= _N_FILES // 2
    assert z_pk < lin_pk
    assert z_pk <= _N_FILES * 3 // 4


def test_driver_zorder_section_matches_width_bucket_formula(spark, sf_dir):
    """Formula-sync pin (r15): the driver-hashed zorder section
    (plans/relational.py:_zorder_sql) spells the quantization out as
    floor((v - lo) * n / (hi - lo)) so ONE text runs on both engines,
    while zorder_write (sources/clustering.py) uses Spark's
    width_bucket. The two must assign identical buckets — if either
    formula changes (or width_bucket's boundary behavior differs from
    the multiply-then-divide spelling), this fails loudly instead of
    the layouts silently diverging from the driver-pinned contract."""
    from pyspark.sql import functions as F

    from monday_etl_automation_spark.sources.tables import load_table, register_views

    register_views(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    lo1, hi1, lo2, hi2 = part.agg(
        F.min("p_size").cast("double"),
        F.max("p_size").cast("double"),
        F.min(F.col("p_retailprice").cast("double")),
        F.max(F.col("p_retailprice").cast("double")),
    ).collect()[0]
    n = 1024
    wb = part.select(
        F.expr(
            f"least(CAST({n - 1} AS BIGINT),"
            f" width_bucket(CAST(p_size AS DOUBLE), {lo1}, {hi1}, {n}) - 1)"
        ).alias("b1"),
        F.expr(
            f"least(CAST({n - 1} AS BIGINT),"
            f" width_bucket(CAST(p_retailprice AS DOUBLE), {lo2}, {hi2}, {n}) - 1)"
        ).alias("b2"),
    )
    explicit = part.select(
        F.expr(
            f"least(CAST({n - 1} AS BIGINT),"
            f" CAST(floor((CAST(p_size AS DOUBLE) - {lo1}) * {n}.0 / ({hi1} - {lo1})) AS BIGINT))"
        ).alias("b1"),
        F.expr(
            f"least(CAST({n - 1} AS BIGINT),"
            f" CAST(floor((CAST(p_retailprice AS DOUBLE) - {lo2}) * {n}.0 / ({hi2} - {lo2})) AS BIGINT))"
        ).alias("b2"),
    )
    a = sorted(map(tuple, wb.collect()))
    b = sorted(map(tuple, explicit.collect()))
    assert len(a) > 0
    assert a == b
