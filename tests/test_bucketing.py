"""Bucketed-table contract: same results as the plain join, and the
bucket-key join/aggregation plans carry NO shuffle Exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from monday_etl_automation_spark.sources.bucketing import (
    bucketed_join,
    plan_has_exchange,
    write_bucketed,
)
from monday_etl_automation_spark.sources.tables import load_table


@pytest.fixture()
def no_broadcast(spark):
    """Force the shuffle path so the assertion targets SMJ co-location,
    not AQE's broadcast conversion (which adds a BroadcastExchange)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_no_exchange_and_equal_results(spark, sf_dir, no_broadcast):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], sort_cols=["o_orderkey"])
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        sort_cols=["o_orderkey"],
    )
    joined = bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
    assert not plan_has_exchange(joined), joined._jdf.queryExecution().executedPlan().toString()

    plain = orders.join(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), ["o_orderkey"]
    )
    assert plain.count() == joined.count()
    got = joined.agg(F.sum(F.col("l_quantity").cast("bigint")).alias("s")).collect()[0]["s"]
    want = plain.agg(F.sum(F.col("l_quantity").cast("bigint")).alias("s")).collect()[0]["s"]
    assert got == want

    # the plain (unbucketed) twin DOES shuffle — the cost bucketing removes
    assert plan_has_exchange(plain)


def test_bucketed_aggregation_no_exchange(spark, sf_dir, no_broadcast):
    """groupBy on the bucket key rides the bucket partitioning too —
    no Exchange before the aggregate."""
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(lineitem, "b_li_agg", ["l_orderkey"])
    agg = (
        spark.table("b_li_agg")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
    )
    assert not plan_has_exchange(agg)
    want = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .orderBy("l_orderkey")
        .limit(5)
        .collect()
    )
    got = agg.orderBy("l_orderkey").limit(5).collect()
    assert got == want
