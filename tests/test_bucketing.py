"""Co-bucketed layout: the fact-fact join must plan without a shuffle
Exchange, and the bucketed round-trip must preserve the join result."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import DataFrame, functions as F

from foresttime_builder_spark.sources.bucketing import (
    co_bucketed_join,
    write_bucketed,
)
from foresttime_builder_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan (broadcast
    exchanges excluded — those are the cheap kind)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


@pytest.fixture(scope="module")
def bucketed(spark):
    tmp = tempfile.mkdtemp(prefix="ftb_bucketed_")
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(
        orders, "ftb_orders_bck", f"{tmp}/orders", ["o_orderkey"], num_buckets=8
    )
    write_bucketed(
        lineitem,
        "ftb_lineitem_bck",
        f"{tmp}/lineitem",
        ["l_orderkey"],
        num_buckets=8,
        sort_cols=["l_orderkey", "l_linenumber"],
    )
    yield orders, lineitem
    for t in ("ftb_orders_bck", "ftb_lineitem_bck"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(tmp, ignore_errors=True)


def test_join_plans_without_exchange(spark, bucketed):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = co_bucketed_join(
            spark, "ftb_orders_bck", "ftb_lineitem_bck", "o_orderkey", "l_orderkey"
        )
        assert exchange_count(joined) == 0
        plain = bucketed[0].join(
            bucketed[1],
            on=bucketed[0]["o_orderkey"] == bucketed[1]["l_orderkey"],
        )
        assert exchange_count(plain) > 0  # the layout is what removed it
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_roundtrip_matches_plain_join(spark, bucketed):
    orders, lineitem = bucketed
    bucked = (
        co_bucketed_join(
            spark, "ftb_orders_bck", "ftb_lineitem_bck", "o_orderkey", "l_orderkey"
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(F.sum("l_extendedprice") * 100 + F.lit(0.5)).alias("rev_c"),
        )
    )
    plain = (
        orders.join(lineitem, on=orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(F.sum("l_extendedprice") * 100 + F.lit(0.5)).alias("rev_c"),
        )
    )
    got = {r["o_orderpriority"]: (r["n"], r["rev_c"]) for r in bucked.collect()}
    want = {r["o_orderpriority"]: (r["n"], r["rev_c"]) for r in plain.collect()}
    assert got == want
