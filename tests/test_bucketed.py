"""sources/bucketed.py — co-located bucketed joins: the join on two
tables bucketed on the same key must plan with ZERO Exchange, and with
sortBy, zero extra Sort on the streamed side; results must equal the
plain (shuffled) join."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from talknet_segmentation_batchprocessing_spark.registry import load
from talknet_segmentation_batchprocessing_spark.sources.bucketed import write_bucketed

from .conftest import SF_SMOKE


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    orders = load(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load(spark, SF_SMOKE, "customer").select("c_custkey", "c_name")
    write_bucketed(
        orders.withColumnRenamed("o_custkey", "custkey"),
        "t_orders_b",
        ["custkey"],
        8,
        sort_cols=["custkey"],
        path=str(tmp_path / "orders_b"),
    )
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "custkey"),
        "t_customer_b",
        ["custkey"],
        8,
        sort_cols=["custkey"],
        path=str(tmp_path / "customer_b"),
    )
    yield "t_orders_b", "t_customer_b"
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_bucketed_join_is_shuffle_free_and_correct(spark, bucketed_pair):
    left, right = bucketed_pair
    # the broadcast threshold would turn this into a BHJ and hide the
    # bucketing effect — force SMJ for the plan assertion
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(left).join(spark.table(right), "custkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "SortMergeJoin" in plan

        got = (
            spark.table(left)
            .join(spark.table(right), "custkey")
            .select("o_orderkey", "c_name", "o_totalprice")
            .toPandas()
            .sort_values("o_orderkey")
            .reset_index(drop=True)
        )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    orders = load(spark, SF_SMOKE, "orders")
    customer = load(spark, SF_SMOKE, "customer")
    want = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice")
        .toPandas()
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_bucketed_aggregation_skips_exchange(spark, bucketed_pair):
    left, _right = bucketed_pair
    agg = spark.table(left).groupBy("custkey").agg(F.sum("o_totalprice"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"grouping on the bucket key shuffled:\n{plan}"
