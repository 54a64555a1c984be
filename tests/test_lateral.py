"""Semantic contracts of the r16 LATERAL top-N (parity proves
Spark == DuckDB; these prove the decorrelation and the semantics):

- the executed plan is DECORRELATED: one WindowGroupLimit pass over
  orders and one equi-join — no nested-loop / per-outer-row
  re-execution artifact anywhere (the claim that LATERAL costs
  nothing at scale);
- the result equals the hand-written window-rewrite twin
  row-for-row (the two spellings are the same query);
- per-key laws: rk in 1..TOP_N, <= TOP_N rows per customer, prices
  non-increasing within a customer, and every output customer is in
  the audit md5 bucket.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Window
from pyspark.sql import functions as F

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_plan_is_decorrelated(spark):
    from dist_map_reduce_spark.operators.lateral import (
        lateral_topn_orders_per_customer,
    )

    plan = (
        lateral_topn_orders_per_customer(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_matches_window_rewrite_twin(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.lateral import (
        N_BUCKETS,
        TOP_N,
        lateral_topn_orders_per_customer,
    )

    got = (
        lateral_topn_orders_per_customer(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["c_custkey", "rk"])
        .reset_index(drop=True)
    )

    cust = load_table(spark, SF_SMOKE, "customer").select("c_custkey")
    in_bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lat:"), F.col("c_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % N_BUCKETS
        == 0
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    twin = (
        load_table(spark, SF_SMOKE, "orders")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_N)
        .join(
            cust.filter(in_bucket),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_custkey", "o_orderkey", "o_totalprice", "rk")
        .toPandas()
        .sort_values(["c_custkey", "rk"])
        .reset_index(drop=True)
    )
    assert got.equals(twin[got.columns])

    # per-key laws + the audit-bucket filter
    assert got.rk.between(1, TOP_N).all()
    assert (got.groupby("c_custkey").size() <= TOP_N).all()
    assert (
        got.groupby("c_custkey").o_totalprice.apply(
            lambda s: s.is_monotonic_decreasing
        )
    ).all()
    for ck in got.c_custkey.unique():
        h = int(hashlib.md5(f"lat:{ck}".encode()).hexdigest()[:8], 16)
        assert h % N_BUCKETS == 0
