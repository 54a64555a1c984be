"""Semantic contracts of the r16 recursive-CTE traversal — what
cross-engine parity can't state (parity proves Spark == DuckDB;
these prove the traversal is a CORRECT forest walk):

- partition: every order lands at exactly one depth
  (sum(n_orders) == |orders|), so no node is dropped or revisited;
- roots: depth 0 has one order per root (n_orders == n_roots);
- reachability: roots alive at depth d are a subset of roots alive
  at depth d-1 (a node's parent chain passes through every shallower
  depth), so n_roots is non-increasing in depth;
- depth bound: max depth <= log2(max orderkey) — the log-bounded
  recursion the 100 TB posture rests on;
- conservation: depth revenues sum to the direct exact total.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _out(spark):
    return (
        registry.QUERIES["recursive_order_lineage"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("depth")
        .reset_index(drop=True)
    )


def test_partition_roots_and_depth_bound(spark):
    from dist_map_reduce_spark.catalog import load_table

    pdf = _out(spark)
    orders = load_table(spark, SF_SMOKE, "orders")
    n_orders = orders.count()
    max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]

    assert pdf["n_orders"].sum() == n_orders
    d0 = pdf[pdf["depth"] == 0]
    assert len(d0) == 1
    assert d0["n_orders"].iloc[0] == d0["n_roots"].iloc[0]
    assert pdf["n_roots"].is_monotonic_decreasing or (
        pdf["n_roots"].diff().dropna() <= 0
    ).all()
    assert pdf["depth"].max() <= math.log2(max_key)
    # depths are contiguous from 0 (a node at depth d implies its
    # parent at d-1)
    assert pdf["depth"].tolist() == list(range(len(pdf)))


def test_revenue_conservation_exact(spark):
    """Depth revenues (DECIMAL-accumulated per depth, rounded to
    cents) must sum to within a cent-per-depth of the direct exact
    total — and with the same DECIMAL discipline on the direct side,
    the only drift is the per-depth cent rounding."""
    from dist_map_reduce_spark.catalog import load_table

    pdf = _out(spark)
    direct = (
        load_table(spark, SF_SMOKE, "orders")
        .agg(
            F.expr(
                "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)"
                " AS DOUBLE)"
            ).alias("t")
        )
        .collect()[0]["t"]
    )
    assert abs(pdf["depth_revenue"].sum() - direct) < 0.01 * len(pdf)
