"""Batch relational core: scans, projections, filters, joins,
aggregations, distinct, rollup/cube, top-k.

Generalizes the reference's single map→shuffle→reduce pipeline
(reference: src/worker/worker.go:131-218) to the full relational
operator surface (SURVEY.md §2.2) as declarative DataFrame plans.

Scale notes (100 TB posture):
- region/nation are bounded dims → always `F.broadcast`.
- customer/supplier/part scale with sf but stay orders of magnitude
  below lineitem → leave to AQE/auto-broadcast (threshold 64m);
  at 100 TB they become sort-merge joins on their keys, which is the
  right plan.
- All aggregates are partial-agg'd map-side by Catalyst (the
  combiner the reference lacks, SURVEY.md §2.3(4)).
- Monetary aggregates are rounded to 2 decimals in BOTH engines so
  double-precision association order can't flip the comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table, plain_sql, run_sql
from dist_map_reduce_spark.money import (
    sum_charge,
    sum_disc_price,
    sum_money,
    sum_price_times_disc,
)
from dist_map_reduce_spark.registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------
# TPC-H-style analytical queries
# --------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           {sum_money("l_extendedprice", "sum_base_price")},
           {sum_disc_price("sum_disc_price")},
           {sum_charge("sum_charge")},
           round(avg(l_quantity), 4)      AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4)      AS avg_disc,
           count(*)                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide multi-aggregate over the fact table.

    Plan: parquet scan (prunes to 7 cols, pushes the shipdate
    predicate) → partial hash-agg → exchange on 2 low-cardinality
    keys → final hash-agg. No join; shuffle volume is #groups.
    Monetary sums accumulate in DECIMAL (see money.py) — identical
    expression text runs in Spark SQL and the DuckDB oracle.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.expr(sum_money("l_extendedprice", "sum_base_price")),
        F.expr(sum_disc_price("sum_disc_price")),
        F.expr(sum_charge("sum_charge")),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sum_disc_price("revenue")},
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → top-k.

    customer is filtered before the join (pushdown) and is tiny
    relative to lineitem → Catalyst broadcasts it; the orders⋈lineitem
    join shuffles on orderkey. Top-k is planned as
    TakeOrderedAndProject (no global sort materialization).
    Deterministic tie-break on l_orderkey.
    """
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(sum_disc_price("revenue")))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "q5_region_revenue",
    oracle=f"""
    SELECT n_name,
           {sum_disc_price("revenue")}
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join, bounded dims broadcast.

    region(5)⋈nation(25) are broadcast at any scale; the fact-side
    joins shuffle on orderkey/suppkey. The c_nationkey = s_nationkey
    condition rides the supplier join as a post-join predicate.
    """
    region = F.broadcast(
        _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.expr(sum_disc_price("revenue")))
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sum_price_times_disc("revenue")},
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+global agg — every predicate
    is pushable to the parquet reader; zero shuffle beyond the final
    single-row combine."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.expr(sum_price_times_disc("revenue")),
        F.count("*").alias("n_items"),
    )


# --------------------------------------------------------------------
# Join variants
# --------------------------------------------------------------------


@query(
    "join_broadcast_nation_orders",
    oracle=f"""
    SELECT n_name, count(*) AS n_orders,
           {sum_money("o_totalprice", "total_revenue")}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast_nation_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join of the bounded dim (nation)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr(sum_money("o_totalprice", "total_revenue")),
        )
    )


@query(
    "join_left_customer_order_counts",
    oracle="""
    SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders;
    count(o_orderkey) skips the nulls the outer join introduces."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_semi_active_customers",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01'
    )
    """,
)
def join_semi_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join = EXISTS. Only the key column of orders crosses
    the network; no row multiplication."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return cust.join(
        recent, cust.c_custkey == recent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "join_anti_dormant_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01'
    )
    """,
)
def join_anti_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join = NOT EXISTS."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return cust.join(
        recent, cust.c_custkey == recent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_semi_anti_balance",
    oracle="""
    WITH recent AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    )
    SELECT
      (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM recent))     AS n_active,
      (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM recent)) AS n_dormant,
      (SELECT count(*) FROM customer)                                                       AS n_total
    """,
)
def join_semi_anti_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti partition the build side exactly: bench headline
    exercising both join types plus a union of scalar aggregates."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    active = cust.join(recent, cust.c_custkey == recent.o_custkey, "left_semi")
    dormant = cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    return (
        active.agg(F.count("*").alias("n_active"))
        .crossJoin(dormant.agg(F.count("*").alias("n_dormant")))
        .crossJoin(cust.agg(F.count("*").alias("n_total")))
    )


# --------------------------------------------------------------------
# Aggregation variants: distinct, rollup, cube, top-k, pivot
# --------------------------------------------------------------------


@query(
    "agg_distinct_per_status",
    oracle=f"""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders,
           {sum_money("o_totalprice", "total")}
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_distinct_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT) alongside plain aggregates — Spark expands
    this to a two-phase agg (Expand → partial → final)."""
    return _t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        F.expr(sum_money("o_totalprice", "total")),
    )


@query(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "rollup_lineitem_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals incl. grand total (NULL rows)."""
    return _t(spark, sf_dir, "lineitem").rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@query(
    "cube_orders_status_priority",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           {sum_money("o_totalprice", "total")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations."""
    return _t(spark, sf_dir, "orders").cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.expr(sum_money("o_totalprice", "total")),
    )


_GROUPING_SETS = """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM {orders}
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """


@query("grouping_sets_orders", oracle=plain_sql(_GROUPING_SETS))
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same Catalyst Expand
    operator as rollup/cube)."""
    return run_sql(spark, sf_dir, _GROUPING_SETS)


@query(
    "topk_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — each
    partition keeps k rows, driver merges k·p rows; no global sort."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@query(
    "pivot_event_type_daily",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'view')     AS view,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'error')    AS error
    FROM events
    GROUP BY 1
    """,
)
def pivot_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never pivot on unknown
    cardinality at scale — it's a driver-side distinct otherwise)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "signup", "purchase", "error"]
    out = (
        ev.withColumn("day", F.date_trunc("day", "ts"))
        .groupBy("day")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves null for absent combos; oracle FILTER yields 0
    for t in types:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)))
    return out


@query(
    "unpivot_lineitem_measures",
    oracle=f"""
    SELECT measure, {sum_money("val", "total")}
    FROM (
      SELECT 'quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'discount', l_discount FROM lineitem
    )
    GROUP BY measure
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack()."""
    return (
        _t(spark, sf_dir, "lineitem")
        .selectExpr(
            "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount) AS (measure, val)"
        )
        .groupBy("measure")
        .agg(F.expr(sum_money("val", "total")))
    )
