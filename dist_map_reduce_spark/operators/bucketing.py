"""Bucketed tables: shuffle-free co-located joins.

At 100 TB the orders⋈lineitem join shuffles both fact tables on every
run; bucketing both by the join key at write time (16 buckets here,
thousands in production) makes the join a zero-Exchange sort-merge —
the single biggest recurring-cost saving for a fact-fact join.
tests/test_bucketing.py asserts the bucketed plan has NO Exchange
while the result matches the plain-join oracle.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.money import sum_disc_price
from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.scratch import scratch_path

N_BUCKETS = 16


def _ensure_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Create bucketed tables for orders/lineitem once per
    (session, sf) inside a per-fixture database whose LOCATION is
    this process's scratch dir — the default warehouse is
    <caller cwd>/spark-warehouse, and ``option("path")`` is not
    reliably honored by bucketed saveAsTable (observed writing both
    locations). The data location follows the table name."""
    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf_dir)))
    db = f"dmr_bucket_{tag}"
    root = scratch_path(sf_dir, "bucketed")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{root}'")
    specs = [
        (f"{db}.orders_b", "orders", "o_orderkey"),
        (f"{db}.lineitem_b", "lineitem", "l_orderkey"),
    ]
    for table, source, key in specs:
        loc = os.path.join(root, table.split(".", 1)[1])
        if spark.catalog.tableExists(table) and os.path.isdir(loc):
            continue
        # the in-memory catalog dies with the session but data files
        # survive (same process, new session), and a removed scratch
        # root leaves catalog entries without files — clear the
        # location and re-create
        shutil.rmtree(loc, ignore_errors=True)
        (
            load_table(spark, sf_dir, source)
            .write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(table)
        )
    return specs[0][0], specs[1][0]


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    to, tl = _ensure_bucketed(spark, sf_dir)
    orders = spark.table(to)
    li = spark.table(tl)
    return li.join(orders, li.l_orderkey == orders.o_orderkey)


@query(
    "bucketed_join_order_revenue",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_items,
           {sum_disc_price("revenue")}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join through bucketed tables: both sides are
    pre-hash-partitioned and pre-sorted on the join key at write
    time, so the join runs with zero Exchange. Oracle is the plain
    join on the raw parquet — bucketing must be invisible in the
    result."""
    return bucketed_join(spark, sf_dir).groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.expr(sum_disc_price("revenue")),
    )
