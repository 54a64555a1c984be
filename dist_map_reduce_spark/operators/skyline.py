"""2-D skyline (Pareto frontier) — maximal points under dominance.

A point dominates another when it is >= in both dimensions and
strictly > in at least one; the skyline is the un-dominated set (the
"best tradeoffs" query: most expensive AND most recent, cheapest AND
closest, etc.). Naively O(n²); the engine plan is the classic
distributed two-phase reduction:

1. collapse to one candidate per distinct x (only the max-y point at
   a given x can survive) — an ordinary hash aggregate;
2. LOCAL skylines per bucket — a window keyed by a 32-way hash
   bucket of x computes each bucket's running-max filter
   independently (32-way parallel, no global sort; the one exchange
   this window needs carries only the already-collapsed per-x set,
   and Catalyst would insert an exchange for ANY window key here —
   ``spark_partition_id()`` included — so a deterministic bucket
   costs nothing extra). A local non-skyline point is dominated by
   a point in the SAME bucket, so pruning it is always safe;
3. GLOBAL skyline over the survivors — the same running-max window,
   now over a set bounded by the sum of local frontier sizes (for
   hash bucketing of n points, expected local frontier is
   O(log n) per bucket), so the single-task global pass is tiny.

The final result is invariant to the bucketing — step 2 only ever
REMOVES dominated points, never frontier points — which is what the
cross-engine oracle (a NOT EXISTS dominance query) verifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query


def _runmax_filter(pts: DataFrame, part: list) -> DataFrame:
    """Keep rows whose y strictly exceeds the running max of y over
    all STRICTLY-greater x (x are distinct within a partition group
    after the per-x collapse, so 'preceding rows' in x-desc order is
    exactly 'strictly greater x')."""
    w = (
        Window.partitionBy(*part)
        .orderBy(F.desc("x"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.max("y").over(w)
    return pts.withColumn("__pm", prev).where(
        F.col("__pm").isNull() | (F.col("y") > F.col("__pm"))
    ).drop("__pm")


def skyline_2d(df: DataFrame, x: str, y: str) -> DataFrame:
    """Distinct skyline points (x, y), maximizing both dimensions."""
    pts = df.groupBy(F.col(x).alias("x")).agg(F.max(y).alias("y"))
    local = _runmax_filter(pts, [F.pmod(F.hash("x"), F.lit(32))])
    return _runmax_filter(local, [])


@query(
    "skyline_orders_price_recency",
    oracle="""
    WITH pts AS (
      SELECT o_totalprice AS price,
             max(epoch_us(o_orderdate) // 1000000) AS recency
      FROM orders GROUP BY 1
    )
    SELECT price, recency
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.price > p.price AND q.recency >= p.recency
    )
    """,
)
def skyline_orders_price_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of orders over (total price, order recency):
    no other order is both more expensive and at-least-as-recent.
    The oracle states dominance directly (NOT EXISTS); the engine
    runs the two-phase local/global reduction."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("price"),
        # o_orderdate reads as TIMESTAMP_NTZ; unix_timestamp takes it
        # without a zone, where a cast to timestamp would apply the
        # session's
        F.unix_timestamp(F.col("o_orderdate")).alias("recency"),
    )
    return skyline_2d(o, "price", "recency").select(
        F.col("x").alias("price"), F.col("y").alias("recency")
    )
