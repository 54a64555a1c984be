"""CDC MERGE (upsert + delete) — the lakehouse change-apply operator.

Every warehouse ingests change-data-capture feeds: a batch of
(key, op, new values) rows — inserts, updates, delete tombstones —
merged into a base table (``MERGE INTO`` in Delta/Iceberg/ANSI). The
reference engine has no mutation surface at all (its sinks are
write-once text files, /root/reference/src/worker/worker.go:219-268),
so this belongs to the extension surface every production pipeline
needs.

Spark-first shape: MERGE over immutable storage is exactly one
LEFT equi-join of base onto the change-set (update-or-keep + delete
filter) plus a UNION of the inserts — no row-level mutation
machinery needed, and at 100 TB the join co-partitions on the merge
key (bucketed base + bucketed feed = zero-shuffle merge, the
operators/bucketing.py pattern) while the typically-small CDC batch
broadcasts. AQE picks broadcast automatically when the feed fits;
nothing in the plan is driver-side.

The change-set here is DERIVED deterministically from the fixture
(md5 key bucketing, the dataset_split / ingest-split discipline):
bucket 0-1 of orders become updates (price bumped by a clean +100.0
double add — no rounding, so no cross-engine half-even trap),
bucket 2 become delete tombstones, and each bucket-3 row spawns an
insert under the reserved negative key -o_orderkey (guaranteed
fresh: fixture keys are positive). The merged result is fully
checkable: every row carries ``src`` (kept/updated/inserted) and the
oracle re-derives the whole merge relationally.

100 TB posture: SCALE.md §CDC merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

_N_CDC_BUCKETS = 10

_ORACLE = f"""
WITH b AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         ('0x' || substring(md5('cdc:' || o_orderkey::VARCHAR), 1, 8))
           ::BIGINT % {_N_CDC_BUCKETS} AS bucket
  FROM orders
),
upd AS (SELECT o_orderkey, o_totalprice + 100.0 AS new_price
        FROM b WHERE bucket IN (0, 1)),
del AS (SELECT o_orderkey FROM b WHERE bucket = 2),
ins AS (SELECT -o_orderkey AS o_orderkey, o_custkey, o_orderstatus,
               o_totalprice
        FROM b WHERE bucket = 3)
SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus,
       COALESCE(u.new_price, b.o_totalprice) AS o_totalprice,
       CASE WHEN u.o_orderkey IS NOT NULL THEN 'updated'
            ELSE 'kept' END AS src
FROM b
LEFT JOIN upd u USING (o_orderkey)
ANTI JOIN del USING (o_orderkey)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       'inserted' AS src
FROM ins
"""


@query("cdc_merge_upsert_orders", oracle=_ORACLE)
def cdc_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, o_custkey, o_orderstatus, o_totalprice, src):
    orders after applying a deterministic CDC batch — updates
    (bucket 0-1, price +100.0), deletes (bucket 2), inserts
    (bucket 3 under fresh negative keys) — as one left-join +
    anti-join + union MERGE plan."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cdc:"), F.col("o_orderkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _N_CDC_BUCKETS
    )
    b = base.withColumn("bucket", bucket)
    upd = b.filter(F.col("bucket").isin(0, 1)).select(
        "o_orderkey", (F.col("o_totalprice") + F.lit(100.0)).alias("new_price")
    )
    dels = b.filter(F.col("bucket") == 2).select("o_orderkey")
    ins = b.filter(F.col("bucket") == 3).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit("inserted").alias("src"),
    )
    merged = (
        b.join(upd.withColumnRenamed("o_orderkey", "u_key"),
               F.col("o_orderkey") == F.col("u_key"), "left")
        .join(dels, "o_orderkey", "left_anti")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.coalesce("new_price", "o_totalprice").alias("o_totalprice"),
            F.when(F.col("u_key").isNotNull(), "updated")
            .otherwise("kept")
            .alias("src"),
        )
    )
    return merged.unionAll(ins)
