"""Length-bucketed padding-waste certification
— the batch-provisioning datum a training/inference pipeline computes
before it packs anything.

Fixed-shape batching pads every sequence in a batch to the batch's
length class; the operational question is "if I bucket documents
into power-of-two length classes, how much of my compute is
padding?" — the number that decides bucket boundaries, truncation
length, and whether sequence PACKING (functions/packing.py, the
complementary operator: it eliminates the waste this query measures)
is worth its shuffle. Each doc's length is its whitespace token
count (the text_token_counts convention); its class is the smallest
power of two >= length, clamped to [MIN_BUCKET, MAX_BUCKET]; docs
above MAX_BUCKET are truncated to it (standard training behavior —
their overflow is reported separately, not silently dropped).

Output: one row per populated class — n_docs, used tokens
(post-truncation), capacity = class x n_docs, padding-waste fraction
— plus a bucket_len = -1 TOTAL row (global waste = the headline
number) carrying the same columns. Every quantity is integer until
the single 6-dp-rounded ratio (int * 1.0 / int — safe per the r15
DECIMAL-promotion audit: DuckDB promotes division to DOUBLE,
bitwise-equal to Spark's). The power-of-two class is a generated
integer CASE (the hll_native rank idiom), not ceil(log2(n)) — no
transcendental, no floor-behind-ulp hazard.

Scale posture: one corpus scan projected to (doc, n) and one
map-side-combined aggregate over <= 9 + 1 rows. Nothing else. At
100 TB this is as cheap as an operator gets; the interesting number
IS the output, not the runtime. Reference parity: the reference has
no length analytics (word count only, /root/reference/src/worker/
worker.go:270-288); extension surface next to text_token_counts and
sequence_pack_docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

MIN_BUCKET = 16
MAX_BUCKET = 4096

_BUCKETS = []
_b = MIN_BUCKET
while _b <= MAX_BUCKET:
    _BUCKETS.append(_b)
    _b *= 2


def _bucket_sql(n: str) -> str:
    branches = " ".join(
        f"WHEN {n} <= {b} THEN {b}" for b in _BUCKETS
    )
    return f"CASE {branches} ELSE {MAX_BUCKET} END"


def bucket_col(n: F.Column) -> F.Column:
    """Spark twin of :func:`_bucket_sql` — same integer compares."""
    out = None
    for b in _BUCKETS:
        cond = n <= F.lit(b)
        out = F.when(cond, F.lit(b)) if out is None else out.when(cond, F.lit(b))
    return out.otherwise(F.lit(MAX_BUCKET))


_ORACLE = f"""
WITH lens AS (
  SELECT len(string_split(text, ' ')) AS n FROM documents
),
classed AS (
  SELECT {_bucket_sql("n")} AS bucket_len,
         least(n, {MAX_BUCKET}) AS used,
         greatest(n - {MAX_BUCKET}, 0) AS truncated
  FROM lens
),
per_bucket AS (
  -- CAST the sums back to BIGINT: DuckDB's sum() yields HUGEINT,
  -- which pandas renders as float64 and the value-hash then
  -- mismatches Spark's int64 (the theta/kmv oracles only emit
  -- count(*), which is already BIGINT, so they never hit this)
  SELECT bucket_len,
         count(*) AS n_docs,
         CAST(sum(used) AS BIGINT) AS used_tokens,
         bucket_len * count(*) AS capacity,
         CAST(sum(truncated) AS BIGINT) AS truncated_tokens
  FROM classed GROUP BY bucket_len
)
SELECT bucket_len, n_docs, used_tokens, capacity, truncated_tokens,
       round(1.0 * (capacity - used_tokens) / capacity, 6) AS waste_frac
FROM per_bucket
UNION ALL
SELECT -1 AS bucket_len,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(used_tokens) AS BIGINT) AS used_tokens,
       CAST(sum(capacity) AS BIGINT) AS capacity,
       CAST(sum(truncated_tokens) AS BIGINT) AS truncated_tokens,
       round(1.0 * (sum(capacity) - sum(used_tokens)) / sum(capacity), 6)
         AS waste_frac
FROM per_bucket
"""


@query("length_bucket_padding_waste", oracle=_ORACLE)
def length_bucket_padding_waste(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(bucket_len, n_docs, used_tokens, capacity, truncated_tokens,
    waste_frac) per populated power-of-two length class, plus the
    bucket_len = -1 TOTAL row."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    classed = docs.select(
        bucket_col(n).alias("bucket_len"),
        F.least(n, F.lit(MAX_BUCKET)).alias("used"),
        F.greatest(n - F.lit(MAX_BUCKET), F.lit(0)).alias("truncated"),
    )
    per_bucket = classed.groupBy("bucket_len").agg(
        F.count("*").alias("n_docs"),
        F.sum("used").alias("used_tokens"),
        F.sum("truncated").alias("truncated_tokens"),
    ).withColumn("capacity", F.col("bucket_len") * F.col("n_docs"))
    waste = F.round(
        F.lit(1.0)
        * (F.col("capacity") - F.col("used_tokens"))
        / F.col("capacity"),
        6,
    ).alias("waste_frac")
    per = per_bucket.select(
        "bucket_len",
        "n_docs",
        "used_tokens",
        "capacity",
        "truncated_tokens",
        waste,
    )
    total = per_bucket.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("used_tokens").alias("used_tokens"),
        F.sum("capacity").alias("capacity"),
        F.sum("truncated_tokens").alias("truncated_tokens"),
    ).select(
        F.lit(-1).alias("bucket_len"),
        "n_docs",
        "used_tokens",
        "capacity",
        "truncated_tokens",
        waste,
    )
    return per.unionByName(total)
