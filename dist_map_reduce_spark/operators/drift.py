"""Distribution drift monitoring: Population Stability Index
. Every production training pipeline watches
"did this feed's distribution move?" between corpus versions; the
industry-standard scalar is PSI — the symmetrized KL divergence
sum_i (p_i - q_i) * ln(p_i / q_i) over a fixed bucketing — with the
conventional reading: < 0.1 stable, 0.1-0.25 drifting, > 0.25 moved.

Before/after pair: the base orders table vs the SAME cdc_merge
change feed every lakehouse op here uses (delta_merge.py bucketing —
single source of truth): +100.00 price updates on ~20% of rows,
deletes, inserts. The feed shifts real mass upward, so the PSI is
honestly non-zero at every scale (no vacuous-zero parity).

Determinism, the repo's full playbook in one operator:
- Buckets are INTEGER END-TO-END: price -> exact cents via
  round(price * 100) (a 2-dp money double is within 1e-10 of its
  cent value, never at a .5 boundary), then
  bucket = ((cents - min_cents) * B) DIV (span + 1), clamped to
  [0, B-1] for merged prices pushed past the base max — no floor
  behind an inexact division anywhere (the tdigest / Hamilton
  discipline; bounds come from the BASE table as 1-row broadcast
  scalars, the fixed-bucketing PSI convention).
- Proportions are Laplace-smoothed, p_i = (c_i + 1) / (N + B):
  deterministic, removes the zero-bucket ln singularity by
  construction (standard PSI practice), and keeps every per-bucket
  double a ratio of exact integers — identical IEEE inputs to ln on
  both engines.
- ln is the one permitted transcendental under the round-after-ln
  rule (lm_score.py: ln of identical doubles is identical in JVM and
  DuckDB); the 6-dp round absorbs association-order ULPs in the
  B-term total.

Scale posture: two map-side-combined B-group aggregates (one per
corpus version — the merged side derives relationally from the same
scan, no materialized copy) joined on bucket; everything after is
B = 10 rows. At 100 TB the PSI of a day's feed is two scans and a
10-row join — the monitoring query you leave running forever.

Reference parity: no statistics surface in the reference (word
count only, /root/reference/src/worker/worker.go:270-288);
extension surface beside stats.py and snapshot_diff.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import persist_tracked
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

N_BUCKETS = 10
_N_CDC_BUCKETS = 10  # delta_merge.py's change-feed bucketing

_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"
_CDC = (
    f"('0x' || substring(md5('cdc:' || o_orderkey::VARCHAR), 1, 8))"
    f"::BIGINT % {_N_CDC_BUCKETS}"
)

_ORACLE = f"""
WITH b AS (
  SELECT o_orderkey, o_totalprice, {_CDC} AS cdc FROM orders
),
merged AS (
  SELECT CASE WHEN cdc IN (0, 1) THEN o_totalprice + 100.0
              ELSE o_totalprice END AS o_totalprice
  FROM b WHERE cdc <> 2
  UNION ALL
  SELECT o_totalprice FROM b WHERE cdc = 3
),
bounds AS (
  SELECT min({_CENTS}) AS lo, max({_CENTS}) AS hi FROM orders
),
base_hist AS (
  SELECT GREATEST(0, LEAST({N_BUCKETS - 1},
           (({_CENTS} - bo.lo) * {N_BUCKETS}) // (bo.hi - bo.lo + 1)
         )) AS bucket,
         count(*) AS n_base
  FROM orders, bounds bo GROUP BY 1
),
merged_hist AS (
  SELECT GREATEST(0, LEAST({N_BUCKETS - 1},
           (({_CENTS} - bo.lo) * {N_BUCKETS}) // (bo.hi - bo.lo + 1)
         )) AS bucket,
         count(*) AS n_merged
  FROM merged, bounds bo GROUP BY 1
),
tot AS (
  SELECT (SELECT sum(n_base) FROM base_hist) AS nb,
         (SELECT sum(n_merged) FROM merged_hist) AS nm
),
cells AS (
  SELECT COALESCE(b.bucket, m.bucket) AS bucket,
         COALESCE(b.n_base, 0) AS n_base,
         COALESCE(m.n_merged, 0) AS n_merged,
         CAST(COALESCE(b.n_base, 0) + 1 AS DOUBLE)
           / (t.nb + {N_BUCKETS}) AS p,
         CAST(COALESCE(m.n_merged, 0) + 1 AS DOUBLE)
           / (t.nm + {N_BUCKETS}) AS q
  FROM base_hist b FULL OUTER JOIN merged_hist m ON b.bucket = m.bucket,
       tot t
),
scored AS (
  SELECT bucket, n_base, n_merged,
         round(p, 6) AS p_base, round(q, 6) AS p_merged,
         (p - q) * ln(p / q) AS psi_raw
  FROM cells
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_merged AS BIGINT) AS n_merged,
       p_base, p_merged, round(psi_raw, 6) AS psi
FROM scored
UNION ALL
SELECT -1, CAST(sum(n_base) AS BIGINT), CAST(sum(n_merged) AS BIGINT),
       round(sum(p_base), 6), round(sum(p_merged), 6),
       round(sum(psi_raw), 6)
FROM scored
"""


def _cents(col: str = "o_totalprice") -> F.Column:
    return F.round(F.col(col) * 100).cast("bigint")


def _bucket(cents: F.Column, lo: F.Column, hi: F.Column) -> F.Column:
    """Integer equi-width bucket with clamping — DIV semantics match
    DuckDB // for the non-negative operands here."""
    raw = F.expr(
        f"((cents - lo) * {N_BUCKETS}) DIV (hi - lo + 1)"
    )
    return F.greatest(
        F.lit(0), F.least(F.lit(N_BUCKETS - 1), raw)
    ).alias("bucket")


def _hist(df: DataFrame, bounds: DataFrame, out: str) -> DataFrame:
    return (
        df.select(_cents().alias("cents"))
        .crossJoin(bounds)  # 1-row broadcast scalar (sanctioned)
        .select(_bucket(F.col("cents"), F.col("lo"), F.col("hi")))
        .groupBy("bucket")
        .agg(F.count("*").alias(out))
    )


@query("drift_psi_orders", oracle=_ORACLE)
def drift_psi_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_base, n_merged, p_base, p_merged, psi) over 10
    equi-width price buckets (base-table bounds) plus the bucket=-1
    total row whose psi is THE drift scalar — base orders vs the
    cdc_merge-applied version, Laplace-smoothed, round-after-ln."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    cdc = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("cdc:"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _N_CDC_BUCKETS
    )
    b = base.withColumn("cdc", cdc)
    merged = (
        b.filter(F.col("cdc") != 2)
        .select(
            F.when(
                F.col("cdc").isin(0, 1), F.col("o_totalprice") + F.lit(100.0)
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice")
        )
        .unionAll(b.filter(F.col("cdc") == 3).select("o_totalprice"))
    )
    bounds = base.agg(
        F.min(_cents()).alias("lo"), F.max(_cents()).alias("hi")
    )
    bh = _hist(base, bounds, "n_base")
    mh = _hist(merged, bounds, "n_merged")
    # ONE materialization of the joined 10-row histogram table: the
    # totals, the per-bucket arm and the total arm all hang off it —
    # without the persist, Catalyst recomputes the corpus-scale hist
    # subtrees per consumer (~8 scans; measured 25 s -> ~5 s at the
    # 100x probe). 10 rows, so the cache is free.
    joined = persist_tracked(
        bh.join(mh, "bucket", "full_outer").select(
            "bucket",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_merged", F.lit(0)).alias("n_merged"),
        ),
        "drift_psi_cells",
        sf_dir,
    )
    tot = joined.agg(
        F.sum("n_base").alias("nb"), F.sum("n_merged").alias("nm")
    )
    cells = (
        joined.crossJoin(tot)  # 1-row broadcast scalar (sanctioned)
        .select(
            "bucket",
            "n_base",
            "n_merged",
            (
                (F.col("n_base") + 1).cast("double")
                / (F.col("nb") + N_BUCKETS)
            ).alias("p"),
            (
                (F.col("n_merged") + 1).cast("double")
                / (F.col("nm") + N_BUCKETS)
            ).alias("q"),
        )
    )
    scored = cells.select(
        "bucket",
        "n_base",
        "n_merged",
        F.round("p", 6).alias("p_base"),
        F.round("q", 6).alias("p_merged"),
        (
            (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
        ).alias("psi_raw"),
    )
    per_bucket = scored.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_base",
        "n_merged",
        "p_base",
        "p_merged",
        F.round("psi_raw", 6).alias("psi"),
    )
    total = scored.agg(
        F.sum("n_base").alias("n_base"),
        F.sum("n_merged").alias("n_merged"),
        F.round(F.sum("p_base"), 6).alias("p_base"),
        F.round(F.sum("p_merged"), 6).alias("p_merged"),
        F.round(F.sum("psi_raw"), 6).alias("psi"),
    ).select(
        F.lit(-1).cast("bigint").alias("bucket"),
        "n_base",
        "n_merged",
        "p_base",
        "p_merged",
        "psi",
    )
    return per_bucket.unionByName(total)
