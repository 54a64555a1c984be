"""RFM customer segmentation.

The retention-marketing workhorse (Hughes 1994; the default
segmentation of every CRM/CDP): score each customer 1–5 on Recency
(latest order time), Frequency (order count) and Monetary (total
spend), then report the segment grid with counts and canonical
labels (champions / at-risk / etc.).

Quintile scores are CUTPOINT-based, not ntile-based, by design: an
exact ntile(5) needs a GLOBAL sort of the customer table in one
window partition — the anti-pattern this engine avoids — whereas
cutpoints are four scalars per dimension (quantile_cont 0.2/0.4/
0.6/0.8) and scoring is a map-side comparison, so the plan is
shuffle-free after the per-customer rollup. score = 1 + Σ(x > c_i)
(strictly-greater, so ties at a cutpoint land in the lower bucket
on both engines identically).

Determinism: R/F/M inputs are exact integers — recency is the max
order date as DAYS since epoch (a calendar datediff: o_orderdate is
a NAIVE date-granular timestamp, and day arithmetic is
timezone-free on both engines, where unix_micros of an NTZ cast
would shift with the foreign session's zone), frequency a count,
monetary exact integer CENTS (the benford.py promotion) — so the
interpolated cutpoints are arithmetic over sub-2^53 integers where
Spark ``percentile`` and DuckDB ``quantile_cont`` agree
bit-for-bit (the funnel_time_to_convert precedent), and every
comparison/score/count is integer-exact. avg spend per segment is
an exact integer cents sum through a fixed /n /100 IEEE shape,
rounded 6 dp at the seam.

Scale posture (100 TB): one corpus-scale stage — the per-customer
rollup (custkey groupBy, map-side partial). The cutpoint aggregate
runs over the CUSTOMER-scale rollup; ``percentile`` is exact and
fine to dimension scale (swap to the GK/approx_percentile contract
— operators/approx.py — if the customer dimension itself outgrows
a single aggregate's memory), cutpoints ride as the sanctioned
1-row crossJoin scalar, and the segment grid output is ≤ 5³ rows.

Reference parity note: the reference's only query is word count
(/root/reference/src/worker/worker.go:270-288); this extends the
customer-analytics family (cohorts.py, contribution.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import persist_tracked
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

_QS = (0.2, 0.4, 0.6, 0.8)

_LABEL_SQL = """
CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
       THEN 'champion'
     WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
     WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
     WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
     ELSE 'regular' END
"""

_ORACLE = f"""
WITH rollup_c AS (
  SELECT o_custkey,
         CAST(datediff('day', DATE '1970-01-01',
                       CAST(max(o_orderdate) AS DATE)) AS BIGINT)
           AS r_val,
         CAST(count(*) AS BIGINT) AS f_val,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS m_cents
  FROM orders GROUP BY o_custkey
),
cuts AS (
  SELECT
    {", ".join(
        f"quantile_cont({col}, {q}) AS {col[0]}c{i}"
        for col in ("r_val", "f_val", "m_cents")
        for i, q in enumerate(_QS)
    )}
  FROM rollup_c
),
scored AS (
  SELECT
    1 + (r_val > rc0)::INT + (r_val > rc1)::INT
      + (r_val > rc2)::INT + (r_val > rc3)::INT AS r_score,
    1 + (f_val > fc0)::INT + (f_val > fc1)::INT
      + (f_val > fc2)::INT + (f_val > fc3)::INT AS f_score,
    1 + (m_cents > mc0)::INT + (m_cents > mc1)::INT
      + (m_cents > mc2)::INT + (m_cents > mc3)::INT AS m_score,
    m_cents
  FROM rollup_c, cuts
)
SELECT r_score, f_score, m_score,
       {_LABEL_SQL} AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(m_cents) AS DOUBLE) / count(*) / 100.0, 6)
         AS avg_spend
FROM scored
GROUP BY r_score, f_score, m_score
"""


def rfm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, r_val, f_val, m_cents) — per-customer exact
    integer R/F/M inputs; customer-scale, persisted (cutpoint
    aggregate + scoring both consume)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    return persist_tracked(
        orders.groupBy("o_custkey").agg(
            F.datediff(
                F.to_date(F.max("o_orderdate")), F.lit("1970-01-01")
            )
            .cast("bigint")
            .alias("r_val"),
            F.count("*").cast("bigint").alias("f_val"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            )
            .cast("bigint")
            .alias("m_cents"),
        ),
        "rfm_customer_rollup",
        sf_dir,
    )


@query("rfm_customer_segments", oracle=_ORACLE)
def rfm_customer_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(r_score, f_score, m_score, segment, n_customers, avg_spend)
    — the populated cells of the 5×5×5 RFM grid."""
    rollup_c = rfm_rollup(spark, sf_dir)
    cuts = rollup_c.agg(
        *[
            F.expr(f"percentile({col}, {q})").alias(f"{col[0]}c{i}")
            for col in ("r_val", "f_val", "m_cents")
            for i, q in enumerate(_QS)
        ]
    )
    score = lambda col: (  # noqa: E731
        F.lit(1)
        + sum(
            (F.col(col) > F.col(f"{col[0]}c{i}")).cast("int")
            for i in range(len(_QS))
        )
    )
    scored = rollup_c.crossJoin(cuts).select(  # 1-row scalar
        score("r_val").alias("r_score"),
        score("f_val").alias("f_score"),
        score("m_cents").alias("m_score"),
        "m_cents",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.round(
                F.sum("m_cents").cast("double")
                / F.count("*")
                / 100.0,
                6,
            ).alias("avg_spend"),
        )
        .withColumn("segment", F.expr(_LABEL_SQL))
        .select(
            "r_score",
            "f_score",
            "m_score",
            "segment",
            "n_customers",
            "avg_spend",
        )
    )
