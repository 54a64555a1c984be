"""Exact-budget stratified sampling via Hamilton largest-remainder
apportionment.

The sampling family covers per-stratum RATE sampling
(stratified_sample_by_lang — keep p% of each language), weighted
A-ES top-K (weighted_sample_aes), systematic importance resampling
(resample_weighted) and the mergeable bottom-K reservoir
(reservoir.py). None solves the corpus-mixing question as actually
posed: "give me EXACTLY K documents, allocated across sources
proportionally to their sizes" — rates give a random total, a global
bottom-K gives a multinomial (not proportional) split. The exact
answer is an APPORTIONMENT problem, and the classic algorithm is
Hamilton's largest-remainder method (the US-House seat rule;
Balinski & Young 1982): integer floor quotas plus one extra seat to
the largest fractional remainders until the budget is met.

All integer, so parity is exact: with n_g docs in stratum g, N
total, budget B —
  base_g = (B * n_g) DIV N        rem_g = (B * n_g) MOD N
  shortfall S = B - sum(base_g)   ( = sum(rem_g) / N exactly )
  quota_g = base_g + 1 for the S largest (rem_g DESC, g ASC),
            eligible only when rem_g > 0
Safety proof (empty/tiny strata): eligibility requires rem_g > 0,
so n_g = 0 (rem 0) is never topped up; for n_g >= 1 with B < N,
base_g = floor(B*n_g/N) <= n_g - 1, so quota_g <= n_g always — the
quota is satisfiable. S <= #(rem_g > 0) because S = sum(rem_g)/N
and each positive remainder contributes < 1. B is prime (97) so the
fixture's perfectly uniform strata still produce POSITIVE remainders
— the top-up and tie-break paths are exercised at every scale, not
vacuously green (the recursion vacuous-parity lesson applied at
design time).

The sample itself is the deterministic md5 bottom-quota per stratum
(the reservoir race idiom, 'strat:' salt): repeatable across
runs/engines, uniform within each stratum. Output is |strata|+1
rows, one per source — allocation columns plus the sampled-id SUM
(an exact integer fingerprint certifying the sample CONTENT, not
just its size) — and a '__total__' row pinning sum(quota) == B.

Plan shape / 100 TB posture: one corpus-scale scan feeds (a) the
|strata|-row count aggregate (map-side combined) and (b) a
per-stratum bottom-B window pre-filtered with the CONSTANT bound
row_number <= B — constant, so InferWindowGroupLimit rewrites it to
WindowGroupLimit(Partial) -> shuffle -> WindowGroupLimit(Final)
(pinned in tests/test_sampling_strata.py): no stratum is ever fully
sorted, and the data-dependent quota cut (rn <= quota_g) runs AFTER
on <= strata x B rows against the broadcast quota table. The
apportionment itself is |strata|-row arithmetic — free at any scale.

Reference parity: no sampling surface in the reference (word count
only, /root/reference/src/worker/worker.go:270-288) — extension
surface beside reservoir.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

BUDGET = 97  # prime: uniform strata still yield positive remainders

_SALT = "strat:"

_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source,
         ('0x' || substring(md5('{_SALT}' || CAST(doc_id AS VARCHAR)),
                            1, 12))::BIGINT AS prio
  FROM documents
),
sizes AS (
  SELECT source, count(*) AS n_docs FROM base GROUP BY source
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM sizes),
alloc0 AS (
  SELECT s.source, s.n_docs,
         ({BUDGET} * s.n_docs) // t.n_total AS base_quota,
         ({BUDGET} * s.n_docs) % t.n_total AS rem_num
  FROM sizes s, tot t
),
short AS (
  SELECT {BUDGET} - sum(base_quota) AS shortfall FROM alloc0
),
alloc AS (
  SELECT a.source, a.n_docs, a.base_quota, a.rem_num,
         CASE WHEN a.rem_num > 0
               AND row_number() OVER (ORDER BY a.rem_num DESC,
                                      a.source ASC) <= sh.shortfall
         THEN 1 ELSE 0 END AS topup
  FROM alloc0 a, short sh
),
quotas AS (
  SELECT source, n_docs, base_quota, rem_num, topup,
         base_quota + topup AS quota
  FROM alloc
),
ranked AS (
  SELECT b.doc_id, b.source, b.prio,
         row_number() OVER (PARTITION BY b.source
                            ORDER BY b.prio ASC, b.doc_id ASC) AS rn
  FROM base b
  QUALIFY rn <= {BUDGET}
),
sampled AS (
  SELECT r.source, r.doc_id
  FROM ranked r JOIN quotas q ON r.source = q.source
  WHERE r.rn <= q.quota
),
per_stratum AS (
  SELECT q.source, q.n_docs, q.base_quota, q.rem_num, q.topup,
         q.quota,
         CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
         CAST(COALESCE(s.id_sum, 0) AS BIGINT) AS sample_id_sum
  FROM quotas q LEFT JOIN (
    SELECT source, count(*) AS n_sampled, sum(doc_id) AS id_sum
    FROM sampled GROUP BY source
  ) s ON q.source = s.source
)
SELECT source, n_docs, base_quota, rem_num, topup, quota, n_sampled,
       sample_id_sum
FROM per_stratum
UNION ALL
SELECT '__total__', CAST(sum(n_docs) AS BIGINT),
       CAST(sum(base_quota) AS BIGINT), CAST(sum(rem_num) AS BIGINT),
       CAST(sum(topup) AS BIGINT), CAST(sum(quota) AS BIGINT),
       CAST(sum(n_sampled) AS BIGINT), CAST(sum(sample_id_sum) AS BIGINT)
FROM per_stratum
"""


def _prio(doc_id: F.Column) -> F.Column:
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_SALT), doc_id.cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")


def hamilton_quotas(sizes: DataFrame, budget: int) -> DataFrame:
    """(source, n_docs, base_quota, rem_num, topup, quota) from a
    (source, n_docs) table — |strata|-row integer arithmetic; the
    1-row total/shortfall scalars attach via the sanctioned broadcast
    crossJoin."""
    tot = sizes.agg(F.sum("n_docs").alias("n_total"))
    # TRUE integer division (Spark DIV == DuckDB // for non-negative
    # operands) — NOT floor(double-divide): at N ~ 1e12 a remainder
    # of 1 sits 1e-12 from an integer, uncomfortably near double
    # rounding; DIV has no such cliff at any scale
    alloc0 = sizes.crossJoin(tot).select(  # 1-row broadcast scalar
        "source",
        "n_docs",
        F.expr(f"({budget} * n_docs) DIV n_total").alias("base_quota"),
        ((F.lit(budget) * F.col("n_docs")) % F.col("n_total")).alias(
            "rem_num"
        ),
    )
    short = alloc0.agg(
        (F.lit(budget) - F.sum("base_quota")).alias("shortfall")
    )
    w = Window.orderBy(F.col("rem_num").desc(), F.col("source").asc())
    return (
        alloc0.crossJoin(short)  # 1-row broadcast scalar (sanctioned)
        .withColumn(
            "topup",
            F.when(
                (F.col("rem_num") > 0)
                & (F.row_number().over(w) <= F.col("shortfall")),
                1,
            ).otherwise(0),
        )
        .select(
            "source",
            "n_docs",
            "base_quota",
            "rem_num",
            "topup",
            (F.col("base_quota") + F.col("topup")).alias("quota"),
        )
    )


@query("stratified_hamilton_sample", oracle=_ORACLE)
def stratified_hamilton_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source, n_docs, base_quota, rem_num, topup, quota, n_sampled,
    sample_id_sum) per stratum plus the '__total__' row whose quota
    and n_sampled must equal BUDGET exactly — proportional allocation
    by largest remainder with the sampled-id sum certifying the
    sample content."""
    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .withColumn("prio", _prio(F.col("doc_id")))
    )
    sizes = base.groupBy("source").agg(F.count("*").alias("n_docs"))
    quotas = hamilton_quotas(sizes, BUDGET)

    # constant-bound pre-filter first (rn <= BUDGET rewrites to
    # WindowGroupLimit — no full per-stratum sort); the
    # data-dependent quota cut runs on <= strata x BUDGET rows
    src_w = Window.partitionBy("source").orderBy(
        F.col("prio").asc(), F.col("doc_id").asc()
    )
    ranked = base.withColumn("rn", F.row_number().over(src_w)).filter(
        F.col("rn") <= BUDGET
    )
    sampled = (
        ranked.join(
            F.broadcast(quotas.select("source", "quota")), "source"
        )
        .filter(F.col("rn") <= F.col("quota"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_sampled_raw"),
            F.sum("doc_id").alias("id_sum_raw"),
        )
    )
    per_stratum = quotas.join(sampled, "source", "left").select(
        "source",
        "n_docs",
        "base_quota",
        "rem_num",
        "topup",
        "quota",
        F.coalesce("n_sampled_raw", F.lit(0))
        .cast("bigint")
        .alias("n_sampled"),
        F.coalesce("id_sum_raw", F.lit(0))
        .cast("bigint")
        .alias("sample_id_sum"),
    )
    total = per_stratum.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("base_quota").alias("base_quota"),
        F.sum("rem_num").alias("rem_num"),
        F.sum("topup").alias("topup"),
        F.sum("quota").alias("quota"),
        F.sum("n_sampled").alias("n_sampled"),
        F.sum("sample_id_sum").alias("sample_id_sum"),
    ).select(
        F.lit("__total__").alias("source"),
        "n_docs",
        "base_quota",
        "rem_num",
        "topup",
        "quota",
        "n_sampled",
        "sample_id_sum",
    )
    return per_stratum.unionByName(total)
