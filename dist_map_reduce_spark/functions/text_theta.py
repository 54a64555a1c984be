"""Theta-sketch set algebra over the KMV source signatures
 — union / intersection / difference
CARDINALITIES per source pair, from the same bottom-K signatures the
Jaccard sketch (text_kmv.py) ships — imported from it, not copied:
the hash, shingle subtree, signature, pair and flag builders are
text_kmv's own functions, so the two modules cannot drift.

KMV answered "how similar are two sources" (Jaccard); the question a
mixing/decontamination pipeline asks next is "how much NEW content
does source B add to A" — |A ∪ B|, |A ∩ B|, |A \\ B| — and the
DataSketches answer is set OPERATIONS on theta sketches (Dasgupta et
al., "A framework for estimating stream expression cardinalities"):
take theta_u = the K-th smallest hash of the combined signatures,
count members below it, scale by 1/theta_u. The estimators here are
the textbook unbiased forms:

  est(U)      = (K-1) / theta_u
  est(A op B) = |{h in bottom-(K-1) of the signature union
                  with the op's membership flags}| / theta_u

with theta_u normalized by 2^48 (hashes are the SAME 12-hex
md5-slice BIGINTs as text_kmv — literally the same signatures, same
'kmv:' salt, same persist slot, so running both queries in one
session builds the corpus-scale shingle subtree once). Soundness of
the naive "K-th min of the signature union": every source hash below
it is necessarily inside that source's bottom-K signature (theta_u
<= each per-source theta because the union is a superset), so
membership flags below theta_u are complete — no bias. When the
combined signatures hold fewer than K hashes the sketch degenerates
to exact (all sets fully known), CASE'd identically on both sides.

Grade-the-contract (the sketch-family convention): every pair row
carries the EXACT union/intersection/difference sizes (from the
shared per-source shingle sets) next to the estimates plus the
union's relative error — non-zero on the fixture at every scale
(K=64 => ~1/sqrt(K) ~ 12% typical), so the oracle certifies the
sketch's real accuracy. Self-pairs ride along as calibration rows
(est_diff must read ~0 because no hash is in A and not in A).

Scale posture: identical to text_kmv (SCALE.md §Text analysis) — the
ONE corpus-scale stage is the shared per-source distinct-shingle
subtree (persisted); signatures are |sources| x K rows; the pair
fan-out is quadratic in the bounded SOURCE dimension via broadcast;
per-pair work is a <= 2K-row merge. The exact arms are grading-only;
production runs the signature algebra alone — sketches whose set
operations stay sketch-sized is the entire point of the theta
family. Reference parity: the reference has no set-cardinality
operator (word count only, /root/reference/src/worker/worker.go:
270-288); extension surface next to text_kmv_source_jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.functions.dedup_common import _shingle_sql
from dist_map_reduce_spark.functions.text_kmv import (
    _H_SQL,
    KMV_K,
    exact_intersections,
    merged_signature_flags,
    signatures,
    source_pairs,
    source_shingles,
    source_sizes,
)
from dist_map_reduce_spark.registry import query

# hash space: 12 hex chars = 48 bits; double-exact (2^48 < 2^53)
_HSPACE = float(1 << 48)


_ORACLE = f"""
WITH ss AS (
  SELECT DISTINCT doc_id AS source, shingle
  FROM ({_shingle_sql("(SELECT source AS doc_id, text FROM documents)")})
),
dh AS (SELECT DISTINCT source, {_H_SQL} AS h FROM ss),
sig AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM dh
  ) WHERE rn <= {KMV_K}
),
sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, a.n AS n_a,
         b.source AS source_b, b.n AS n_b
  FROM sizes a JOIN sizes b ON a.source <= b.source
),
inter AS (
  SELECT x.source AS source_a, y.source AS source_b,
         count(*) AS n_inter
  FROM ss x JOIN ss y
    ON x.shingle = y.shingle AND x.source <= y.source
  GROUP BY 1, 2
),
merged AS (
  SELECT source_a, source_b, h,
         max(in_a) AS in_a, max(in_b) AS in_b
  FROM (
    SELECT p.source_a, p.source_b, s.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN sig s ON s.source = p.source_a
    UNION ALL
    SELECT p.source_a, p.source_b, s.h, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN sig s ON s.source = p.source_b
  ) GROUP BY 1, 2, 3
),
topk AS (
  SELECT source_a, source_b, h, in_a, in_b, rn FROM (
    SELECT source_a, source_b, h, in_a, in_b,
           row_number() OVER (
             PARTITION BY source_a, source_b ORDER BY h
           ) AS rn
    FROM merged
  ) WHERE rn <= {KMV_K}
),
sk AS (
  SELECT source_a, source_b,
         count(*) AS cnt,
         max(CASE WHEN rn = {KMV_K} THEN h END) AS hk,
         sum(CASE WHEN rn <= {KMV_K - 1}
                   AND in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS bi,
         sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS ai,
         sum(CASE WHEN rn <= {KMV_K - 1}
                   AND in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS bd,
         sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS ad
  FROM topk GROUP BY 1, 2
),
est AS (
  -- e0 suffixes force DOUBLE in DuckDB (bare decimals parse as
  -- DECIMAL, whose exact arithmetic diverges from Spark's
  -- correctly-rounded double chain — the tdigest._d lesson)
  SELECT source_a, source_b,
         CASE WHEN cnt < {KMV_K} THEN round(cnt * 1.0e0, 6)
              ELSE round({KMV_K - 1} * ({_HSPACE!r}e0 / hk), 6)
         END AS est_union,
         CASE WHEN cnt < {KMV_K} THEN round(ai * 1.0e0, 6)
              ELSE round(bi * ({_HSPACE!r}e0 / hk), 6)
         END AS est_inter,
         CASE WHEN cnt < {KMV_K} THEN round(ad * 1.0e0, 6)
              ELSE round(bd * ({_HSPACE!r}e0 / hk), 6)
         END AS est_diff_ab
  FROM sk
)
SELECT p.source_a, p.source_b,
       p.n_a + p.n_b - coalesce(i.n_inter, 0) AS n_union,
       e.est_union,
       round(abs(e.est_union - (p.n_a + p.n_b - coalesce(i.n_inter, 0)))
             / (p.n_a + p.n_b - coalesce(i.n_inter, 0)), 6)
         AS rel_err_union,
       coalesce(i.n_inter, 0) AS n_inter,
       e.est_inter,
       p.n_a - coalesce(i.n_inter, 0) AS n_diff_ab,
       e.est_diff_ab
FROM pairs p
LEFT JOIN inter i
  ON i.source_a = p.source_a AND i.source_b = p.source_b
JOIN est e
  ON e.source_a = p.source_a AND e.source_b = p.source_b
"""


@query("text_theta_set_ops", oracle=_ORACLE)
def text_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, n_union, est_union, rel_err_union,
    n_inter, est_inter, n_diff_ab, est_diff_ab) for every unordered
    source pair incl. self-pair calibration rows."""
    # the entire signature scaffold is text_kmv's — one definition,
    # one persist slot, zero textual duplication (r15 review)
    ss = source_shingles(spark, sf_dir)
    sig = signatures(ss, key=sf_dir)
    sizes = source_sizes(ss, key=sf_dir)
    pairs = source_pairs(sizes)
    inter = exact_intersections(ss, key=sf_dir)
    merged = merged_signature_flags(
        pairs.select("source_a", "source_b"), sig
    )
    topk = merged.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source_a", "source_b").orderBy("h")
        ),
    ).filter(F.col("rn") <= KMV_K)
    below = F.col("rn") <= KMV_K - 1
    is_i = (F.col("in_a") == 1) & (F.col("in_b") == 1)
    is_d = (F.col("in_a") == 1) & (F.col("in_b") == 0)
    one = F.lit(1)
    zero = F.lit(0)
    sk = topk.groupBy("source_a", "source_b").agg(
        F.count("*").alias("cnt"),
        F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("hk"),
        F.sum(F.when(below & is_i, one).otherwise(zero)).alias("bi"),
        F.sum(F.when(is_i, one).otherwise(zero)).alias("ai"),
        F.sum(F.when(below & is_d, one).otherwise(zero)).alias("bd"),
        F.sum(F.when(is_d, one).otherwise(zero)).alias("ad"),
    )
    scale = F.lit(_HSPACE) / F.col("hk")
    exact_mode = F.col("cnt") < KMV_K
    est = sk.select(
        "source_a",
        "source_b",
        F.when(exact_mode, F.round(F.col("cnt") * F.lit(1.0), 6))
        .otherwise(F.round(F.lit(float(KMV_K - 1)) * scale, 6))
        .alias("est_union"),
        F.when(exact_mode, F.round(F.col("ai") * F.lit(1.0), 6))
        .otherwise(F.round(F.col("bi") * scale, 6))
        .alias("est_inter"),
        F.when(exact_mode, F.round(F.col("ad") * F.lit(1.0), 6))
        .otherwise(F.round(F.col("bd") * scale, 6))
        .alias("est_diff_ab"),
    )
    n_union = F.col("n_a") + F.col("n_b") - F.coalesce(
        F.col("n_inter"), F.lit(0)
    )
    return (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .join(est, ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            n_union.alias("n_union"),
            "est_union",
            F.round(
                F.abs(F.col("est_union") - n_union) / n_union, 6
            ).alias("rel_err_union"),
            F.coalesce(F.col("n_inter"), F.lit(0)).alias("n_inter"),
            "est_inter",
            (
                F.col("n_a")
                - F.coalesce(F.col("n_inter"), F.lit(0))
            ).alias("n_diff_ab"),
            "est_diff_ab",
        )
    )
