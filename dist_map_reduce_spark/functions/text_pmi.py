"""Adjacent-bigram PMI collocation extraction.

The classic collocation statistic (Church & Hanks 1990's "word
association ratio"; Manning & Schuetze ch. 5) the text family
lacked: pointwise mutual information over the ADJACENT-bigram joint
distribution, pmi(a,b) = ln( p(a,b) / (p_left(a) · p_right(b)) )
with all three probabilities taken from the bigram table itself —
p(a,b) = n_ab/T, p_left(a) = Σ_b n_ab / T, p_right(b) = Σ_a n_ab / T
(T = total bigram tokens). Using the bigram table's own margins
(rather than unigram counts) keeps every certified comparison a
product of TWO counts — see the integer discipline below — and is
the standard contingency-table formulation of collocation PMI.

Emitted: bigrams with n_ab ≥ MIN_CO and STRICTLY positive PMI,
where positivity is certified by the cross-multiplied integer test
n_ab · T > n_a · n_b evaluated in DECIMAL(18,0) × DECIMAL(18,0)
(exact to 10^36 on both engines — Spark's decimal multiply and
DuckDB's are both exact at p1+p2 = 36 ≤ 38 — so no float-boundary
hole and no BIGINT overflow up to 10^18-count corpora; the PPJoin /
basket_brand_rules discipline). The pmi value itself is
ln((n_ab·T)/(n_a·n_b)) computed as one IEEE expression over
exactly-cast doubles — identical operand bits and operation order
on both engines, ln of identical doubles is identical (the
lm_score.py precedent) — rounded 6 dp at the output seam.

Scale posture (100 TB corpus): one corpus-scale stage — the
exploded adjacent-pair stream into a (w1, w2) groupBy count
(wordcount-shaped, map-side partial agg). Everything downstream
(margins, total, the final joins) runs over the BIGRAM-VOCABULARY
table, which is Zipf-bounded far below corpus scale; it holds one
``persist_tracked`` slot with four consumers (pairs, two margins,
total). The margin joins are vocabulary-keyed shuffles (broadcast
when small — AQE decides); the total rides as the sanctioned 1-row
crossJoin scalar. The pair stream uses ``explode_outer`` + post-hoc
null filter, NOT explode, so InferFiltersFromGenerate cannot inline
the zip_with lambda into a pushed filter on a foreign session (the
text_winnow.py trap, tests/test_winnow_explode_plan.py).

Reference parity note: the reference's only query is word count
(/root/reference/src/worker/worker.go:270-288); PMI is its natural
second-order extension (pair counts over the same token stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import persist_tracked
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

MIN_CO = 5  # minimum bigram count for an emitted collocation

_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bigrams AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(range(1, len(t))) AS u(i)
),
pair AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab
  FROM bigrams GROUP BY w1, w2
),
lm AS (SELECT w1, CAST(sum(n_ab) AS BIGINT) AS n_a FROM pair GROUP BY w1),
rm AS (SELECT w2, CAST(sum(n_ab) AS BIGINT) AS n_b FROM pair GROUP BY w2),
tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bigrams FROM pair)
SELECT p.w1, p.w2, p.n_ab, lm.n_a, rm.n_b, tot.n_bigrams,
       round(ln((CAST(p.n_ab AS DOUBLE) * CAST(tot.n_bigrams AS DOUBLE))
                / (CAST(lm.n_a AS DOUBLE) * CAST(rm.n_b AS DOUBLE))), 6)
         AS pmi
FROM pair p
JOIN lm ON lm.w1 = p.w1
JOIN rm ON rm.w2 = p.w2, tot
WHERE p.n_ab >= {MIN_CO}
  AND CAST(p.n_ab AS DECIMAL(18,0)) * CAST(tot.n_bigrams AS DECIMAL(18,0))
      > CAST(lm.n_a AS DECIMAL(18,0)) * CAST(rm.n_b AS DECIMAL(18,0))
"""

_PAIRS = (
    "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), "
    "(x, y) -> struct(x AS w1, y AS w2))"
)


def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, n_ab): adjacent-bigram counts over whitespace
    tokens — the one corpus-scale aggregation; vocabulary-scale
    output, persisted (four downstream consumers)."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("t")
    )
    pairs = docs.select(
        F.explode_outer(F.expr(_PAIRS)).alias("p")
    ).filter(F.col("p").isNotNull())
    return persist_tracked(
        pairs.groupBy(
            F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
        ).agg(F.count("*").cast("bigint").alias("n_ab")),
        "text_pmi_bigram_counts",
        sf_dir,
    )


@query("text_pmi_bigrams", oracle=_ORACLE)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, n_ab, n_a, n_b, n_bigrams, pmi) for every adjacent
    bigram with n_ab ≥ MIN_CO and decimal-certified pmi > 0."""
    pair = bigram_counts(spark, sf_dir)
    lm = pair.groupBy("w1").agg(
        F.sum("n_ab").cast("bigint").alias("n_a")
    )
    rm = pair.groupBy("w2").agg(
        F.sum("n_ab").cast("bigint").alias("n_b")
    )
    tot = pair.agg(
        F.sum("n_ab").cast("bigint").alias("n_bigrams")
    )
    dec = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        pair.join(lm, "w1")
        .join(rm, "w2")
        .crossJoin(tot)  # 1-row broadcast scalar (sanctioned)
        .filter(
            (F.col("n_ab") >= MIN_CO)
            & (
                dec("n_ab") * dec("n_bigrams")
                > dec("n_a") * dec("n_b")
            )
        )
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            "n_bigrams",
            F.round(
                F.log(
                    (dbl("n_ab") * dbl("n_bigrams"))
                    / (dbl("n_a") * dbl("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )
