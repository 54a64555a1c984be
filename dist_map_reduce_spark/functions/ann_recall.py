"""ANN recall@k harness: grade every ANN variant against exact top-k.

A production ANN operator is judged on recall/latency, not just
reproducibility — the six ANN variants in this repo (sign-LSH,
label-centroid IVF, k-means IVF, PQ-ADC, IVF-PQ, per-cell-residual
IVFADC) are deterministic and individually oracle-checked, and this
query closes the loop by
measuring, per variant, how many of its returned neighbors fall in
the EXACT cosine top-5 (recall@5 over the shared N_QUERIES query
set).

Everything is deterministic (all six indexes are md5-derived /
round-6dp, no RNG), so recall itself is a stable, hash-checkable
number. The DuckDB oracle is composed from the variants' own
registered oracle SQL — the oracle side re-derives every index and
search from scratch, so the recall figures are confirmed
engine-vs-engine, not self-certified.

Scale shape: each variant's plan is its registered plan (bounded
candidate sets — see SCALE.md); the grading overlay is one
broadcast-sized join (N_QUERIES × 5 exact pairs vs N_QUERIES × ≤5
ANN pairs per variant) plus a 5-row aggregate — negligible against
the searches themselves. Measured recall@5 at sf0.01/sf0.1 is
recorded in SCALE.md §ANN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build

# importing the variant modules registers their queries AND their
# oracle SQL, which this module composes into the recall oracle
from dist_map_reduce_spark.functions import (  # noqa: F401
    similarity,
    similarity_ivfadc_query,
    similarity_ivf_kmeans,
    similarity_ivfpq,
    similarity_pq,
)
from dist_map_reduce_spark.registry import ORACLES, QUERIES, query

# variant label -> (registered query name, callable)
_VARIANTS: dict[str, str] = {
    "lsh": "similarity_ann_lsh_topk",
    "ivf": "similarity_ann_ivf_topk",
    "ivf_kmeans": "similarity_ann_ivf_kmeans_topk",
    "pq_adc": "similarity_ann_pq_adc_topk",
    "ivfpq": "similarity_ann_ivfpq_topk",
    "ivfadc": "similarity_ann_ivfadc_topk",
}

_EXACT = "similarity_topk_cosine"


def _recall_oracle() -> str:
    """Compose the recall oracle from the registered per-variant
    oracles (each wrapped as a derived table — DuckDB allows a WITH
    inside a FROM subquery)."""
    union = "\n      UNION ALL ".join(
        f"SELECT '{label}' AS variant, query_id, vec_id\n"
        f"      FROM ({ORACLES[name]})"
        f" AS {label}_t"
        for label, name in _VARIANTS.items()
    )
    return f"""
    WITH exact5 AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
               ) AS rn
        FROM ({ORACLES[_EXACT]}) AS exact_t
      ) r WHERE rn <= 5
    ),
    variants AS (
      {union}
    )
    SELECT v.variant,
           count(e.vec_id) AS hits,
           round(count(e.vec_id) * 1.0
                 / (SELECT count(*) FROM exact5), 4) AS recall
    FROM variants v
    LEFT JOIN exact5 e
      ON e.query_id = v.query_id AND e.vec_id = v.vec_id
    GROUP BY v.variant
    """


def exact_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, hit=1): the exact cosine top-5 grading set
    (registered top-10 re-ranked by the same rounded-score / vec_id
    order), persisted in the shared 'ann_recall_exact5' slot so
    every recall consumer — this query, the OPQ comparison, the
    report tool — reads the same cached set."""
    from pyspark.sql import Window as W

    def build() -> DataFrame:
        w = W.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("vec_id").asc()
        )
        return (
            QUERIES[_EXACT](spark, sf_dir)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("query_id", "vec_id", F.lit(1).alias("hit"))
        )

    return get_or_build(spark, "ann_recall_exact5", sf_dir, build)


def grade_recall(variants: DataFrame, exact5: DataFrame) -> DataFrame:
    """(variant, hits, recall): overlap of each variant's
    (variant, query_id, vec_id) rows with the exact top-5 set; the
    denominator rides as a 1-row broadcast scalar (no driver-side
    action)."""
    denom = exact5.agg(F.count("*").alias("n_exact"))
    return (
        variants.join(F.broadcast(exact5), ["query_id", "vec_id"], "left")
        .groupBy("variant")
        .agg(F.count("hit").alias("hits"))
        .crossJoin(F.broadcast(denom))
        .select(
            "variant",
            "hits",
            F.round(F.col("hits") * 1.0 / F.col("n_exact"), 4).alias(
                "recall"
            ),
        )
    )


@query("similarity_ann_recall", oracle=_recall_oracle())
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of each ANN variant vs exact cosine top-5.

    Runs the exact search once, truncates to top-5 per query, runs
    all six variant searches, and counts the overlap. The
    exact-pair set feeds BOTH the overlap join and the denominator,
    so it is persisted through the bounded cache slot — otherwise
    the full exact scan runs twice per invocation."""
    exact5 = exact_top5(spark, sf_dir)
    variants = None
    for label, name in _VARIANTS.items():
        v = QUERIES[name](spark, sf_dir).select(
            F.lit(label).alias("variant"), "query_id", "vec_id"
        )
        variants = v if variants is None else variants.unionAll(v)
    return grade_recall(variants, exact5)
