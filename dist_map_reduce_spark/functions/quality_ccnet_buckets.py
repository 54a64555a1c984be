"""CCNet-style perplexity bucketing — the head/middle/tail corpus
partition over the trained bigram LM.

CCNet (Wenzek et al., 2020) partitions a crawled corpus into three
quality buckets by language-model perplexity terciles — "head" (lowest
perplexity, most fluent) feeds training directly, "middle" gets a
second look, "tail" is dropped or down-weighted. The repo has the
scoring model (``lm_bigram.bigram_scores``, the KenLM stand-in); this
query adds the PARTITIONING step: exact tercile thresholds over
bits-per-token, bucket assignment by comparison, per-bucket corpus
accounting.

Scale shape: thresholds come from ONE exact-percentile aggregate
(Spark ``percentile`` ≡ DuckDB ``quantile_cont``, both R-7 linear
interpolation — the cross-engine equivalence
``percentile_exact_event_values`` and ``histogram_equidepth_prices``
already pin), riding as a 1-row broadcast scalar (the sanctioned
scalar crossJoin); assignment is a map-side projection into a
3-key aggregate. No global sort, no window over an unpartitioned
frame — at 100 TB swap the exact percentile for ``approx_percentile``
exactly as the equi-depth histogram documents, and the rest of the
plan is unchanged. The expensive part is the LM scoring itself, which
is the already-adjudicated lm_bigram plan.

Determinism: bits_per_token is 6-dp rounded upstream, both engines
interpolate identical doubles, and assignment is a pure comparison;
per-bucket avg is rounded to 6 dp to absorb sum-order ULPs (the
lm_score discipline).

The oracle wraps the registered lm_bigram oracle (the
curation_funnel composition pattern).

Reference parity: the reference's only text op is word count
(/root/reference/src/worker/worker.go:270-288); this belongs to the
training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import persist_tracked
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.lm_bigram import bigram_scores
from dist_map_reduce_spark.registry import ORACLES, query

_ORACLE = f"""
    WITH s AS ({ORACLES["lm_bigram_doc_scores"]}),
    thr AS (
      SELECT quantile_cont(bits_per_token, [1.0/3, 2.0/3]) AS q FROM s
    )
    SELECT CASE WHEN bits_per_token <= q[1] THEN 'head'
                WHEN bits_per_token <= q[2] THEN 'middle'
                ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
           round(avg(bits_per_token), 6) AS avg_bpt,
           round(min(bits_per_token), 6) AS min_bpt,
           round(max(bits_per_token), 6) AS max_bpt
    FROM s, thr
    GROUP BY 1
    """


@query("quality_ccnet_buckets", oracle=_ORACLE)
def quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_docs, total_bigrams, avg_bpt, min_bpt, max_bpt):
    CCNet head/middle/tail partition of the corpus by bits-per-token
    terciles of the interpolated-bigram LM score."""
    docs = load_table(spark, sf_dir, "documents")
    # the per-doc score table feeds TWO consumers (the threshold
    # aggregate and the bucket assignment) — persist it so the LM
    # scoring joins run once per invocation instead of twice
    s = persist_tracked(
        bigram_scores(docs, cache_key=sf_dir), "ccnet_scores", sf_dir
    )
    thr = s.agg(
        F.expr("percentile(bits_per_token, array(1D/3, 2D/3))").alias("q")
    )
    assigned = s.crossJoin(F.broadcast(thr)).select(
        F.when(F.col("bits_per_token") <= F.col("q")[0], "head")
        .when(F.col("bits_per_token") <= F.col("q")[1], "middle")
        .otherwise("tail")
        .alias("bucket"),
        "n_bigrams",
        "bits_per_token",
    )
    return assigned.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bigrams").alias("total_bigrams"),
        F.round(F.avg("bits_per_token"), 6).alias("avg_bpt"),
        F.round(F.min("bits_per_token"), 6).alias("min_bpt"),
        F.round(F.max("bits_per_token"), 6).alias("max_bpt"),
    )
