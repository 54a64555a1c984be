"""Corpus-trained unigram language-model scoring (CCNet-style
quality signal).

CCNet/RedPajama-class pipelines rank documents by language-model
perplexity; the distributed-friendly baseline is a unigram LM trained
on the corpus itself: token log-probabilities from global counts,
each document scored by its length-normalized log-probability. Low
(very negative) scores mark rare-token noise, high scores mark
boilerplate-heavy text — both tails get filtered or re-weighted.

Scale posture (100 TB corpus): two aggregations over the exploded
token stream — per-(doc, token) counts (one shuffle, map-side
partial) and the vocabulary (second aggregation over far fewer rows,
reusing the token hash clustering) — then a token-keyed join of
doc-term counts against the vocabulary and a final per-doc rollup.
The vocabulary is Zipf-bounded (millions of rows, not corpus-sized),
so at scale it broadcasts; the corpus-total token count rides along
as a 1-row broadcast scalar (the sanctioned scalar-subquery
crossJoin, same pattern as operators/approx.py). No OOV handling is
needed: the model is trained on the corpus it scores — scoring NEW
text against a frozen vocabulary adds the usual add-alpha smoothing
at the join's null branch.

Determinism across engines: per-(doc, token) grouping first means
each document's score sums ≤ vocabulary-distinct terms of
``c * ln(cnt/total)``; ln of identical IEEE doubles is identical in
JVM and DuckDB, and the 6-dp round absorbs association-order ULPs in
the sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query


def unigram_vocab(docs: DataFrame) -> DataFrame:
    """(token, cnt) global unigram counts over whitespace tokens."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "lm_unigram_doc_scores",
    oracle="""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    dt AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY 1, 2),
    v AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
    tot AS (SELECT sum(cnt) AS total FROM v)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(sum(c * ln(cnt * 1.0 / total)) / sum(c), 6) AS avg_logprob,
           round(-(sum(c * ln(cnt * 1.0 / total)) / sum(c)) / ln(2), 6)
             AS bits_per_token
    FROM dt JOIN v USING (token), tot
    GROUP BY doc_id
    """,
)
def lm_unigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-normalized unigram log-probability per document (and
    its bits-per-token form): train unigram counts on the corpus,
    score each document by sum(c·ln(p))/n_tokens."""
    # dt feeds the vocabulary, the total, AND the scoring join:
    # persist it (slot-bounded) so the corpus tokenization runs once
    dt = get_or_build(
        spark,
        "lm_doc_terms",
        sf_dir,
        lambda: load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c")),
    )
    vocab = dt.groupBy("token").agg(F.sum("c").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = (
        dt.join(vocab, "token")
        # 1-row aggregate: scalar-subquery crossJoin, not a data join
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(
                F.col("c") * F.log(F.col("cnt") * F.lit(1.0) / F.col("total"))
            ).alias("logp_sum"),
        )
    )
    avg = F.col("logp_sum") / F.col("n_tokens")
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(avg, 6).alias("avg_logprob"),
        F.round(-avg / F.log(F.lit(2.0)), 6).alias("bits_per_token"),
    )
