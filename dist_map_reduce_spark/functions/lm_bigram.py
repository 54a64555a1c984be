"""Corpus-trained interpolated bigram language-model scoring.

CCNet/RedPajama-class pipelines rank documents by language-model
perplexity (KenLM in the original); `lm_score.py` ships the unigram
baseline, and this module is the context-aware step up: an
interpolated bigram model trained on the corpus itself,

    p(w2 | w1) = LAMBDA * c(w1,w2)/c(w1,·) + (1-LAMBDA) * c(w2)/total

(fixed-weight Jelinek-Mercer interpolation — the standard smoothing
that needs no discount table and is expressible as one join tree in
both engines). Each document is scored by its length-normalized
bigram log-probability; rare-transition noise scores very negative,
boilerplate scores near zero — both tails get filtered or
re-weighted, exactly like the unigram arm.

Reference parity note: the reference's only text op is the word-count
tokenizer (/root/reference/src/worker/worker.go:270-288); this
generalizes the same token stream into a trained scoring model.

Scale posture (100 TB corpus): three aggregations over the exploded
streams — per-(doc, w1, w2) bigram counts (THE shuffle, map-side
partial combine on a Zipf-concentrated key space), the bigram
vocabulary and its w1-context marginal (both over the already-reduced
doc-term table, far smaller than the corpus), and the unigram
vocabulary reused from the token stream. The vocabularies are
Zipf-bounded (millions of rows at 100 TB, not corpus-sized), so the
scoring joins broadcast at scale; the corpus-total token count rides
along as a 1-row broadcast scalar (the sanctioned scalar-subquery
crossJoin, same pattern as lm_score.py / operators/approx.py). No
pairwise or n² stage anywhere.

Determinism across engines: grouping to per-(doc, w1, w2) counts
first means each document's score sums ≤ distinct-bigram terms of
``c * ln(p)``; the probability is a fixed expression tree over exact
integer-ratio doubles (c12/c1, c2/total), so JVM and DuckDB produce
bit-identical ln inputs, and the 6-dp round absorbs association-order
ULPs in the per-doc sum — the discipline proven by
lm_unigram_doc_scores across five driver rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import persist_tracked
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

# Jelinek-Mercer interpolation weight on the bigram MLE. 0.75 is the
# textbook default for bigram/unigram mixes; exact binary fraction
# (3/4) so LAMBDA and 1-LAMBDA are both exact doubles in each engine.
LAMBDA = 0.75


def doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — one row per bigram TOKEN (not type) over
    whitespace words, docs with <2 words contributing nothing. The
    word array is projected once; the pair array is a row-local
    ``transform`` over index positions (zero shuffle), the same
    shape as dedup_common.shingle_array."""
    pairs = F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
    )
    # explode_OUTER: plain explode triggers InferFiltersFromGenerate
    # (excluded in engine-owned sessions, session.py, but this must
    # also run under foreign driver sessions), whose pushed-down
    # filter inlines the pair transform with ws re-evaluated per
    # lambda reference — O(words²). The size >= 2 guard guarantees a
    # non-empty pair array, so OUTER emits identical rows.
    return (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .where(F.size("ws") >= 2)
        .select("doc_id", F.explode_outer(pairs).alias("bg"))
        .select("doc_id", "bg.w1", "bg.w2")
    )


@query(
    "lm_bigram_doc_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    uni AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
    tot AS (SELECT sum(cnt) AS total FROM uni),
    b AS (
      SELECT doc_id,
             unnest([ws[i] FOR i IN generate_series(1, len(ws) - 1)])
               AS w1,
             unnest([ws[i + 1] FOR i IN generate_series(1, len(ws) - 1)])
               AS w2
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      WHERE len(ws) >= 2
    ),
    db AS (SELECT doc_id, w1, w2, count(*) AS c FROM b GROUP BY 1, 2, 3),
    bv AS (SELECT w1, w2, sum(c) AS c12 FROM db GROUP BY 1, 2),
    ctx AS (SELECT w1, sum(c12) AS c1 FROM bv GROUP BY 1)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           round(sum(c * ln({LAMBDA} * (c12 * 1.0 / c1)
                            + {1.0 - LAMBDA} * (cnt * 1.0 / total)))
                 / sum(c), 6) AS avg_logprob,
           round(-(sum(c * ln({LAMBDA} * (c12 * 1.0 / c1)
                              + {1.0 - LAMBDA} * (cnt * 1.0 / total)))
                   / sum(c)) / ln(2), 6) AS bits_per_token
    FROM db
    JOIN bv USING (w1, w2)
    JOIN ctx USING (w1)
    JOIN uni ON uni.token = db.w2, tot
    GROUP BY doc_id
    """,
)
def lm_bigram_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-normalized interpolated-bigram log-probability per
    document (and its bits-per-token form): train bigram + unigram
    counts on the corpus, score each document by
    sum(c·ln(λ·p_bigram + (1−λ)·p_unigram)) / n_bigrams."""
    docs = load_table(spark, sf_dir, "documents")
    return bigram_scores(docs, cache_key=sf_dir)


def bigram_scores(docs: DataFrame, cache_key: str | None = None) -> DataFrame:
    """The scoring pipeline over an arbitrary (doc_id, text) corpus
    (the staged query binds it to the fixture table with the fixture
    dir as cache key; property tests feed crafted corpora with
    ``cache_key=None``, skipping the slot cache — a reused slot key
    across DIFFERENT inputs would return the previous corpus's
    table)."""
    # db feeds the bigram vocabulary, the context marginal, AND the
    # scoring join: persist it (slot-bounded) so the corpus bigram
    # extraction runs once — the lm_score.py discipline.
    db = (
        doc_bigrams(docs)
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    if cache_key is not None:
        db = persist_tracked(db, "lm_doc_bigrams", cache_key)
    # context marginal folded INTO the bigram vocab at vocab scale
    # (a (w1,w2)-keyed join against a w1-keyed aggregate of itself),
    # so the corpus-side db table joins the model twice, not three
    # times — at 100 TB each corpus-side join is a shuffle when the
    # vocab outgrows broadcast, and this removes one of them.
    bv = db.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    ctx = bv.groupBy("w1").agg(F.sum("c12").alias("c1"))
    model = bv.join(ctx, "w1")
    # unigram table persisted: it feeds both the scoring join and the
    # 1-row total, and deriving it once saves a second corpus scan
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("w2"))
        .groupBy("w2")
        .agg(F.count("*").alias("cnt"))
    )
    if cache_key is not None:
        uni = persist_tracked(uni, "lm_bigram_uni", cache_key)
    total = uni.agg(F.sum("cnt").alias("total"))
    p = F.lit(LAMBDA) * (F.col("c12") * F.lit(1.0) / F.col("c1")) + F.lit(
        1.0 - LAMBDA
    ) * (F.col("cnt") * F.lit(1.0) / F.col("total"))
    scored = (
        db.join(model, ["w1", "w2"])
        .join(uni, "w2")
        # 1-row aggregate: scalar-subquery crossJoin, not a data join
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.col("c") * F.log(p)).alias("logp_sum"),
        )
    )
    avg = F.col("logp_sum") / F.col("n_bigrams")
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round(avg, 6).alias("avg_logprob"),
        F.round(-avg / F.log(F.lit(2.0)), 6).alias("bits_per_token"),
    )
