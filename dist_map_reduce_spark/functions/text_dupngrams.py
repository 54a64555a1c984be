"""Cross-document duplicated n-gram fraction (RefinedWeb/Gopher-style
corpus-level duplication signal).

``text_repetition_signals`` (functions/text.py) measures repetition
WITHIN a document; this operator measures duplication ACROSS the
corpus: the fraction of a document's 8-gram positions whose 8-gram
also occurs in at least one OTHER document. Pretraining pipelines use
exactly this "fraction of text in duplicated n-grams" signal to rank
documents for dedup-aware filtering when full near-dup removal
(minhash/simhash) is too aggressive. Generalizes the reference's
tokenizer (its only text op, reference: src/worker/worker.go:270-283)
into a corpus-statistic stage.

Scale posture (100 TB corpus): the gram table is the dominant cost —
O(tokens) rows — so the plan keeps it narrow and aggregates early:
per-(doc, gram) counts FIRST (map-side partial + one shuffle on
doc_id+gram), then per-gram distinct-doc counts reuse the already
hash-clustered gram data (second shuffle on gram), and the join back
is gram-partitioned on both sides so it reuses that exchange. No
all-pairs stage, no driver state; at scale the gram string can be
replaced by xxhash64(gram) to shrink shuffle width (kept as the
string here so the DuckDB oracle shares the exact key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

N = 8  # 8-grams: the Gopher/RefinedWeb duplicate-text granularity


def doc_ngrams(docs: DataFrame, n: int = N) -> DataFrame:
    """(doc_id, gram) rows: every overlapping whitespace n-gram.

    Built entirely with JVM array expressions (split → transform over
    a position sequence → slice/join → explode): no Python in the
    data path. Documents shorter than ``n`` words contribute no rows
    — guarded explicitly, because Spark's sequence(1, stop) DESCENDS
    when stop < 1 instead of being empty. Callers left-join docs back
    if they need the short tail.
    """
    ws = F.split("text", " ")
    grams = F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.array_join(F.slice(ws, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.explode(grams).alias("gram"))


def dup_ngram_stats(
    docs: DataFrame,
    n: int = N,
    hashed: bool = False,
    cache_key: str | None = None,
) -> DataFrame:
    """(doc_id, n_grams, n_dup, dup_frac) duplication statistics —
    the library entry point behind the registered query.

    ``hashed=True`` is the 100 TB path: grams shuffle as
    ``xxhash64(gram)`` BIGINTs instead of ~40-byte strings (≈5×
    narrower shuffle rows for 8-grams of ~5-char words). A 64-bit
    collision needs ~2³² distinct grams (birthday bound) to become
    likely, and a collision can only MERGE two gram groups —
    overcounting dup positions by at most the collided group's size —
    so the statistic degrades gracefully; the string path is kept for
    the cross-engine oracle."""
    gram_key = (
        F.xxhash64("gram").alias("gram") if hashed else F.col("gram")
    )
    # both consumers (per-gram doc counts and the join-back) read the
    # persisted table, so the corpus explodes once
    gd = get_or_build(
        docs.sparkSession,
        "dupngram_gd",
        cache_key,
        lambda: doc_ngrams(docs, n)
        .select("doc_id", gram_key)
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c")),
    )
    gs = gd.groupBy("gram").agg(F.count("*").alias("n_docs_with"))
    per_doc = (
        gd.join(gs, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.when(F.col("n_docs_with") > 1, F.col("c")).otherwise(0)).alias(
                "n_dup"
            ),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
        F.when(
            F.coalesce("n_grams", F.lit(0)) > 0,
            F.round(F.col("n_dup") * F.lit(1.0) / F.col("n_grams"), 6),
        ).alias("dup_frac"),
    )


@query(
    "text_dup_ngram_fraction",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (
      SELECT doc_id, array_to_string(ws[i:i + {N - 1}], ' ') AS gram
      FROM w, LATERAL (
        SELECT unnest(generate_series(1, len(ws) - {N - 1})) AS i
      ) t
    ),
    gd AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
    gs AS (SELECT gram, count(*) AS n_docs_with FROM gd GROUP BY 1),
    j AS (
      SELECT gd.doc_id,
             CAST(sum(c) AS BIGINT)                        AS n_grams,
             CAST(sum(CASE WHEN n_docs_with > 1 THEN c ELSE 0 END)
                  AS BIGINT)                               AS n_dup
      FROM gd JOIN gs USING (gram)
      GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(n_grams, 0) AS n_grams,
           coalesce(n_dup, 0)   AS n_dup,
           CASE WHEN n_grams > 0
                THEN round(n_dup * 1.0 / n_grams, 6) END AS dup_frac
    FROM documents d LEFT JOIN j USING (doc_id)
    """,
)
def text_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of 8-gram positions whose 8-gram occurs
    in more than one distinct document. ``n_dup`` counts POSITIONS
    (a doc repeating a corpus-duplicated gram k times contributes k),
    matching the "fraction of characters in duplicated n-grams" shape
    of the published filters; cross-doc only — a gram repeated within
    a single document is NOT corpus duplication."""
    docs = load_table(spark, sf_dir, "documents")
    # distinct-doc count per gram inside dup_ngram_stats: the
    # per-(doc, gram) table is one row per pair, so a plain count(*)
    # over gram IS the distinct-doc count — no count(DISTINCT) Expand
    return dup_ngram_stats(docs, cache_key=sf_dir)
