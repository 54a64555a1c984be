"""Text-analysis operators over the documents table.

Generalizes the reference's tokenizer (its only text operation,
reference: src/worker/worker.go:270-283) into an LLM-data-pipeline
text stage: token counting, n-grams, quality scoring, language ID,
fingerprinting. Everything is built-in array/string expressions —
JVM-side, no Python in the data path — so it scales to a 100 TB
documents corpus as a single narrow projection (no shuffle except
where an aggregation is the point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

# Deterministic marker lists for the language-ID heuristic.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "les", "des"),
    "de": ("der", "die", "und"),
    "zh": ("shi", "bu", "wo"),
}


@query(
    "text_quality_scores",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                    AS n_words,
           len(list_distinct(string_split(text, ' ')))     AS n_distinct,
           round(len(list_distinct(string_split(text, ' ')))
                 * 1.0 / len(string_split(text, ' ')), 6)  AS ttr,
           round(list_aggregate(
                   list_transform(string_split(text, ' '), w -> length(w)),
                   'sum') * 1.0 / len(string_split(text, ' ')), 6) AS avg_word_len,
           n_chars
    FROM documents
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: word count, vocabulary size,
    type-token ratio, average word length — the standard cheap
    filters of a pretraining-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_words = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    total_len = F.expr(
        "aggregate(transform(split(text, ' '), w -> length(w)), 0L, (a, x) -> a + x)"
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct"),
        F.round(n_distinct * F.lit(1.0) / n_words, 6).alias("ttr"),
        F.round(total_len * F.lit(1.0) / n_words, 6).alias("avg_word_len"),
        "n_chars",
    )


@query(
    "text_token_counts",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                 AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+'))      AS n_word_tokens,
           len(regexp_extract_all(text, '[a-z]{4,}'))   AS n_long_tokens
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus regex token classes
    (the BPE-ish pre-tokenizer split)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+")).alias("n_word_tokens"),
        F.regexp_count("text", F.lit("[a-z]{4,}")).alias("n_long_tokens"),
    )


@query(
    "text_lang_stats",
    oracle="""
    SELECT lang,
           count(*)                      AS n_docs,
           round(avg(n_chars), 4)        AS avg_chars,
           count(DISTINCT source)        AS n_sources,
           min(n_chars)                  AS min_chars,
           max(n_chars)                  AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition per language tag."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "text_bigrams",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    b AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bigram
      FROM w, LATERAL (
        SELECT unnest(generate_series(1, len(ws) - 1)) AS i
      ) t
    )
    SELECT bigram, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
    FROM b
    GROUP BY bigram
    HAVING count(*) >= 5
    """,
)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (n-gram generation via array transform —
    a narrow op — then one aggregation shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    # project the word array once — split() inside the lambda would
    # re-tokenize per element (O(words²) per doc)
    bigrams = F.expr(
        """
        CASE WHEN size(ws) >= 2 THEN
          transform(sequence(1, size(ws) - 1),
                    i -> concat(ws[i - 1], ' ', ws[i]))
        ELSE array() END
        """
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"), F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("cnt") >= 5)
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text)                                   AS fp,
           md5(substring(text, 1, 64))                 AS prefix_fp,
           length(text)                                AS n_chars_exact
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content hash + prefix hash (cheap
    near-head-dup signal)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.md5(F.substring("text", 1, 64).cast("binary")).alias("prefix_fp"),
        F.length("text").alias("n_chars_exact"),
    )


def _lang_vote(lang: str) -> F.Column:
    markers = F.array(*[F.lit(m) for m in _LANG_MARKERS[lang]])
    return F.size(F.array_intersect(F.array_distinct(F.split("text", " ")), markers))


@query(
    "text_lang_id_heuristic",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang AS lang_tag,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                                ['the', 'and', 'of']))   AS v_en,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                                ['el', 'la', 'de']))     AS v_es,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                                ['le', 'les', 'des']))   AS v_fr,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                                ['der', 'die', 'und']))  AS v_de,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                                ['shi', 'bu', 'wo']))    AS v_zh
      FROM documents
    )
    SELECT doc_id, lang_tag,
           CASE
             WHEN v_en >= v_es AND v_en >= v_fr AND v_en >= v_de AND v_en >= v_zh THEN 'en'
             WHEN v_es >= v_fr AND v_es >= v_de AND v_es >= v_zh THEN 'es'
             WHEN v_fr >= v_de AND v_fr >= v_zh THEN 'fr'
             WHEN v_de >= v_zh THEN 'de'
             ELSE 'zh'
           END AS lang_pred
    FROM scored
    """,
)
def text_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (n-gram/stopword-vote
    classifier). Deterministic argmax with a fixed tie-break order so
    results are oracle-comparable. (On the synthetic fixture corpus
    the text is language-neutral word soup, so this demonstrates the
    operator shape, not classifier accuracy.)"""
    docs = load_table(spark, sf_dir, "documents")
    v = {lang: _lang_vote(lang) for lang in _LANG_MARKERS}
    pred = (
        F.when(
            (v["en"] >= v["es"]) & (v["en"] >= v["fr"]) & (v["en"] >= v["de"]) & (v["en"] >= v["zh"]),
            "en",
        )
        .when((v["es"] >= v["fr"]) & (v["es"] >= v["de"]) & (v["es"] >= v["zh"]), "es")
        .when((v["fr"] >= v["de"]) & (v["fr"] >= v["zh"]), "fr")
        .when(v["de"] >= v["zh"], "de")
        .otherwise("zh")
    )
    return docs.select(
        "doc_id", F.col("lang").alias("lang_tag"), pred.alias("lang_pred")
    )


@query(
    "dataset_split_train_val_test",
    oracle="""
    WITH assigned AS (
      SELECT doc_id,
             CASE
               WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                 THEN 'test'
               WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                 THEN 'val'
               ELSE 'train'
             END AS split
      FROM documents
    )
    SELECT doc_id, split FROM assigned
    """,
)
def dataset_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset splitting: hash-bucket each document by
    md5 of a salted key — reproducible across runs, engines, and
    cluster sizes (unlike randomSplit, whose assignment depends on
    partitioning). First 2 hex chars partition [00,ff] ≈
    [0,0d)=test ~5%, [0d,1a)=val ~5%, rest train ~90%."""
    docs = load_table(spark, sf_dir, "documents")
    h2 = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string")).cast("binary")),
        1,
        2,
    )
    return docs.select(
        "doc_id",
        F.when(h2 < "0d", "test").when(h2 < "1a", "val").otherwise("train").alias(
            "split"
        ),
    )


@query(
    "text_tf_idf_top_terms",
    oracle="""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM tokens GROUP BY doc_id, word
    ),
    df AS (
      SELECT word, count(DISTINCT doc_id) AS df
      FROM tokens GROUP BY word
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.word,
           round(tf * ln(n_docs * 1.0 / df), 6) AS tfidf
    FROM tf JOIN df USING (word) CROSS JOIN n
    QUALIFY row_number() OVER (
      PARTITION BY tf.doc_id ORDER BY tfidf DESC, tf.word ASC
    ) <= 3
    """,
)
def text_tf_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with top-3 terms per document: two aggregations + a
    document-frequency join + per-group top-k, in ONE self-contained
    plan. The corpus size enters via a 1-row aggregate crossJoin (the
    sanctioned scalar-subquery pattern, tests/test_plans.py) — no
    separate driver-side count job. The df join carries NO broadcast
    hint: vocabulary grows ~Heaps-law with corpus size, so at 100 TB
    it may exceed executor memory — AQE picks broadcast vs shuffle
    from the observed size."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # (doc_id, word, tf) slotted: the tf arm and the df arm otherwise
    # each re-ran the corpus explode + aggregate (r17; the bm25_tf
    # precedent). df derives from tf — count of (doc, word) rows per
    # word IS countDistinct(doc_id) over tokens, since tf holds
    # exactly one row per distinct (doc, word) pair.
    tf = get_or_build(
        spark,
        "tfidf_tf",
        sf_dir,
        lambda: docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf")),
    )
    df = tf.groupBy("word").agg(F.count("*").cast("bigint").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    tfidf = F.round(
        F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
    ).alias("tfidf")
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word").asc())
    return (
        tf.join(df, "word")
        .crossJoin(n)  # 1-row aggregate: scalar subquery, not a data crossJoin
        .select("doc_id", "word", tfidf)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )
