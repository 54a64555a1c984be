"""Corpus-curation extensions: lexical near-dup, duplicated spans,
per-source caps, source divergence.

Four signals a large-scale training-data pipeline computes besides
the MinHash/SimHash/embedding families already in this repo:

``lexical_cosine_pairs`` — sparse LEXICAL cosine similarity between
documents over 3-gram-shingle frequency vectors, restricted to
mid-frequency shingles (2 ≤ df ≤ MAX_DF). This is the classic IR
near-dup complement to embedding cosine: it catches phrase-level
template reuse that embeddings smooth over. Shingles (not unigrams)
are the term axis because a bag-of-words cosine saturates on any
corpus with a compact vocabulary — the fixture's 30-word vocabulary
makes every doc pair score ~1.0 on unigrams, while the shingle
spectrum separates true near-dups (1.0) from incidental phrase
overlap (≤0.2). The df cut is simultaneously the boilerplate filter
and the scale bound — pair generation is an inverted-index
self-join on shingle, so fan-out per shingle is at most
C(MAX_DF, 2) regardless of corpus size (the same
bounded-candidates discipline as the MinHash bands). All arithmetic
is deterministic: tf counts are integers, norms are integer sums,
and the only float ops are one correctly-rounded sqrt/divide pair
on exact inputs, so both engines agree bit-for-bit.

``text_dup_span_longest`` — the longest run of CONSECUTIVE
corpus-duplicated 8-grams per document (gaps-and-islands over gram
positions). `text_dup_ngram_fraction` measures HOW MUCH of a doc is
duplicated; this measures how CONTIGUOUS the duplication is — the
signal that separates boilerplate headers/footers (short runs) from
wholesale copied passages (long runs), the cheap distributed
approximation of suffix-array exact-substring dedup. One corpus
gram table, one semi-join against the duplicated-gram set, one
window per doc.

``per_source_doc_cap`` — keep at most CAP documents per source
(largest first, deterministic tie-break): the per-domain cap every
web-corpus recipe applies so no single domain dominates the mix.
One window over source partitions — embarrassingly parallel across
sources at any scale.

``source_kl_divergence`` — per-source KL divergence from the corpus
token distribution (+ entropy), the domain-shift diagnostic read
before corpus-mix weighting; see its docstring for the
ln-determinism discipline.

Reference parity note: the reference engine ships word count only
(reference: src/worker/worker.go:270-288); these exercise the same
generic map/shuffle/reduce surface (src/worker/worker.go:131-218).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

MAX_DF = 20  # inverted-index df cut: bounds per-shingle pair fan-out
MIN_COS = 0.15
COS_N = 3  # shingle width for the lexical-cosine term axis
SPAN_N = 8  # gram width for duplicated-span detection
CAP = 10  # max docs kept per source


@query(
    "lexical_cosine_pairs",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    tok AS (
      SELECT doc_id, array_to_string(ws[i:i + {COS_N - 1}], ' ') AS term
      FROM w, LATERAL (
        SELECT unnest(generate_series(1, len(ws) - {COS_N - 1})) AS i
      ) t
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ),
    keep AS (
      SELECT term FROM tf GROUP BY term
      HAVING count(*) BETWEEN 2 AND {MAX_DF}
    ),
    ftf AS (SELECT tf.* FROM tf JOIN keep USING (term)),
    norms AS (
      SELECT doc_id, sum(tf * tf) AS nrm FROM ftf GROUP BY 1
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(a.tf * b.tf) AS dot
      FROM ftf a JOIN ftf b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(dot AS DOUBLE)
                 / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)),
                 6) AS cos
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE round(CAST(dot AS DOUBLE)
                / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)),
                6) >= {MIN_COS}
    """,
)
def lexical_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs with lexical cosine ≥ MIN_COS over the
    mid-frequency 3-gram-shingle subspace (2 ≤ df ≤ MAX_DF).
    Postings self-join on shingle generates candidates (bounded per
    shingle by the df cut); norms are computed over the SAME
    subspace so the score is a true cosine there. dot/norms are
    exact integers; the single sqrt+divide is correctly rounded
    IEEE on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    shingles = F.when(
        F.size(ws) >= COS_N,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (COS_N - 1)),
            lambda i: F.array_join(F.slice(ws, i, COS_N), " "),
        ),
    ).otherwise(F.array())
    # pre-explode repartition: spreads the shingle explode across
    # cores on a single-split fixture scan (see text_boilerplate);
    # width follows the session's core count, never a literal cap
    tf = (
        docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(shingles).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # weighted postings, the same single-shuffle pattern as
    # ngram_jaccard_pairs: one aggregate per term (size(ps) IS the
    # document frequency, so the df band needs no second pass), then
    # i<j pairs emitted directly from the sorted array — exactly
    # k(k-1)/2 structs per term, never k² filtered down
    # postings feed BOTH norms and dots — persist the df-banded
    # posting table once (bounded: ≤ MAX_DF entries per surviving
    # term) instead of re-running the corpus-scale explode + two
    # aggregates per consumer (r16, guide §2.4)
    postings = get_or_build(
        spark,
        "lexcos_postings",
        sf_dir,
        lambda: tf.groupBy("term")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "tf"))
            ).alias("ps")
        )
        .where((F.size("ps") >= 2) & (F.size("ps") <= MAX_DF)),
    )
    norms = (
        postings.select(F.explode("ps").alias("p"))
        .groupBy(F.col("p.doc_id").alias("doc_id"))
        .agg(F.sum(F.col("p.tf") * F.col("p.tf")).alias("nrm"))
    )
    dots = (
        postings.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ps) - 2), "
                    "i -> transform(sequence(i + 1, size(ps) - 1), "
                    "j -> struct(ps[i].doc_id AS doc_a, "
                    "ps[j].doc_id AS doc_b, "
                    "ps[i].tf * ps[j].tf AS w))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(F.sum("p.w").alias("dot"))
    )
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(
            F.col("na").cast("double") * F.col("nb").cast("double")
        ),
        6,
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na")), "doc_a")
        .join(norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb")), "doc_b")
        .select("doc_a", "doc_b", cos.alias("cos"))
        .where(F.col("cos") >= MIN_COS)
    )


@query(
    "text_dup_span_longest",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             array_to_string(ws[i:i + {SPAN_N - 1}], ' ') AS gram
      FROM w, LATERAL (
        SELECT unnest(generate_series(1, len(ws) - {SPAN_N - 1})) AS i
      ) t
    ),
    dupg AS (
      SELECT gram FROM g GROUP BY gram
      HAVING count(DISTINCT doc_id) >= 2
    ),
    d AS (SELECT g.doc_id, g.pos FROM g JOIN dupg USING (gram)),
    isl AS (
      SELECT doc_id,
             pos - row_number() OVER (
               PARTITION BY doc_id ORDER BY pos) AS grp
      FROM d
    ),
    runs AS (
      SELECT doc_id, count(*) AS run_len FROM isl GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id, max(run_len) AS max_run FROM runs GROUP BY doc_id
    )
    SELECT doc.doc_id,
           CAST(coalesce(p.max_run, 0) AS BIGINT) AS max_dup_gram_run,
           CAST(CASE WHEN p.max_run IS NULL THEN 0
                     ELSE p.max_run + {SPAN_N - 1} END AS BIGINT)
             AS max_dup_span_words
    FROM documents doc LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_dup_span_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive corpus-duplicated SPAN_N-grams per
    document (plus its width in words) — gaps-and-islands: island id
    = pos − row_number within doc, runs counted per island. Docs
    with no duplicated gram report 0 via the left join."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size(ws) >= SPAN_N,
                F.transform(
                    F.sequence(F.lit(1), F.size(ws) - (SPAN_N - 1)),
                    lambda i: F.array_join(F.slice(ws, i, SPAN_N), " "),
                ),
            ).otherwise(F.array())
        ).alias("pos", "gram"),
    )
    dupg = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("gram")
    )
    d = grams.join(dupg, "gram", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = d.select(
        "doc_id", (F.col("pos") - F.row_number().over(w)).alias("grp")
    )
    per_doc = (
        isl.groupBy("doc_id", "grp")
        .agg(F.count("*").alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("max_run"))
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("max_run"), F.lit(0))
        .cast("bigint")
        .alias("max_dup_gram_run"),
        F.when(F.col("max_run").isNull(), F.lit(0))
        .otherwise(F.col("max_run") + (SPAN_N - 1))
        .cast("bigint")
        .alias("max_dup_span_words"),
    )


@query(
    "per_source_doc_cap",
    oracle=f"""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS rk
      FROM documents
    ) r WHERE rk <= {CAP}
    """,
)
def per_source_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-domain cap keep-list: at most CAP docs per source,
    largest first (doc_id tie-break makes the cut deterministic).
    One window per source partition — independent across sources, so
    the plan is flat at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= CAP)
    )


@query(
    "source_kl_divergence",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    st AS (
      SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2
    ),
    s_tot AS (SELECT source, sum(c) AS n FROM st GROUP BY 1),
    g AS (SELECT token, sum(c) AS gc FROM st GROUP BY 1),
    g_tot AS (SELECT sum(c) AS big_n FROM st)
    SELECT st.source,
           CAST(s_tot.n AS BIGINT) AS n_tokens,
           round(sum((st.c * 1.0 / s_tot.n)
                     * ln((st.c * 1.0 / s_tot.n)
                          / (g.gc * 1.0 / g_tot.big_n))), 6)
             AS kl_vs_corpus,
           round(-sum((st.c * 1.0 / s_tot.n)
                      * ln(st.c * 1.0 / s_tot.n)), 6) AS entropy
    FROM st
    JOIN s_tot USING (source)
    JOIN g USING (token)
    CROSS JOIN g_tot
    GROUP BY st.source, s_tot.n
    """,
)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution divergence from the corpus:
    KL(P_source ‖ P_corpus) plus the source's own entropy — the
    domain-shift diagnostic a corpus-mix recipe reads before
    weighting sources (a source with high KL is lexically unlike
    the rest; near-zero KL means it adds volume, not diversity).

    Determinism follows lm_score's discipline: probabilities are
    single IEEE divisions of exact counts, ln of identical doubles
    is identical in JVM and DuckDB, and each source's sum spans at
    most vocabulary-distinct terms, so the 6-dp round absorbs
    association-order ULPs. Plan: one (source, token) aggregate,
    dimension-sized joins (per-source totals broadcast, global
    token counts vocab-bounded), one final per-source aggregate —
    token counting is the only corpus-scale pass."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )
    s_tot = st.groupBy("source").agg(F.sum("c").alias("n"))
    g = st.groupBy("token").agg(F.sum("c").alias("gc"))
    g_tot = st.agg(F.sum("c").alias("big_n"))
    ps = F.col("c") * F.lit(1.0) / F.col("n")
    pg = F.col("gc") * F.lit(1.0) / F.col("big_n")
    return (
        st.join(F.broadcast(s_tot), "source")
        .join(g, "token")
        .crossJoin(F.broadcast(g_tot))
        .groupBy("source", "n")
        .agg(
            F.round(F.sum(ps * F.log(ps / pg)), 6).alias("kl_vs_corpus"),
            F.round(-F.sum(ps * F.log(ps)), 6).alias("entropy"),
        )
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_tokens"),
            "kl_vs_corpus",
            "entropy",
        )
    )
