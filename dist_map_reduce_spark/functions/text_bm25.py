"""Okapi BM25 top-k lexical retrieval — the standard ranked-retrieval
primitive a curation pipeline uses for eval-set decontamination
sweeps, near-duplicate triage, and retrieval-augmented data mining
(TF-IDF's ranked successor; reference parity: the reference engine's
only text op is word count, /root/reference/src/worker/worker.go:
270-288, so this belongs to the extension surface next to
``text_tf_idf_top_terms``).

Shape: a deterministic 8-query probe panel (md5-bucketed fixture
docs, smallest doc_ids — TakeOrderedAndProject, no global sort) is
ranked against the whole corpus. Each query's terms are its 8 most
informative words (lowest document frequency, ties by word — no
absolute df threshold: the fixture corpus is a deliberate 31-word
soup where every df is corpus-scale, so a threshold would zero the
panel; BM25's idf already down-weights hot terms). Candidate
generation is then one term-keyed equi-join of the tiny query-term
table (≤ 64 rows, broadcastable at any scale) against the corpus
(doc, word, tf) table. Candidate volume per query = Σ df over its 8
chosen terms: on a Zipf vocabulary the lowest-df terms are
posting-bounded (tiny df), and in the soup worst case it degrades to
one corpus pass per query — either way total work is ≤ panel × corpus
rows, LINEAR in the corpus, top-5'd inside per-query windows.

Scoring: score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b +
b·dl/avgdl)) with k1 = 1.2, b = 0.75, idf = ln(1 + (N − df + 0.5) /
(df + 0.5)) — the Robertson/Sparck-Jones formulation that keeps idf
positive. Determinism discipline (lm_score.py rules): integers stay
integers until the one scoring expression; avgdl is rounded to 6 dp
on BOTH sides before use (a multiplicative input, not a small-group
average — the r11 round-boundary trap does not apply); the per-doc
score is rounded to 6 dp AFTER the ≤8-term sum (absorbs sum-order
and 1-ulp ln differences), and the ranking orders by the ROUNDED
score with doc_id tie-breaks so both engines rank identically.

At 100 TB: (doc, word, tf) is the corpus's one shuffle (shared shape
with TF-IDF/LM scoring); df is vocabulary-scale (Heaps-law, AQE
decides broadcast); the probe panel and its term table are constants;
candidate scoring is posting-bounded per term (see above). Nothing is
quadratic and no global ordering exists anywhere (per-query top-5
windows over the candidate set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

N_QUERIES = 8
N_QTERMS = 8
TOP_K = 5
K1 = 1.2
B = 0.75
_QBUCKETS = 50  # ~2% of docs are probe candidates before the top-8 cut

_ORACLE = f"""
WITH tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents
),
tf AS (
  SELECT doc_id, word, count(*) AS tf
  FROM tokens GROUP BY doc_id, word
),
df AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
),
lens AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
scal AS (
  SELECT count(*) AS n_docs,
         round(avg(len(string_split(text, ' '))), 6) AS avgdl
  FROM documents
),
probes AS (
  SELECT doc_id AS query_id FROM documents
  WHERE ('0x' || substring(md5('bm25:' || doc_id::VARCHAR), 1, 8))
          ::BIGINT % {_QBUCKETS} = 0
  ORDER BY doc_id LIMIT {N_QUERIES}
),
qterms AS (
  SELECT query_id, word, df FROM (
    SELECT p.query_id, t.word, d.df,
           row_number() OVER (
             PARTITION BY p.query_id ORDER BY d.df ASC, t.word ASC
           ) AS rn
    FROM probes p
    JOIN tf t ON t.doc_id = p.query_id
    JOIN df d USING (word)
  ) WHERE rn <= {N_QTERMS}
),
cand AS (
  SELECT q.query_id, t.doc_id,
         ln(1 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
           * (t.tf * ({K1} + 1))
           / (t.tf + {K1} * (1 - {B} + {B} * l.dl / s.avgdl)) AS part
  FROM qterms q
  JOIN tf t USING (word)
  JOIN lens l ON l.doc_id = t.doc_id
  CROSS JOIN scal s
  WHERE t.doc_id <> q.query_id
)
SELECT query_id, doc_id, round(sum(part), 6) AS bm25,
       row_number() OVER (
         PARTITION BY query_id
         ORDER BY round(sum(part), 6) DESC, doc_id ASC
       ) AS rnk
FROM cand GROUP BY query_id, doc_id
QUALIFY rnk <= {TOP_K}
"""


@query("text_bm25_topk", oracle=_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, bm25, rnk): top-5 BM25-ranked corpus
    documents for each of the 8 deterministic probe queries (the
    probe document itself excluded from its own candidates)."""
    docs = load_table(spark, sf_dir, "documents")
    # tf feeds THREE consumers (df margins, probe-term selection, the
    # candidate join) — persist the corpus-scale explode+agg once
    # (r16, guide §2.4; the dedup-family shingle-slot precedent)
    tf = get_or_build(
        spark,
        "bm25_tf",
        sf_dir,
        lambda: docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf")),
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    lens = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl")
    )
    scal = docs.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.size(F.split("text", " "))), 6).alias("avgdl"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("bm25:"), F.col("doc_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _QBUCKETS
    )
    probes = (
        docs.filter(bucket == 0)
        .select(F.col("doc_id").alias("query_id"))
        .orderBy("query_id")
        .limit(N_QUERIES)  # TakeOrderedAndProject — no global sort
    )
    qw = Window.partitionBy("query_id").orderBy(
        F.col("df").asc(), F.col("word").asc()
    )
    qterms = (
        probes.join(tf, probes.query_id == tf.doc_id)
        .join(df, "word")
        .select("query_id", "word", "df")
        .withColumn("rn", F.row_number().over(qw))
        .filter(F.col("rn") <= N_QTERMS)
        .drop("rn")
    )
    part = (
        F.log(
            1
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        * (F.col("tf") * F.lit(K1 + 1))
        / (
            F.col("tf")
            + F.lit(K1)
            * (F.lit(1 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
        )
    ).alias("part")
    cand = (
        F.broadcast(qterms)  # ≤ 64 rows at any corpus size
        .join(tf, "word")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(lens, "doc_id")
        .crossJoin(scal)  # 1-row aggregate: sanctioned scalar pattern
        .select("query_id", "doc_id", part)
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        cand.groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("part"), 6).alias("bm25"))
        .withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= TOP_K)
    )
