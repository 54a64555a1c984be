"""Misra-Gries mergeable heavy hitters.

The summary family so far covers the SKETCH classes — frequency via
count-min (text_cms.py), membership via Bloom, cardinality via
KMV/theta/HLL, quantiles via t-digest, moments via AMS. The classic
COUNTER-BASED class (Misra & Gries 1982) is the missing arm, and it
is the one with the strongest guarantee: deterministic (no hash
collisions, no probability), one-sided (the estimate NEVER exceeds
the true count), and mergeable with a provable additive bound
(Agarwal, Cormode, Huang, Phillips, Wei, Yi — "Mergeable Summaries",
PODS 2012: add counters, subtract the (k+1)-th largest, clamp at 0).

Shape: per-SOURCE k=8-counter summaries built from exact per-source
word counts, merged into one global summary. Building a summary from
exact frequencies is the batch form of MG: subtracting the (k+1)-th
largest count λ_s from every count and keeping the positive
remainder is exactly what the streaming algorithm converges to, with
error λ_s ≤ n_s/(k+1) (the top k+1 counts sum to ≤ n_s). The merge
then adds per-source counters and subtracts the (k+1)-th largest
combined counter λ_m. Every step is integer order-statistics over
integer counts — deterministic on both engines by construction, no
float anywhere, so parity is a full value-hash EQUALITY.

The certified output is the guarantee itself (grade-the-contract,
the text_cms/t-digest move): for every surviving word,
``n_mg ≤ n_exact`` and ``n_exact − n_mg ≤ err_budget`` where
``err_budget = Σ_s λ_s + λ_m`` — the PODS-2012 theorem as a boolean
column the oracle recomputes. The ``undercount`` column makes the
(always-one-sided) error visible next to CMS's always-≥0 overcount:
the two sketches bracket the truth from opposite sides.

Determinism at the ties: λ is an order statistic of the COUNT
multiset (row K+1 of a count-desc sort), so tie ORDER never matters
— equal counts give the same λ whichever tie wins the row number,
and the survivor set {f > λ} is tie-free by construction (words at
exactly λ clamp to 0 and drop on both engines).

Scale posture (100 TB): the per-(source, word) count is the one
corpus-scale shuffle (map-side combined, wordcount-shaped). The
per-source (k+1)-th-largest would naively sort each source's whole
vocabulary in ONE partition (20 partitions at any scale — a skew
trap); instead a two-level tournament bounds it: top-(k+1) per
(source, hash(word) % 32) bucket first — 640 balanced partitions,
WindowGroupLimit prunes to k+1 rows each — then the true per-source
order statistic over the ≤ 32·(k+1) survivors. Correct because any
top-(k+1)-of-source element is top-(k+1) of its bucket. Everything
after the counts table is summary-scale (≤ sources·k rows). The
exact-count arm reuses the same counts table (one persist slot, two
consumers).

Reference parity note: word frequency is the reference's ONE query
(/root/reference/src/worker/worker.go:270-288); this is its
deterministic bounded-memory arm beside the CMS probabilistic one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

MG_K = 8  # counters per summary
_N_BUCKETS = 32  # tournament fan-in per source (engine-only)

_ORACLE = f"""
WITH counts AS (
  SELECT source, word, count(*) AS f
  FROM (
    SELECT source,
           unnest(string_split_regex(text, '[^a-zA-Z]+')) AS word
    FROM documents
  ) WHERE word <> ''
  GROUP BY source, word
),
ranked AS (
  SELECT source, f,
         row_number() OVER (
           PARTITION BY source ORDER BY f DESC, word
         ) AS rn
  FROM counts
),
lam_s AS (
  SELECT c.source,
         COALESCE(max(CASE WHEN r.rn = {MG_K + 1} THEN r.f END), 0)
           AS lam
  FROM (SELECT DISTINCT source FROM counts) c
  LEFT JOIN ranked r
    ON r.source = c.source AND r.rn = {MG_K + 1}
  GROUP BY c.source
),
summ AS (
  SELECT c.word, c.f - l.lam AS cnt
  FROM counts c JOIN lam_s l USING (source)
  WHERE c.f > l.lam
),
merged AS (
  SELECT word, sum(cnt) AS c FROM summ GROUP BY word
),
mranked AS (
  SELECT word, c,
         row_number() OVER (ORDER BY c DESC, word) AS rn
  FROM merged
),
lam_m AS (
  SELECT COALESCE(max(CASE WHEN rn = {MG_K + 1} THEN c END), 0) AS lam
  FROM mranked
),
err AS (
  SELECT CAST((SELECT sum(lam) FROM lam_s)
              + (SELECT lam FROM lam_m) AS BIGINT) AS err_budget
),
final AS (
  SELECT m.word, m.c - lm.lam AS n_mg
  FROM merged m, lam_m lm
  WHERE m.c > lm.lam
),
exact AS (
  SELECT word, sum(f) AS n_exact FROM counts GROUP BY word
)
SELECT f.word,
       CAST(f.n_mg AS BIGINT) AS n_mg,
       CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST(e.n_exact - f.n_mg AS BIGINT) AS undercount,
       err.err_budget,
       (e.n_exact - f.n_mg) BETWEEN 0 AND err.err_budget
         AS within_bound
FROM final f JOIN exact e USING (word), err
"""


def _source_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return get_or_build(
        spark,
        "mg_source_word_counts",
        sf_dir,
        lambda: load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.split("text", "[^a-zA-Z]+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count("*").alias("f")),
    )


def _kth_plus_one(df: DataFrame, keys: list, val: str) -> DataFrame:
    """Per-``keys`` (MG_K+1)-th largest ``val`` (0 when fewer rows),
    via the bucketed tournament described in the module docstring so
    no partition ever sorts more than its hash bucket."""
    bucket = F.pmod(F.hash("word"), F.lit(_N_BUCKETS))
    local = Window.partitionBy(*keys, "bucket").orderBy(
        F.col(val).desc(), F.col("word")
    )
    survivors = (
        df.withColumn("bucket", bucket)
        .withColumn("lrn", F.row_number().over(local))
        .filter(F.col("lrn") <= MG_K + 1)
        .drop("bucket", "lrn")
    )
    final = Window.partitionBy(*keys).orderBy(
        F.col(val).desc(), F.col("word")
    )
    at_k1 = (
        survivors.withColumn("rn", F.row_number().over(final))
        .filter(F.col("rn") == MG_K + 1)
        .select(*keys, F.col(val).alias("lam"))
    )
    base = df.select(*keys).distinct()
    return base.join(at_k1, keys, "left").select(
        *keys, F.coalesce("lam", F.lit(0)).alias("lam")
    )


@query("text_mg_heavy_hitters", oracle=_ORACLE)
def text_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n_mg, n_exact, undercount, err_budget, within_bound)
    for the ≤ MG_K survivors of the merged per-source Misra-Gries
    summaries: n_mg never exceeds n_exact, undercount never exceeds
    the theorem's budget Σ_s λ_s + λ_m, and both facts ship as the
    certified within_bound column."""
    counts = _source_word_counts(spark, sf_dir)
    # lam_s (≤|sources| rows) feeds the summary join AND the error
    # budget, and merged (≤ sources·(MG_K+1) rows) feeds λ_m AND the
    # survivor filter — unslotted, each consumer re-ran the
    # vocabulary-scale bucketed-tournament windows / summary aggregate
    # (audited: 42 exchanges → 10 at sf0.1, λ_s evaluated 3× before)
    lam_s = get_or_build(
        spark, "mg_lam_s", sf_dir, lambda: _kth_plus_one(counts, ["source"], "f")
    )
    merged = get_or_build(
        spark,
        "mg_merged",
        sf_dir,
        lambda: (
            counts.join(F.broadcast(lam_s), "source")
            .filter(F.col("f") > F.col("lam"))
            .select("word", (F.col("f") - F.col("lam")).alias("cnt"))
            .groupBy("word")
            .agg(F.sum("cnt").alias("c"))
        ),
    )
    # merged is summary-scale (≤ sources · MG_K rows): the global
    # order statistic and the final filter are free
    mwin = Window.orderBy(F.col("c").desc(), F.col("word"))
    lam_m = (
        merged.withColumn("rn", F.row_number().over(mwin))
        .filter(F.col("rn") == MG_K + 1)
        .agg(F.coalesce(F.max("c"), F.lit(0)).alias("lam_m"))
    )
    err = (
        lam_s.agg(F.sum("lam").alias("sum_lam"))
        .crossJoin(lam_m)  # 1-row broadcast scalars (sanctioned)
        .select(
            (F.col("sum_lam") + F.col("lam_m"))
            .cast("bigint")
            .alias("err_budget"),
            "lam_m",
        )
    )
    final = (
        merged.crossJoin(err)  # 1-row broadcast scalar (sanctioned)
        .filter(F.col("c") > F.col("lam_m"))
        .select(
            "word",
            (F.col("c") - F.col("lam_m")).cast("bigint").alias("n_mg"),
            "err_budget",
        )
    )
    exact = counts.groupBy("word").agg(
        F.sum("f").cast("bigint").alias("n_exact")
    )
    return exact.join(F.broadcast(final), "word").select(
        "word",
        "n_mg",
        "n_exact",
        (F.col("n_exact") - F.col("n_mg")).cast("bigint").alias(
            "undercount"
        ),
        "err_budget",
        (
            (F.col("n_exact") - F.col("n_mg") >= 0)
            & (F.col("n_exact") - F.col("n_mg") <= F.col("err_budget"))
        ).alias("within_bound"),
    )
