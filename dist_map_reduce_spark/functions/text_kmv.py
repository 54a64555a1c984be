"""KMV (k-minimum-values / bottom-k theta) source-overlap sketch
(the third classic sketch here: CMS = frequency, Bloom = membership,
KMV = cardinality/overlap).

"How much content do two crawl sources share?" at 100 TB is a set
problem over per-source shingle sets that don't fit anywhere. The
standard sketch answer (Beyer et al. 2007; the DataSketches theta
family) keeps only the K smallest hash values per source; for a pair
the Jaccard estimate is |X ∩ A ∩ B| / |X| where X is the K smallest
of the union of the two signatures. This query computes BOTH arms
for every source pair — the exact shingle-set Jaccard and the KMV
estimate from K=64-value signatures — so the certified surface is
the sketch's accuracy itself, the same grade-the-contract move as
the CMS overcount and the Bloom false-positive columns. Self-pairs
(a, a) ride along as built-in calibration rows: both arms must read
exactly 1.0.

Shingle construction reuses the ONE proven expression (dedup_common:
``shingles`` engine-side, ``_shingle_sql`` oracle-side) via the
source-as-doc_id aliasing trick, so this query cannot drift from the
dedup family's tokenization.

Determinism / portability: hashes are 12-hex (48-bit) md5-slice
BIGINTs (the repo idiom — collisions are ~2⁻⁴⁸ per pair and, if one
ever happened, bit-identical in both engines); ranks break ties on
the hash value itself (distinct per source by construction);
divisions are long/long → double, rounded to 6 dp on both sides.

Scale posture (SCALE.md §Text analysis): corpus-scale work is ONE
shingle explode + distinct (the dedup family's own first stage);
everything after is signature-scale — |sources| × K rows. The pair
fan-out is quadratic in the SOURCE dimension, not the corpus (20
sources → 210 pairs here; thousands of sources → millions of pairs,
each a ≤ 2K-row merge — still nothing). The exact arm's
shared-shingle self-join fans out ≤ |sources|² rows per shingle
(bounded by the dimension, not the corpus) and exists to GRADE the
sketch; a production deployment at scale runs the signature arm
alone — that is the sketch's entire point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.dedup_common import (
    _shingle_sql,
    shingles,
)
from dist_map_reduce_spark.registry import query

KMV_K = 64  # signature size (bottom-k hashes per source)

_H_SQL = "('0x' || substring(md5('kmv:' || shingle), 1, 12))::BIGINT"


def kmv_hash_col() -> F.Column:
    """The signature hash: 12-hex md5 slice of 'kmv:'+shingle as a
    48-bit BIGINT. THE single definition — text_theta (set algebra
    over the same signatures) imports this, so the two modules
    cannot drift apart (r15 review)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("kmv:"), F.col("shingle")).cast("binary")
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h")
    )


def source_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct shingle sets — the ONE corpus-scale
    subtree, persisted under the slot BOTH kmv and theta read
    (source-as-doc_id aliasing reuses the dedup family's proven
    shingle expression unchanged)."""
    return get_or_build(
        spark,
        "kmv_source_shingles",
        sf_dir,
        lambda: shingles(
            load_table(spark, sf_dir, "documents").select(
                F.col("source").alias("doc_id"), "text"
            )
        )
        .distinct()
        .select(F.col("doc_id").alias("source"), "shingle"),
    )


def signatures(ss: DataFrame, key: str | None = None) -> DataFrame:
    """(source, h): each source's bottom-K hash signature. The build
    is corpus-scale (distinct over every source shingle hash) and the
    result is |sources|·K rows, consumed by BOTH membership arms of
    merged_signature_flags in BOTH the kmv and theta queries — with a
    ``key`` (the fixture dir) it is persisted once per corpus
    (r16, guide §2.4: 4+ duplicate corpus-scale subtrees otherwise)."""

    def build() -> DataFrame:
        dh = ss.select("source", kmv_hash_col()).distinct()
        return (
            dh.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("source").orderBy("h")
                ),
            )
            .filter(F.col("rn") <= KMV_K)
            .select("source", "h")
        )

    return get_or_build(ss.sparkSession, "kmv_signatures", key, build)


def source_sizes(ss: DataFrame, key: str | None = None) -> DataFrame:
    """(source, n): distinct-shingle count per source — consumed by
    both sides of the pair grid per query; persisted (≤ |sources|
    rows) when ``key`` is given."""
    return get_or_build(
        ss.sparkSession,
        "kmv_source_sizes",
        key,
        lambda: ss.groupBy("source").agg(F.count("*").alias("n")),
    )


def source_pairs(sizes: DataFrame) -> DataFrame:
    """(source_a, n_a, source_b, n_b) for a <= b: quadratic in the
    bounded SOURCE dimension (broadcast non-equi join), never the
    corpus."""
    return sizes.select(
        F.col("source").alias("source_a"), F.col("n").alias("n_a")
    ).join(
        F.broadcast(
            sizes.select(
                F.col("source").alias("source_b"), F.col("n").alias("n_b")
            )
        ),
        F.col("source_a") <= F.col("source_b"),
    )


def exact_intersections(ss: DataFrame, key: str | None = None) -> DataFrame:
    """(source_a, source_b, n_inter): the exact grading arm's
    shared-shingle self-join — the intended corpus-scale exchange.
    Output is |sources|²-bounded; with ``key`` it is persisted so the
    kmv and theta queries (and repeat invocations) pay the self-join
    once per corpus."""

    def build() -> DataFrame:
        return (
            ss.select(F.col("source").alias("source_a"), "shingle")
            .join(
                ss.select(F.col("source").alias("source_b"), "shingle"),
                "shingle",
            )
            .filter(F.col("source_a") <= F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count("*").alias("n_inter"))
        )

    return get_or_build(ss.sparkSession, "kmv_exact_inter", key, build)


def merged_signature_flags(
    pair_keys: DataFrame, sig: DataFrame
) -> DataFrame:
    """(source_a, source_b, h, in_a, in_b): the union of the two
    signatures per pair with membership flags — the input both the
    Jaccard estimator and theta's set-operation estimators rank."""
    ha = pair_keys.join(
        sig.select(F.col("source").alias("source_a"), "h"), "source_a"
    ).select(
        "source_a", "source_b", "h",
        F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
    )
    hb = pair_keys.join(
        sig.select(F.col("source").alias("source_b"), "h"), "source_b"
    ).select(
        "source_a", "source_b", "h",
        F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
    )
    return (
        ha.unionByName(hb)
        .groupBy("source_a", "source_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )



@query(
    "text_kmv_source_jaccard",
    oracle=f"""
    WITH ss AS (
      SELECT DISTINCT doc_id AS source, shingle
      FROM ({_shingle_sql("(SELECT source AS doc_id, text FROM documents)")})
    ),
    dh AS (SELECT DISTINCT source, {_H_SQL} AS h FROM ss),
    sig AS (
      SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM dh
      ) WHERE rn <= {KMV_K}
    ),
    sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, a.n AS n_a,
             b.source AS source_b, b.n AS n_b
      FROM sizes a JOIN sizes b ON a.source <= b.source
    ),
    inter AS (
      SELECT x.source AS source_a, y.source AS source_b,
             count(*) AS n_inter
      FROM ss x JOIN ss y
        ON x.shingle = y.shingle AND x.source <= y.source
      GROUP BY 1, 2
    ),
    merged AS (
      SELECT source_a, source_b, h,
             max(in_a) AS in_a, max(in_b) AS in_b
      FROM (
        SELECT p.source_a, p.source_b, s.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sig s ON s.source = p.source_a
        UNION ALL
        SELECT p.source_a, p.source_b, s.h, 0 AS in_a, 1 AS in_b
        FROM pairs p JOIN sig s ON s.source = p.source_b
      ) GROUP BY 1, 2, 3
    ),
    kmv AS (
      SELECT source_a, source_b,
             round(sum(CASE WHEN in_a = 1 AND in_b = 1
                            THEN 1 ELSE 0 END) * 1.0
                   / count(*), 6) AS kmv_jacc
      FROM (
        SELECT source_a, source_b, in_a, in_b,
               row_number() OVER (
                 PARTITION BY source_a, source_b ORDER BY h
               ) AS rn
        FROM merged
      ) WHERE rn <= {KMV_K}
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           coalesce(i.n_inter, 0) AS n_inter,
           p.n_a + p.n_b - coalesce(i.n_inter, 0) AS n_union,
           round(coalesce(i.n_inter, 0) * 1.0
                 / (p.n_a + p.n_b - coalesce(i.n_inter, 0)), 6)
             AS exact_jacc,
           k.kmv_jacc
    FROM pairs p
    LEFT JOIN inter i
      ON i.source_a = p.source_a AND i.source_b = p.source_b
    JOIN kmv k
      ON k.source_a = p.source_a AND k.source_b = p.source_b
    """,
)
def text_kmv_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source_a, source_b, n_inter, n_union, exact_jacc, kmv_jacc)
    for every unordered source pair incl. self-pairs: exact
    shingle-set Jaccard next to the K=64 bottom-k sketch estimate —
    parity pins both arms, so the estimate's error on this corpus is
    itself certified."""
    ss = source_shingles(spark, sf_dir)
    sig = signatures(ss, key=sf_dir)
    sizes = source_sizes(ss, key=sf_dir)
    pairs = source_pairs(sizes)
    inter = exact_intersections(ss, key=sf_dir)
    merged = merged_signature_flags(
        pairs.select("source_a", "source_b"), sig
    )
    kmv = (
        merged.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source_a", "source_b").orderBy("h")
            ),
        )
        .filter(F.col("rn") <= KMV_K)
        .groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        (F.col("in_a") == 1) & (F.col("in_b") == 1), 1
                    ).otherwise(0)
                )
                / F.count("*"),
                6,
            ).alias("kmv_jacc")
        )
    )
    n_inter = F.coalesce(F.col("n_inter"), F.lit(0).cast("bigint"))
    return (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .join(kmv, ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            n_inter.alias("n_inter"),
            (F.col("n_a") + F.col("n_b") - n_inter).alias("n_union"),
            F.round(
                n_inter / (F.col("n_a") + F.col("n_b") - n_inter), 6
            ).alias("exact_jacc"),
            "kmv_jacc",
        )
    )
