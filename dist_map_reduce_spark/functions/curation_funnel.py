"""End-to-end training-data curation funnel.

Every operator a pretraining-data pipeline runs between "raw crawl"
and "training shards" exists in this engine as an individually
oracle-checked query; this module composes them into the pipeline
users actually run and reports the funnel — per stage, how many
documents and tokens survive:

  0 corpus            — the raw documents table
  1 exact_dedup       — keeper per content hash (dedup_exact_docs)
  2 neardup_minhash   — 'keep' rows of dedup_keep_drop_list (MinHash
                        LSH candidates → connected components →
                        longest-text canonical)
  3 semdedup          — 'keep' rows of semdedup_prune_list (k-means
                        cells → per-cell cosine prune) where the
                        embeddings table is doc-aligned; an explicit
                        LOGGED no-op (every doc passes) where it is
                        not — see the alignment note below
  4 quality_logreg    — the fixed quality model's keep decision
  5 decontaminate     — drop the eval source entirely AND train docs
                        with ≥ threshold eval-shingle overlap
                        (decontaminate_against_eval)
  6 source_cap        — the per-domain cap (per_source_doc_cap
                        semantics: largest first, CAP per source)
                        applied to the SURVIVORS
  7 aes_sample        — Efraimidis–Spirakis weighted sample of K
                        documents from the capped survivors
                        (token-count weights, deterministic
                        salted-md5 clocks — the weighted_sample_aes
                        formula)

Composition semantics (the Dolma/RedPajama shape): stages 1–5 are
per-document FACTS computed corpus-wide by the existing registered
queries — dedup clusters, semantic prune lists, quality logits,
contamination flags are independent of the cascade — and the funnel
applies them as a conjunctive cascade in the order above. Stages
6–7 are SELECTIONS
and run survivor-relative: a corpus-global cap keep-list intersected
with the cascade can empty the funnel when earlier stages drop
exactly the large documents the global cap chose (observed at
sf0.1, where decontamination keeps only short documents), and a
sample must be drawn from what is actually left.
SemDeDup alignment (VERDICT r9 #4): the embeddings table stops being
doc-aligned above sf0.01 (2 000 vectors vs 5 000 docs at sf0.1), so
the semantic stage keys on an explicit alignment predicate — every
document has a vector (count(documents ⋈ embeddings) ==
count(documents)). Aligned: the stage applies semdedup_prune_list's
keep decisions. Not aligned: the stage passes every document AND
logs a warning — a visible no-op, never a silent one — and the
oracle evaluates the SAME predicate in SQL, so the two engines
no-op (or bite) in lockstep at every scale factor. The two counts
are 1-row scalar aggregates (the quality_model bounded-collect
class), not data-path collects.

Oracle: the DuckDB side re-derives every stage from scratch — the
near-dup stage alone re-runs the full MinHash → banding → capped
candidate pairs → recursive-CTE connected components chain — so the
funnel's value hash certifies the COMPOSITION, not just the parts
(the ann_recall discipline, an order of magnitude bigger).

Fixture honesty note: on the synthetic word-soup corpus the quality
stage is a near-no-op (the fixed model passes everything) and exact
dedup bites only at sf0.1; their LOGIC is still covered by their own
registered oracles, and the funnel's bite comes from the near-dup,
decontamination, cap, and sample stages.

Scale shape: one wide left-join pass decorating the corpus with five
boolean flags (each flag side is a reduced keep-list, hash-joined on
doc_id), persisted once (slot cache); all six cascade counts are
conditional aggregates over that single cached table, and the sample
is one TakeOrderedAndProject over the cascade filter. Nothing in the
funnel adds a shuffle beyond what its component queries already
proved out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table

# importing the component modules registers the queries and oracle
# SQL the funnel composes
from dist_map_reduce_spark.functions import (  # noqa: F401
    clustering,
    curation,
    dedup,
    quality_model,
    semdedup,
)
from dist_map_reduce_spark.functions.curation_ext import CAP
from dist_map_reduce_spark.registry import ORACLES, QUERIES, query

SAMPLE_K = 100  # final-stage A-ES sample size (= weighted_sample_aes)
_POW32 = float(2**32)


_STAGES = (
    "corpus",
    "exact_dedup",
    "neardup_minhash",
    "semdedup",
    "quality_logreg",
    "decontaminate",
    "source_cap",
    "aes_sample",
)


_ORACLE = f"""
    WITH ex AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    nd AS (
      SELECT doc_id FROM ({ORACLES["dedup_keep_drop_list"]}) nd_t
      WHERE action = 'keep'
    ),
    -- SemDeDup stage gated on doc-alignment: every document has a
    -- vector, or the stage passes everyone (same predicate the
    -- engine evaluates — see funnel_flags)
    sd_aligned AS (
      SELECT (SELECT count(*) FROM documents d
              JOIN embeddings e ON e.vec_id = d.doc_id)
           = (SELECT count(*) FROM documents) AS ok
    ),
    sd AS (
      SELECT vec_id AS doc_id FROM ({ORACLES["semdedup_prune_list"]}) sd_t
      WHERE action = 'keep'
    ),
    ql AS (
      SELECT doc_id FROM ({ORACLES["quality_logreg_scores"]}) ql_t
      WHERE keep
    ),
    dc AS (
      SELECT doc_id FROM ({ORACLES["decontaminate_against_eval"]}) dc_t
      WHERE NOT contaminated
    ),
    flags AS (
      SELECT d.doc_id, d.source, d.n_chars,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks,
             ex.doc_id IS NOT NULL AS f1,
             nd.doc_id IS NOT NULL AS f2,
             CASE WHEN (SELECT ok FROM sd_aligned)
                  THEN sd.doc_id IS NOT NULL ELSE TRUE END AS f3,
             ql.doc_id IS NOT NULL AS f4,
             dc.doc_id IS NOT NULL AS f5,
             -ln((('0x' || substring(md5('aes:' || CAST(d.doc_id AS VARCHAR)),
                                     1, 8))::BIGINT + 1) / {_POW32})
               / len(string_split(d.text, ' ')) + 0.0 AS raw_clock
      FROM documents d
      LEFT JOIN ex ON ex.doc_id = d.doc_id
      LEFT JOIN nd ON nd.doc_id = d.doc_id
      LEFT JOIN sd ON sd.doc_id = d.doc_id
      LEFT JOIN ql ON ql.doc_id = d.doc_id
      LEFT JOIN dc ON dc.doc_id = d.doc_id
    ),
    capped AS (
      SELECT doc_id, toks, raw_clock FROM (
        SELECT doc_id, toks, raw_clock,
               row_number() OVER (
                 PARTITION BY source ORDER BY n_chars DESC, doc_id
               ) AS rk
        FROM flags WHERE f1 AND f2 AND f3 AND f4 AND f5
      ) r WHERE rk <= {CAP}
    )
    SELECT 0 AS stage_no, 'corpus' AS stage,
           count(*) AS docs_out,
           CAST(coalesce(sum(toks), 0) AS BIGINT) AS tokens_out
    FROM flags
    UNION ALL
    SELECT 1, 'exact_dedup', count(*) FILTER (WHERE f1),
           CAST(coalesce(sum(toks) FILTER (WHERE f1), 0) AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 2, 'neardup_minhash', count(*) FILTER (WHERE f1 AND f2),
           CAST(coalesce(sum(toks) FILTER (WHERE f1 AND f2), 0) AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 3, 'semdedup', count(*) FILTER (WHERE f1 AND f2 AND f3),
           CAST(coalesce(sum(toks) FILTER (WHERE f1 AND f2 AND f3), 0)
                AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 4, 'quality_logreg',
           count(*) FILTER (WHERE f1 AND f2 AND f3 AND f4),
           CAST(coalesce(sum(toks) FILTER (WHERE f1 AND f2 AND f3 AND f4),
                         0) AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 5, 'decontaminate',
           count(*) FILTER (WHERE f1 AND f2 AND f3 AND f4 AND f5),
           CAST(coalesce(sum(toks)
                         FILTER (WHERE f1 AND f2 AND f3 AND f4 AND f5),
                         0) AS BIGINT)
    FROM flags
    UNION ALL
    SELECT 6, 'source_cap', count(*),
           CAST(coalesce(sum(toks), 0) AS BIGINT)
    FROM capped
    UNION ALL
    SELECT 7, 'aes_sample', count(*),
           CAST(coalesce(sum(toks), 0) AS BIGINT)
    FROM (
      SELECT toks FROM capped
      ORDER BY raw_clock ASC, doc_id ASC
      LIMIT {SAMPLE_K}
    ) s
    """


def funnel_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_chars, toks, f1..f5, raw_clock): the corpus
    decorated with every per-doc stage fact — the single table all
    funnel counts read. The cap and sample stages are selections
    over survivors, not per-doc facts, so they live in the funnel
    body, not here."""
    import logging

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        ex = QUERIES["dedup_exact_docs"](spark, sf_dir).select(
            F.col("keep_id").alias("doc_id"), F.lit(True).alias("f1")
        )
        nd = (
            QUERIES["dedup_keep_drop_list"](spark, sf_dir)
            .filter(F.col("action") == "keep")
            .select("doc_id", F.lit(True).alias("f2"))
        )
        # SemDeDup stage, gated on doc-alignment (two 1-row scalar
        # aggregates — the quality_model bounded-collect class). The
        # oracle evaluates the identical predicate in SQL, so both
        # engines no-op (or bite) in lockstep.
        emb_ids = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id")
        )
        n_docs = docs.count()
        n_aligned = docs.select("doc_id").join(emb_ids, "doc_id").count()
        if n_aligned == n_docs:
            sd = (
                QUERIES["semdedup_prune_list"](spark, sf_dir)
                .filter(F.col("action") == "keep")
                .select(
                    F.col("vec_id").alias("doc_id"), F.lit(True).alias("f3")
                )
            )
        else:
            logging.getLogger(__name__).warning(
                "curation_funnel: embeddings not doc-aligned at %s "
                "(%d of %d documents have a vector) — SemDeDup stage is "
                "an explicit no-op (every document passes)",
                sf_dir,
                n_aligned,
                n_docs,
            )
            sd = docs.select("doc_id", F.lit(True).alias("f3"))
        ql = (
            QUERIES["quality_logreg_scores"](spark, sf_dir)
            .filter(F.col("keep"))
            .select("doc_id", F.lit(True).alias("f4"))
        )
        dc = (
            QUERIES["decontaminate_against_eval"](spark, sf_dir)
            .filter(~F.col("contaminated"))
            .select("doc_id", F.lit(True).alias("f5"))
        )
        toks = F.size(F.split("text", " ")).cast("bigint")
        m = F.conv(
            F.substring(
                F.md5(F.concat(F.lit("aes:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        clock = (
            -F.log((m + F.lit(1)).cast("double") / F.lit(_POW32))
            / toks.cast("double")
            + F.lit(0.0)
        )
        base = docs.select(
            "doc_id",
            "source",
            "n_chars",
            toks.alias("toks"),
            clock.alias("raw_clock"),
        )
        return (
            base.join(ex, "doc_id", "left")
            .join(nd, "doc_id", "left")
            .join(sd, "doc_id", "left")
            .join(ql, "doc_id", "left")
            .join(dc, "doc_id", "left")
            .select(
                "doc_id",
                "source",
                "n_chars",
                "toks",
                *[
                    F.coalesce(f"f{i}", F.lit(False)).alias(f"f{i}")
                    for i in range(1, 6)
                ],
                "raw_clock",
            )
        )

    return get_or_build(spark, "curation_funnel_flags", sf_dir, build)


def capped_survivors(flags: DataFrame) -> DataFrame:
    """Stage-5 selection: the per-source cap applied to the stage-4
    SURVIVORS (largest first, doc_id tie-break). Survivor-relative,
    like the sample — a global cap keep-list intersected with the
    cascade can empty the funnel when earlier stages drop exactly
    the large documents a corpus-global cap would have chosen
    (observed at sf0.1: decontamination keeps only short docs)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        flags.filter(
            F.col("f1")
            & F.col("f2")
            & F.col("f3")
            & F.col("f4")
            & F.col("f5")
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= CAP)
        .drop("rk")
    )


def export_curated_corpus(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """The last mile: run the cascade (stages 1-6 — the sample stage
    is a budgeting device, not an export filter), join the survivors
    back to their text, and write deterministic training shards
    (shard_export.write_training_shards: salted-md5 shuffle order,
    sorted one-file-per-shard parquet). Returns the re-read shard
    manifest aggregate so callers can assert the export against the
    funnel's own counts — the sources_sinks round-trip discipline
    applied to the whole pipeline."""
    from dist_map_reduce_spark.functions.shard_export import (
        write_training_shards,
    )

    flags = funnel_flags(spark, sf_dir)
    survivors = capped_survivors(flags).select("doc_id")
    docs = load_table(spark, sf_dir, "documents").join(
        survivors, "doc_id"
    )
    write_training_shards(docs.select("doc_id", "text"), out_dir)
    # explicit schema: a fully-emptied cascade writes ZERO part files
    # (legitimate — see the survivor-relative cap note), and a
    # schema-less parquet read of an empty directory throws instead
    # of returning the (0, 0, 0) manifest row
    back = spark.read.schema(
        "doc_id long, text string, sort_key string, shard int"
    ).parquet(out_dir)
    return back.groupBy().agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
        F.countDistinct("shard").cast("bigint").alias("n_shards"),
    )


@query("curation_funnel", oracle=_ORACLE)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage_no, stage, docs_out, tokens_out): the curation cascade
    funnel — seven conditional aggregates plus one survivor-relative
    top-K sample, all over the single cached flags table."""
    flags = funnel_flags(spark, sf_dir)
    rows = None
    cond = None
    for i, stage in enumerate(_STAGES[:6]):
        cond = (
            F.lit(True)
            if i == 0
            else (cond & F.col(f"f{i}"))
        )
        row = flags.agg(
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(
                "docs_out"
            ),
            F.sum(F.when(cond, F.col("toks")).otherwise(0))
            .cast("bigint")
            .alias("tokens_out"),
        ).select(
            F.lit(i).cast("bigint").alias("stage_no"),
            F.lit(stage).alias("stage"),
            "docs_out",
            "tokens_out",
        )
        rows = row if rows is None else rows.unionAll(row)
    capped = capped_survivors(flags)

    def _sel_row(df: DataFrame, no: int, stage: str) -> DataFrame:
        # coalesce: sum over an EMPTY selection is NULL in both
        # engines' SQL semantics; the funnel reports 0 tokens
        return df.agg(
            F.count("*").cast("bigint").alias("docs_out"),
            F.coalesce(F.sum("toks"), F.lit(0))
            .cast("bigint")
            .alias("tokens_out"),
        ).select(
            F.lit(no).cast("bigint").alias("stage_no"),
            F.lit(stage).alias("stage"),
            "docs_out",
            "tokens_out",
        )

    sample = capped.orderBy(
        F.col("raw_clock").asc(), F.col("doc_id").asc()
    ).limit(SAMPLE_K)
    return rows.unionAll(_sel_row(capped, 6, "source_cap")).unionAll(
        _sel_row(sample, 7, "aes_sample")
    )
