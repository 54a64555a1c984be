"""Post-compaction near-dup pre-flagging — the production READ path
of the compacted ingestion band index (streaming/ingest_dedup.py).

``streaming_ingest_index_compaction`` certifies compaction's
ACCOUNTING (per-band raw row counts vs compacted key counts). Counts
are necessary but not sufficient: a compaction that swapped one band
key for another could keep every count identical while silently
changing which future arrivals get flagged. This query closes that
gap by certifying compaction's SEMANTICS end-to-end: it runs (or
reuses) the 3-wave replay, compacts a copy of the grown band index,
then pre-flags a deterministic PROBE delivery against the compacted
index — and the DuckDB oracle re-derives each probe's flag from the
raw relational state (corpus-seed bands plus every keeper's bands),
knowing nothing about compaction. Any band the compaction dropped or
invented flips some probe's flag and breaks the value hash.

The probe models the realistic hard case for an ingest pre-filter:
partial redeliveries. Each probe doc is the FIRST HALF (ceil(n/2)
words) of a fixture document — Jaccard ~0.5 against its source, so
band survival is genuinely data-dependent (a mixed true/false flag
column, not a degenerate all-true probe that an appended-token
perturbation would produce). Probe banding reuses the zero-shuffle
row-wise signature (``minhash_bands_rowwise`` — proven bit-identical
to the grouped arm), and the oracle reuses the proven band SQL over
the SAME halving expression (``_minhash_bands_sql(source=...)``).

Scale posture: probe bands are a projection (no shuffle), the flag
is one semi-join of 4·|probe| band rows against the compacted index
— a table of short strings orders of magnitude smaller than the
corpus that a production deployment would broadcast per delivery;
everything else is the compaction query's own posture (SCALE.md
§Streaming).

Reference parity: the reference engine has no streaming or index
surface (/root/reference/src/worker/worker.go:131-218); this belongs
to the training-data-pipeline extension surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.dedup_common import _minhash_bands_sql
from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.streaming.ingest_dedup import (
    ORACLE_CTES,
    compact_band_index,
    minhash_bands_rowwise,
    private_index_copy,
)

# first ceil(n/2) words of each fixture doc; single-word docs pass
# through whole (mirrors the shingle fallback's short-doc handling)
_PROBE_SQL = """
    SELECT doc_id,
           CASE WHEN len(ws) >= 2
                THEN array_to_string(ws[1:(len(ws) + 1) // 2], ' ')
                ELSE text END AS text
    FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
          FROM documents)
"""


def _probe_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine-side halving, expression-for-expression the oracle's
    ``_PROBE_SQL``: split on single spaces, keep the first
    (n + 1) div 2 words (DuckDB's ``//`` is integer division and its
    list slice is 1-based inclusive; Spark's ``slice`` takes a
    length, so both read "first ceil(n/2) elements")."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            F.when(
                F.size("ws") >= 2,
                F.array_join(
                    F.slice(
                        "ws", 1, F.expr("(size(ws) + 1) div 2")
                    ),
                    " ",
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )


@query(
    "streaming_postcompaction_neardup_flags",
    oracle=ORACLE_CTES
    + f"""
    -- the index's MEMBERSHIP state after the full run: corpus-seed
    -- bands plus every keeper's bands, as a SET (what compaction
    -- must preserve exactly)
    state AS (
      SELECT DISTINCT ab.band_id, ab.band_key
      FROM all_bands ab JOIN d USING (doc_id)
      WHERE d.bucket = 0
      UNION
      SELECT DISTINCT ab.band_id, ab.band_key
      FROM all_bands ab JOIN keeper k ON ab.doc_id = k.doc_id
    ),
    probe_bands AS ({_minhash_bands_sql(source=f"({_PROBE_SQL})")}),
    hits AS (
      SELECT DISTINCT pb.doc_id
      FROM probe_bands pb
      JOIN state s
        ON pb.band_id = s.band_id AND pb.band_key = s.band_key
    )
    SELECT p.doc_id, (h.doc_id IS NOT NULL) AS corpus_neardup
    FROM ({_PROBE_SQL}) p LEFT JOIN hits h USING (doc_id)
    """,
)
def streaming_postcompaction_neardup_flags(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, corpus_neardup): compact a private copy
    (``private_index_copy``) of the replay-grown band index, then
    pre-flag the half-document probe delivery against the COMPACTED
    index only. The flag join reads exclusively the compacted
    parquet, so the oracle match certifies that compaction preserved
    the band-membership SET, not just the per-band counts."""
    index_dir = os.path.join(
        private_index_copy(spark, sf_dir, "postcompact_flags_q"), "band_index"
    )
    compact_band_index(spark, index_dir)

    probes = _probe_docs(spark, sf_dir)
    probe_bands = minhash_bands_rowwise(probes).select(
        "doc_id", F.explode_outer("bands").alias("band")
    )
    index = spark.read.parquet(index_dir)
    hits = (
        probe_bands.join(index, "band", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return probes.select("doc_id").join(
        hits.withColumn("corpus_neardup", F.lit(True)),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("corpus_neardup", F.lit(False)).alias("corpus_neardup"),
    )
