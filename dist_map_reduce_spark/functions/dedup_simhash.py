"""SimHash banded near-duplicate candidates (Hamming ≤ 3).

Completes the SimHash arm of the dedup family (SURVEY.md §2.2 /
the LLM-pipeline dedup rubric): ``simhash16_fingerprints`` stops at
fingerprints; this module generates the candidate PAIRS, the way
production SimHash dedup actually runs (Manku et al., WWW'07 —
"Detecting near-duplicates for web crawling"):

- 32-bit fingerprint (one md5 hex-digit vote per bit — engine-neutral,
  so the full pipeline is oracle-checkable in DuckDB);
- split into 4 bands of 8 bits; by pigeonhole, ANY pair within
  Hamming distance 3 agrees exactly on ≥ 1 band, so a per-band
  equi-join finds every such pair without an O(n²) comparison;
- exact ``bit_count(xor)`` Hamming filter on the candidates.

Scale posture: band buckets are capped at ``dedup.MAX_KEY_DOCS``
docs BEFORE pair expansion (same one-exchange count-window policy,
SCALE.md §"Cap policy"). NOTE — unlike the MinHash/shingle caps,
this cap is ACTIVE on the fixtures: the synthetic corpus is word
soup over a ~31-word vocabulary, so fingerprints concentrate and
some 8-bit bands hold hundreds of docs (339 at sf0.001). That is
exactly the degenerate-cluster shape the cap exists for; the oracle
applies the identical cut, so parity verifies the CAPPED semantics
the engine would run at 100 TB, and the cap is exercised for real
rather than asserted a no-op.

Reference parity: the reference has no similarity ops at all (it is
a word-count MapReduce, src/worker/worker.go:270-288); this is part
of the engine's extended training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.dedup_common import (
    MAX_KEY_DOCS,
    _pairs_within_keys,
    _simhash_bit_sql,
)
from dist_map_reduce_spark.registry import query

N_BITS = 32
N_BANDS = 4
BAND_BITS = N_BITS // N_BANDS  # 8-bit bands -> Hamming<=3 guarantee
MAX_HAMMING = N_BANDS - 1


def simhash32(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash32): 32-bit fingerprint, one aggregation
    shuffle — each md5 hex digit of each token votes one bit. The
    digest is projected ONCE per token before the 32 vote sums
    reference it (explicit, rather than trusting codegen common-
    subexpression elimination across aggregate expressions)."""
    # r16: the digest's 32 hex digits are parsed ONCE per token into
    # three ≤60-bit integers and each bit vote is a shift+mask,
    # replacing 32 per-token substring+string-compare expressions.
    # Equivalence is exact: md5() emits lowercase hex, and
    # substring(h, i+1, 1) >= '8' holds for exactly {8..9, a..f} —
    # the nibble values with the high bit set — which is what
    # (chunk >> (4·pos + 3)) & 1 tests.
    tokens = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .select("doc_id", F.md5(F.col("word").cast("binary")).alias("h"))
        .select(
            "doc_id",
            F.conv(F.substring("h", 1, 15), 16, 10)
            .cast("bigint")
            .alias("c0"),  # hex digits 1..15
            F.conv(F.substring("h", 16, 15), 16, 10)
            .cast("bigint")
            .alias("c1"),  # hex digits 16..30
            F.conv(F.substring("h", 31, 2), 16, 10)
            .cast("bigint")
            .alias("c2"),  # hex digits 31..32
        )
    )

    def _vote(i: int) -> F.Column:
        j = i + 1  # 1-based hex-digit position, as substring used
        if j <= 15:
            chunk, shift = "c0", 4 * (15 - j) + 3
        elif j <= 30:
            chunk, shift = "c1", 4 * (30 - j) + 3
        else:
            chunk, shift = "c2", 4 * (32 - j) + 3
        bit = F.shiftright(F.col(chunk), shift).bitwiseAND(F.lit(1))
        return F.when(bit == 1, 1).otherwise(-1)

    votes = tokens.groupBy("doc_id").agg(
        *[F.sum(_vote(i)).alias(f"s{i}") for i in range(N_BITS)]
    )
    fp = None
    for i in range(N_BITS):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return votes.select("doc_id", fp.cast("long").alias("simhash32"))


_FP_SQL = f"""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    votes AS (
      SELECT doc_id,
             {", ".join(f"{_simhash_bit_sql(i)} AS s{i}" for i in range(N_BITS))}
      FROM tokens GROUP BY doc_id
    )
    SELECT doc_id,
           {" + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END)"
                       for i in range(N_BITS))}
             AS simhash32
    FROM votes
"""

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {i} AS band_id, "
    f"(simhash32 >> {BAND_BITS * i}) & {(1 << BAND_BITS) - 1} AS band_key "
    f"FROM fp"
    for i in range(N_BANDS)
)


@query(
    "simhash_hamming_neardup",
    oracle=f"""
    WITH fp AS ({_FP_SQL}),
    bands AS ({_BANDS_SQL}),
    bsz AS (
      SELECT band_id, band_key, count(*) AS n_docs
      FROM bands GROUP BY band_id, band_key
    ),
    capped AS (
      SELECT b.doc_id, b.band_id, b.band_key
      FROM bands b JOIN bsz USING (band_id, band_key)
      WHERE bsz.n_docs <= {MAX_KEY_DOCS}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(bit_count(xor(fa.simhash32, fb.simhash32)) AS BIGINT)
             AS hamming
    FROM pairs p
    JOIN fp fa ON fa.doc_id = p.doc_a
    JOIN fp fb ON fb.doc_id = p.doc_b
    WHERE bit_count(xor(fa.simhash32, fb.simhash32)) <= {MAX_HAMMING}
    """,
)
def simhash_hamming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within Hamming distance {MAX_HAMMING} of each
    other's 32-bit SimHash: banded candidate generation (no n² stage)
    + exact bit_count verification. Fingerprints are persisted once —
    they feed the band expansion AND both sides of the verify join."""
    docs = load_table(spark, sf_dir, "documents")
    fp = get_or_build(spark, "simhash32_fp", sf_dir, lambda: simhash32(docs))
    bands = None
    mask = (1 << BAND_BITS) - 1
    for i in range(N_BANDS):
        arm = fp.select(
            "doc_id",
            F.lit(i).alias("band_id"),
            F.expr(f"shiftright(simhash32, {BAND_BITS * i}) & {mask}").alias(
                "band_key"
            ),
        )
        bands = arm if bands is None else bands.unionByName(arm)
    pairs = _pairs_within_keys(bands, ["band_id", "band_key"])
    fa = fp.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash32").alias("fp_a")
    )
    fb = fp.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash32").alias("fp_b")
    )
    return (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn(
            "hamming",
            F.expr("bit_count(fp_a ^ fp_b)").cast("long"),
        )
        .filter(F.col("hamming") <= MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )
