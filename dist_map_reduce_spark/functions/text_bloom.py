"""Bloom-filter decontamination pre-filter.

Winnowing decontamination (functions/text_winnow.py) is the exact
substring-level pass; at 100 TB nobody runs it against every train
document — the standard pipeline puts a BLOOM FILTER over the eval
set's fingerprints in front, so the expensive pass only sees the
(tiny) maybe-contaminated slice. This module certifies that
pre-filter: a k=3, m=8·n-bit Bloom filter over the eval split's
exact text fingerprints, probed by every train document. Output is
(doc_id, bloom_hit, exact_member) per train doc, so the certified
surface includes the filter's defining contract — ``bloom_hit`` is
TRUE for every ``exact_member`` (zero false negatives, by parity
with the oracle's independent re-derivation) while the false
positives (bloom_hit ∧ ¬exact_member) stay visible and countable.
m = 8 bits/member with k=3 is DELIBERATELY small (~3% FP rate) so
the fixture corpus produces real false positives at every scale —
a filter sized to never collide would certify nothing.

Split convention matches text_winnow_decontaminate: source 'src0'
is the eval benchmark, everything else is train — and like that
query, contamination is PLANTED (every 50th train doc takes the
first eval doc's verbatim text) so the no-false-negative side of
the contract is certified on real member rows, never vacuously.

Determinism / portability: fingerprints are md5(text); bit positions
are md5-slice BIGINTs mod m (the dedup_common idiom — bit-identical
in Spark and DuckDB); m itself is an integer 1-row aggregate riding
the sanctioned scalar crossJoin, so the plan is self-contained (no
driver-side count job).

Scale posture (SCALE.md §Text analysis): the eval side is
benchmark-sized — its fingerprint set and its ≤ 3·n-row bit table
both broadcast; the train side is one corpus scan projected to
(doc_id, fp), fanned to k=3 bit rows by a Generate-free union of
narrow selects, then one broadcast join per side (bit membership,
exact membership) and a 2-key aggregate. No corpus-scale shuffle at
all beyond the per-doc aggregate of its own 3 bits.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import persist_tracked
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

BLOOM_K = 3  # hash rows
BITS_PER_MEMBER = 8  # m = 8·n — deliberately collision-prone (see above)
_EVAL_SOURCE = "src0"


def _bit(fp: F.Column, seed: int, m_bits: F.Column) -> F.Column:
    """Bloom bit position of fingerprint ``fp`` under hash row
    ``seed``: first 8 hex chars of md5('bloom<seed>:' + fp) as
    BIGINT, mod m — non-negative, so ``%`` agrees across engines."""
    digest = F.md5(F.concat(F.lit(f"bloom{seed}:"), fp).cast("binary"))
    return (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("bigint") % m_bits
    )


def _bit_sql(fp_expr: str, seed: int) -> str:
    return (
        f"('0x' || substring(md5('bloom{seed}:' || {fp_expr}), 1, 8))"
        f"::BIGINT % m_bits"
    )


@query(
    "text_bloom_decontaminate",
    oracle=f"""
    WITH mem AS (
      SELECT DISTINCT md5(text) AS fp FROM documents
      WHERE source = '{_EVAL_SOURCE}'
    ),
    -- greatest(,1): an empty eval split must degrade (every bit
    -- misses, zero flags), not divide by zero (ADVICE r14)
    scal AS (
      SELECT greatest({BITS_PER_MEMBER} * count(*), 1) AS m_bits FROM mem
    ),
    mem_bits AS (
      SELECT DISTINCT bit FROM (
        {" UNION ALL ".join(
            f"SELECT {_bit_sql('fp', s)} AS bit FROM mem, scal"
            for s in range(BLOOM_K)
        )}
      )
    ),
    plant AS (
      SELECT text AS plant_text FROM documents
      WHERE source = '{_EVAL_SOURCE}' ORDER BY doc_id LIMIT 1
    ),
    train AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 50 = 0 THEN plant_text
                      ELSE text END) AS fp
      FROM documents, plant
      WHERE source <> '{_EVAL_SOURCE}'
    ),
    -- NO distinct: a doc whose seeds collide onto one bit carries
    -- duplicate rows, but each matches the (distinct) mem_bits at
    -- most once, so "n_set = n_bits" is unchanged — and dropping it
    -- saves a corpus-scale shuffle
    tbits AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, fp, {_bit_sql('fp', s)} AS bit"
          f" FROM train, scal"
          for s in range(BLOOM_K)
      )}
    ),
    hits AS (
      SELECT t.doc_id, t.fp,
             count(*) AS n_bits,
             count(mb.bit) AS n_set
      FROM tbits t LEFT JOIN mem_bits mb ON t.bit = mb.bit
      GROUP BY t.doc_id, t.fp
    )
    SELECT h.doc_id,
           (h.n_set = h.n_bits) AS bloom_hit,
           (m.fp IS NOT NULL) AS exact_member
    FROM hits h
    LEFT JOIN mem m ON h.fp = m.fp
    """,
)
def text_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bloom_hit, exact_member) per train (non-src0) doc:
    bloom_hit = all k=3 of the doc's fingerprint bits are set in the
    m=8·n-bit filter built over the src0 eval split's fingerprints;
    exact_member = the fingerprint is verbatim in the eval set. The
    oracle re-derives both flags relationally, so parity certifies
    the no-false-negative contract and pins the exact false-positive
    set the md5 construction produces."""
    docs = load_table(spark, sf_dir, "documents")
    # eval side: benchmark-sized; persisted because the scalar, the
    # bit table and the exact-membership join all hang off it
    mem = persist_tracked(
        docs.filter(F.col("source") == _EVAL_SOURCE)
        .select(F.md5(F.col("text").cast("binary")).alias("fp"))
        .distinct(),
        "bloom_mem_fps",
        sf_dir,
    )
    # greatest(,1) mirrors the oracle: with an empty eval split the
    # modulus stays legal and the filter simply matches nothing
    # (Spark's % 0 yields NULL buckets, DuckDB's % 0 errors —
    # both replaced by a graceful zero-flag degrade; ADVICE r14)
    scal = mem.agg(
        F.greatest(
            F.lit(BITS_PER_MEMBER) * F.count("*"), F.lit(1).cast("bigint")
        ).alias("m_bits")
    )
    mem_s = mem.crossJoin(F.broadcast(scal))
    mem_bits = (
        reduce(
            DataFrame.unionAll,
            [
                mem_s.select(_bit(F.col("fp"), s, F.col("m_bits")).alias("bit"))
                for s in range(BLOOM_K)
            ],
        )
        .distinct()
    )
    # plant verbatim contamination (the winnow-decontaminate move):
    # every 50th train doc takes the first eval doc's text, so
    # exact_member is non-vacuous and the no-false-negative contract
    # is certified on real rows, not an empty set. 1-row broadcast
    # (TakeOrderedAndProject), the sanctioned scalar pattern.
    plant = (
        docs.filter(F.col("source") == _EVAL_SOURCE)
        .orderBy("doc_id")
        .limit(1)
        .select(F.col("text").alias("plant_text"))
    )
    # train side: one corpus scan projected to (doc_id, fp),
    # persisted for the bit fan-out (3 branches) + the final joins
    train = persist_tracked(
        docs.filter(F.col("source") != _EVAL_SOURCE)
        .crossJoin(F.broadcast(plant))
        .select(
            "doc_id",
            F.md5(
                F.when(
                    F.col("doc_id") % 50 == 0, F.col("plant_text")
                )
                .otherwise(F.col("text"))
                .cast("binary")
            ).alias("fp"),
        ),
        "bloom_train_fps",
        sf_dir,
    )
    # fp rides along the bit fan-out (functionally dependent on
    # doc_id), so the per-doc aggregate keeps it and the exact-
    # membership join hangs directly off the aggregate — NO
    # corpus-corpus join back to `train` exists anywhere: the only
    # corpus-scale exchange is this one groupBy
    # no distinct on the fan-out (mirrors the oracle's tbits note):
    # intra-doc bit collisions leave duplicate rows that each match
    # the distinct mem_bits at most once, so the all-bits-set test is
    # unchanged and a corpus-scale shuffle disappears
    train_s = train.crossJoin(F.broadcast(scal))
    tbits = reduce(
        DataFrame.unionAll,
        [
            train_s.select(
                "doc_id",
                "fp",
                _bit(F.col("fp"), s, F.col("m_bits")).alias("bit"),
            )
            for s in range(BLOOM_K)
        ],
    )
    hits = (
        tbits.join(
            F.broadcast(mem_bits.withColumn("set_", F.lit(1))),
            "bit",
            "left",
        )
        .groupBy("doc_id", "fp")
        .agg(
            F.count("*").alias("n_bits"),
            F.count("set_").alias("n_set"),
        )
    )
    return (
        hits.join(
            F.broadcast(mem.withColumn("member_", F.lit(1))),
            "fp",
            "left",
        )
        .select(
            "doc_id",
            (F.col("n_set") == F.col("n_bits")).alias("bloom_hit"),
            F.col("member_").isNotNull().alias("exact_member"),
        )
    )
