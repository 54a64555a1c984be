"""Shared dedup primitives: the hot-key cap, pair generation and the
minhash oracle-SQL builders used by ``dedup`` and its sibling modules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Drop join keys shared by more than this many documents (see
# functions/dedup.py module docstring; normative cap-policy table:
# SCALE.md §"Cap policy"). Far above anything in the fixtures (max
# shingle DF at sf0.01 is 7) and far below a 100 TB hot key.
MAX_KEY_DOCS = 100


def shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) with distinct k-word shingles per document —
    ``shingle_array`` exploded (one expression source of truth;
    explode_OUTER so the inferred-filter inlining cannot bite under
    foreign sessions, see SCALE.md §Session defaults; the array is
    never empty — short docs fall back to array(text))."""
    return docs.select(
        "doc_id", "text", F.split("text", " ").alias("ws")
    ).select("doc_id", F.explode_outer(shingle_array(k)).alias("shingle"))


def _shingle_sql(source: str = "documents") -> str:
    """The shingle CTE over any (doc_id, text) relation — ``source``
    is a table name or a parenthesizable subquery (the post-compaction
    flag oracle probes a PERTURBED documents derivation, so the band
    SQL must not hardwire the base table)."""
    return f"""
    SELECT doc_id, unnest(list_distinct(sh)) AS shingle
    FROM (
      SELECT doc_id,
             CASE WHEN len(ws) >= 3 THEN
               [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                FOR i IN generate_series(1, len(ws) - 2)]
             ELSE [text] END AS sh
      FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
            FROM {source})
    )
"""


_SHINGLE_SQL = _shingle_sql()


N_HASHES = 16  # minhash signature length
N_BANDS = 4    # bands of r = N_HASHES / N_BANDS rows each
_R = N_HASHES // N_BANDS

# Each md5 digest (32 hex chars) is sliced into 4 independent 32-bit
# (8-hex) hash values, so 16 minhashes cost 4 md5 evaluations per
# shingle instead of 16 — the standard slice-a-wide-hash trick.
_N_SALTS = (N_HASHES + 3) // 4


def _slice(j: int) -> tuple[int, int]:
    """hash j → (salt index, 1-based hex offset of its 8-hex slice)."""
    return j // 4, 1 + 8 * (j % 4)


def shingle_array(k: int = 3) -> F.Column:
    """Distinct k-word shingle array per doc — THE shingling
    expression (``shingles`` is its explode). Expects ``text`` and a
    ``ws`` column projected ONCE (split inside the lambda would
    re-tokenize per element, O(words²))."""
    idx = " , ".join(f"ws[i - {k - 1 - j}]" for j in range(k))
    return F.expr(
        f"""
        CASE WHEN size(ws) >= {k} THEN
          array_distinct(transform(sequence({k - 1}, size(ws) - 1),
                                   i -> concat_ws(' ', {idx})))
        ELSE array(text) END
        """
    )


def band_md5(b: int) -> F.Column:
    """Band key of band ``b``: md5 over the ':'-joined decimal
    minhashes of the band's rows, from a signature table's h0..hN
    columns — the ONE band-key definition shared by the batch wide
    table (dedup._banded_wide) and the streaming row-wise banding
    (ingest_dedup.minhash_bands_rowwise); a drift here would silently
    diverge the batch and streaming band indexes."""
    parts = [F.col(f"h{b * _R + i}").cast("string") for i in range(_R)]
    return F.md5(F.concat_ws(":", *parts).cast("binary"))


def minhash_sig_rowwise(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h{N_HASHES-1}) minhash signature with ZERO
    shuffles: the shingle set stays an array column, salted md5s per
    shingle via ``transform``, each minhash an ``array_min`` over a
    32-bit slice — all row-local, whole-stage-codegen friendly, and
    bit-identical to the grouped groupBy-MIN arm
    (tests/test_ingest_dedup.py pins equality). This is the batch
    banding pipeline's signature stage too — the groupBy form only
    survives as the test reference. Memory shape: the shingle array
    lives in one row (~3× the text bytes), same order as the text
    column itself, so a document that fits in a row as text fits as
    its shingle array; local wall time is equal to the grouped arm
    at sf0.1 while dropping one full Exchange+HashAggregate stage
    from every LSH consumer."""

    # NB: the per-salt lambda must stay single-argument — a defaulted
    # second parameter (lambda g, s=s) makes PySpark pass the array
    # INDEX as s, silently corrupting the salt
    def _salted(s: int):
        prefix = f"s{s}:"
        return lambda g: F.md5(F.concat(F.lit(prefix), g).cast("binary"))

    sh = docs.select(
        "doc_id", "text", F.split("text", " ").alias("ws")
    ).select("doc_id", shingle_array().alias("sh"))
    salted = sh.select(
        "doc_id",
        *[
            F.transform("sh", _salted(s)).alias(f"m{s}")
            for s in range(_N_SALTS)
        ],
    )
    min_exprs = []
    for j in range(N_HASHES):
        s, off = _slice(j)
        min_exprs.append(
            F.expr(
                f"array_min(transform(m{s}, "
                f"x -> cast(conv(substring(x, {off}, 8), 16, 10) as bigint)))"
            ).alias(f"h{j}")
        )
    return salted.select("doc_id", *min_exprs)


def _minhash_sig_sql(source: str = "documents") -> str:
    mins = ", ".join(
        f"min(('0x' || substring(md5('s{_slice(j)[0]}:' || shingle),"
        f" {_slice(j)[1]}, 8))::BIGINT) AS h{j}"
        for j in range(N_HASHES)
    )
    return (
        f"SELECT doc_id, {mins} FROM ({_shingle_sql(source)}) "
        "GROUP BY doc_id"
    )


def _minhash_bands_sql(source: str = "documents") -> str:
    bands = ", ".join(
        "md5("
        + " || ':' || ".join(f"h{b * _R + i}::VARCHAR" for i in range(_R))
        + f") AS b{b}"
        for b in range(N_BANDS)
    )
    arms = " UNION ALL ".join(
        f"SELECT doc_id, '{b}' AS band_id, b{b} AS band_key FROM banded"
        for b in range(N_BANDS)
    )
    return (
        f"WITH sig AS ({_minhash_sig_sql(source)}), "
        f"banded AS (SELECT doc_id, {bands} FROM sig) {arms}"
    )


# Shared by minhash_band_candidates and the dedup_clusters /
# pagerank_dedup_graph oracles (functions/graph.py).
_CANDIDATE_PAIRS_SQL = f"""
    WITH bands AS ({_minhash_bands_sql()}),
    bsz AS (
      SELECT band_id, band_key, count(*) AS n_docs
      FROM bands GROUP BY band_id, band_key
    ),
    capped AS (
      SELECT b.doc_id, b.band_id, b.band_key
      FROM bands b JOIN bsz USING (band_id, band_key)
      WHERE bsz.n_docs <= {MAX_KEY_DOCS}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
"""


def _simhash_bit_sql(i: int) -> str:
    return (
        f"sum(CASE WHEN substring(md5(word), {i + 1}, 1) >= '8' "
        f"THEN 1 ELSE -1 END)"
    )


def _pairs_within_keys(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs of doc_ids sharing a key, with
    the hot-key cap applied BEFORE any per-key doc list materializes:
    a count window partitioned by the key prunes over-cap keys in the
    same exchange the posting-list groupBy then reuses — ONE shuffle
    total, and a hot key costs WindowExec disk spill, never an
    unbounded collect_list buffer. Pair generation is a per-key list
    self-product, so a shuffle of the input replaces a two-sided
    self-join shuffle."""
    grouped = (
        df.withColumn(
            "n_docs", F.count("*").over(Window.partitionBy(*key_cols))
        )
        .filter(F.col("n_docs") <= MAX_KEY_DOCS)
        .groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        # singleton keys produce no pairs — skip them BEFORE the
        # O(k²) pair expression (most keys are singletons, so this
        # removes the bulk of the explode input)
        .filter(F.size("ds") >= 2)
    )
    # sorted postings → emit only the (i < j) index pairs: exactly
    # k(k-1)/2 structs, not k² filtered down
    return (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ds) - 2), "
                    "i -> transform(sequence(i + 1, size(ds) - 1), "
                    "j -> struct(ds[i] AS doc_a, ds[j] AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
