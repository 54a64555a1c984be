"""Deduplication operators over the documents table.

The LLM-data-pipeline dedup stack (BASELINE.json north star):
  - exact dedup       : content-hash groupBy
  - MinHash + LSH     : shingle → minhash signature → banded buckets
                        → candidate pairs (near-dup at corpus scale)
  - SimHash           : bit-vote fingerprint (Hamming-style near-dup)
  - n-gram Jaccard    : exact set similarity on candidate pairs

Portability design: every hash is md5 (identical in Spark and
DuckDB), and MinHash minimizes the *lexicographic* md5 hex string —
engine-neutral, so the full LSH pipeline is oracle-checkable.

Scale posture (100 TB):
  - the only shuffles are the band-key / shared-shingle joins; no
    pairwise n² stage ever materializes (pairs are generated only
    within LSH buckets / shared shingles). Since r8 the signature
    stage itself is shuffle-FREE: dedup_common.minhash_sig_rowwise
    keeps the shingle set as an array column and takes each minhash
    as an array_min over a transform, so banding is a pure
    projection over the scan (the old exploded groupBy-MIN arm is
    kept only as the equivalence-test reference).
  - HOT-KEY CAPS: a degenerate band key (thousands of boilerplate
    near-identical docs) or a stop-shingle ("of the and" in every
    doc) makes one join key quadratic *within* the key — AQE's
    skew-split divides the shuffle blocks but not the pair
    explosion. Both self-joins therefore drop keys whose document
    frequency exceeds a cap (standard production-dedup practice;
    docs in an over-cap bucket are still covered by their other
    bands/shingles). The caps are mirrored in the DuckDB oracles,
    and tests/test_properties.py asserts the fixture corpora are
    unaffected by them.
  - persisted intermediates go through caching.persist_tracked: one
    live entry per slot — repeat invocations on the same fixture
    reuse the materialized intermediate (materialized-view style),
    a different fixture dir releases the old entry first — so
    long-lived sessions neither leak cache nor recompute the
    signature pipeline per invocation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import persist_tracked
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

# With b=4 bands of r=4 the candidate probability is 1-(1-s^4)^4:
# ~0.99 at Jaccard 0.9, ~0.04 at Jaccard 0.3 — a near-dup threshold
# around s* = (1/b)^(1/r) ≈ 0.71 (tests/test_properties.py pins the
# S-curve empirically).

# Constants, shingling, hot-key cap/pair generation, and the minhash
# oracle-SQL builders live in dedup_common, shared with sibling
# modules (dedup_simhash, curation, graph); re-exported here for
# existing importers.
from dist_map_reduce_spark.functions.dedup_common import (  # noqa: E402,F401
    _CANDIDATE_PAIRS_SQL,
    _R,
    _SHINGLE_SQL,
    MAX_KEY_DOCS,
    N_BANDS,
    N_HASHES,
    _minhash_bands_sql,
    _minhash_sig_sql,
    _N_SALTS,
    _pairs_within_keys,
    _simhash_bit_sql,
    _slice,
    shingles,
)


def _tune_cached_plans(df: DataFrame) -> None:
    """Persisted subtrees keep their raw shuffle-partition count
    unless AQE is allowed to re-plan cached output partitioning —
    set it for caller-owned sessions (engine sessions already do,
    session.py)."""
    df.sparkSession.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )


@query(
    "dedup_exact_docs",
    oracle="""
    SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS keep_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: one partial-agg'd shuffle on the
    hash; keeper chosen deterministically (min doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text").cast("binary")).alias("fp")).agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_id")
    )


# TEST-REFERENCE ARM ONLY (since r8): the production signature stage
# is dedup_common.minhash_sig_rowwise, which computes the identical
# h0..h15 with zero shuffles (array_min over transform instead of
# this exploded groupBy-MIN); tests/test_ingest_dedup.py pins the two
# arms bit-identical. Kept because an independent second
# implementation is what makes that equivalence test meaningful.
# The md5 slices are parsed to BIGINT before the min-aggregation:
# min over a bigint keeps the signature aggregation in HashAggregate,
# whereas 16 var-length string buffers force a SortAggregate fallback
# (a per-partition sort in the hottest stage of the pipeline);
# ordering is identical since the slices are fixed-width hex.
def _minhash_signature(sh: DataFrame) -> DataFrame:
    """doc_id → N_HASHES min 32-bit (bigint) minhashes."""
    md5s = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"s{s}:"), F.col("shingle")).cast("binary")).alias(
                f"m{s}"
            )
            for s in range(_N_SALTS)
        ],
    )
    aggs = []
    for j in range(N_HASHES):
        s, off = _slice(j)
        aggs.append(
            F.min(
                F.expr(f"cast(conv(substring(m{s}, {off}, 8), 16, 10) as bigint)")
            ).alias(f"h{j}")
        )
    return md5s.groupBy("doc_id").agg(*aggs)


def _banded_wide(docs: DataFrame) -> DataFrame:
    """(doc_id, b0..b{N_BANDS-1}): one md5 band key per band (the
    ':'-joined decimal minhashes of the band, hashed). The signature
    stage is the zero-shuffle row-wise arm — banding is now a pure
    projection over the scan, so the first Exchange in the whole
    LSH pipeline is the band-key join itself."""
    from dist_map_reduce_spark.functions.dedup_common import (
        band_md5,
        minhash_sig_rowwise,
    )

    sig = minhash_sig_rowwise(docs)
    return sig.select(
        "doc_id", *[band_md5(b).alias(f"b{b}") for b in range(N_BANDS)]
    )


def _bands_long(wide: DataFrame) -> DataFrame:
    """Wide → long (doc_id, band_id, band_key) via a union of narrow
    selects — NOT stack(): the Generate operator breaks whole-stage
    codegen (measured ~2× slower on the banding stage). Callers that
    scan the long form more than once should persist ``wide`` first
    so the signature pipeline isn't recomputed per union arm."""
    arms = [
        wide.select(
            "doc_id",
            F.lit(str(b)).alias("band_id"),
            F.col(f"b{b}").alias("band_key"),
        )
        for b in range(N_BANDS)
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.union(a)
    return out


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key): LSH banding of the minhash
    signature — docs sharing any band key are near-dup candidates."""
    return _bands_long(_banded_wide(docs))


def _capped_postings(sh: DataFrame) -> DataFrame:
    """(ds: sorted array<doc_id>) posting lists of the inverted
    shingle index, hot keys dropped.

    The hot-key cap is applied FIRST, via a count window partitioned
    by shingle: one shuffle and ONE shingling pass (vs a count-agg +
    join-back, which re-evaluates the shingle explode per branch).
    An over-cap stop-shingle is dropped before collect_list ever
    accumulates its (possibly multi-million-entry) posting list —
    WindowExec buffers one key group at a time and spills to disk,
    so a hot key costs disk, not an aggregation-buffer OOM. The
    groupBy that follows reuses the window's hash(shingle)
    partitioning: no second exchange (pinned in
    tests/test_plans.py::test_ngram_postings_single_shuffle)."""
    return (
        sh.withColumn(
            "n_docs", F.count("*").over(Window.partitionBy("shingle"))
        )
        .filter(F.col("n_docs") <= MAX_KEY_DOCS)
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .select("ds")
    )


@query("minhash_band_candidates", oracle=_CANDIDATE_PAIRS_SQL)
def minhash_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidates: 16-hash signatures in 4
    bands of 4; pairs sharing any band bucket. The pair join is on
    (band_id, band_key) — work is proportional to bucket collisions,
    never to n² of the corpus — and band keys shared by more than
    MAX_KEY_DOCS documents are dropped before the self-join (hot-key
    cap, see module docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    # Persist the banded signatures: they are tiny relative to the
    # corpus (one row of N_BANDS fixed-width hashes per doc) and feed
    # all four union arms of the long form plus both cap phases —
    # without this Spark recomputes the whole shingle→md5→min
    # pipeline per consumer.
    _tune_cached_plans(docs)
    wide = persist_tracked(_banded_wide(docs), "minhash_banded", sf_dir)
    return _pairs_within_keys(_bands_long(wide), ["band_id", "band_key"])


@query(
    "simhash16_fingerprints",
    oracle=f"""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    votes AS (
      SELECT doc_id,
             {", ".join(f"{_simhash_bit_sql(i)} AS s{i}" for i in range(16))}
      FROM tokens GROUP BY doc_id
    )
    SELECT doc_id,
           {" + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))}
             AS simhash16
    FROM votes
    """,
)
def simhash16_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit): per-token md5 hex digits vote each bit up or
    down; fingerprint = sign bits. Near-dup docs land within small
    Hamming distance. One explode + one aggregation shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    votes = tokens.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.substring(F.md5(F.col("word").cast("binary")), i + 1, 1) >= "8",
                    1,
                ).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(16)
        ]
    )
    fp = None
    for i in range(16):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return votes.select("doc_id", fp.cast("long").alias("simhash16"))


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh0 AS ({_SHINGLE_SQL}),
    sdf AS (SELECT shingle, count(*) AS n_docs FROM sh0 GROUP BY shingle),
    sh AS (
      SELECT sh0.doc_id, sh0.shingle
      FROM sh0 JOIN sdf USING (shingle)
      WHERE sdf.n_docs <= {MAX_KEY_DOCS}
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_inter,
           round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter >= 2
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity for candidate pairs — pairs
    are generated by the shared-shingle join (inverted-index style),
    so cost scales with actual shingle collisions, not n². Shingles
    whose document frequency exceeds MAX_KEY_DOCS (stop-shingles:
    boilerplate present in a large fraction of the corpus) are
    dropped before the join AND before the per-doc set sizes, so the
    reported Jaccard is over the informative shingle sets — standard
    production-dedup semantics, mirrored exactly in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    _tune_cached_plans(docs)
    # the capped inverted index is grouped ONCE and persisted; both
    # the per-doc set sizes and the candidate pairs derive from the
    # cached postings (no second pass over the raw shingle strings)
    grouped = persist_tracked(
        _capped_postings(shingles(docs)), "ngram_postings", sf_dir
    )
    sizes = (
        grouped.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    # per-posting pair product; postings are ≤ MAX_KEY_DOCS by the
    # cap above, and sorted, so emitting (i < j) index pairs builds
    # exactly k(k-1)/2 structs — not k² filtered down.
    inter = (
        grouped.filter(F.size("ds") >= 2)  # singletons yield no pairs
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ds) - 2), "
                    "i -> transform(sequence(i + 1, size(ds) - 1), "
                    "j -> struct(ds[i] AS doc_a, ds[j] AS doc_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
        .filter(F.col("n_inter") >= 2)
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.round(
                F.col("n_inter")
                * 1.0
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )
