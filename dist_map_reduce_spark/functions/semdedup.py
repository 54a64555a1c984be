"""Semantic deduplication (SemDeDup-style) over the embedding corpus.

The embedding arm's missing decision stage: ``dedup_embedding_neardup``
emits candidate PAIRS from LSH buckets, but a curation pipeline needs
a per-document KEEP/DROP decision driven by semantic similarity, the
way the MinHash arm ends in ``dedup_keep_drop_list``. SemDeDup
(Abbas et al., 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication") does this by clustering embeddings
with k-means and pruning near-identical members WITHIN each cluster —
the cluster bound is what keeps the pairwise stage tractable at scale.

This implementation reuses the deterministic Lloyd's k-means from
``similarity_common.kmeans_fit`` (the same index build the IVF ANN
path uses) and applies a deterministic within-cell prune rule:

    drop vector b iff some SAME-CELL vector a with a smaller vec_id
    has round(cos(a, b), 6) >= TAU.

The id-ranked keeper (rather than the paper's random representative)
makes the decision exactly reproducible and SQL-expressible, so the
whole pipeline — 3 Lloyd rounds, cell assignment, within-cell pair
scores, the decision — is value-hash-checked against an unrolled
DuckDB oracle. Cosines are rounded to 6 dp before comparison (the
engine-stability discipline every similarity query here follows).

Scale shape: the candidate set is CELL-BOUNDED — the only join is an
equi-join on cell id, never all-pairs; per-cell work is C(|cell|, 2),
and |cell| is controlled by the cluster count k (at 100 TB you raise
K_CELLS so mean occupancy stays ~10³-10⁴; the paper uses k in the
tens of thousands for web scale). A windowed per-cell cap
(MAX_CELL_VECS, same policy table as dedup.MAX_KEY_DOCS /
similarity.MAX_BUCKET_VECS — SCALE.md §"Cap policy") guards the
degenerate case of a mis-sized k: over-cap cells skip pair generation
and their members default to keep, so a pathological cell costs a
window spill, never an O(k²) blow-up. The decision list itself is one
row per vector and streams to a sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.similarity_common import (
    KMEANS_ROUNDS,
    kmeans_ctes,
    kmeans_fit,
)
from dist_map_reduce_spark.registry import query

TAU = 0.4  # within-cell cosine at/above which the higher id drops
MAX_CELL_VECS = 4096  # degenerate-cell guard, far above fixture cells


def prune_list_scaled(
    spark: SparkSession,
    sf_dir: str,
    k_cells: int,
    tau: float = TAU,
    max_cell_vecs: int = MAX_CELL_VECS,
) -> DataFrame:
    """The at-scale SemDeDup entry point: same decision pipeline with
    the cluster count chosen for the corpus — k ≈ corpus /
    target_occupancy (10³-10⁴) keeps per-cell pairing bounded as the
    corpus grows, the policy the fixture-pinned registered query
    documents (``kmeans_fit``'s k knob; same scale pattern as
    ``ann_lsh_topk_scaled``). The assignment persist goes through a
    tracked slot — a bare ``.persist()`` here leaked one
    corpus-sized cache per call in a long session (ADVICE r8,
    fixed r10): the slot keeps at most ONE live entry, re-keyed by
    (fixture, k) — exactly what the cached subtree depends on — so a
    clustering change releases the old assignment instead of stacking
    a new one beside it, while tau/cap sweeps reuse it."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned = get_or_build(
        spark,
        "semdedup_scaled_assigned",
        # key = what the cached subtree DEPENDS ON: (fixture, k).
        # tau/cap only parameterize _decide downstream — keying on
        # them would re-run the whole Lloyd fit per threshold sweep
        f"{sf_dir}:{k_cells}",
        lambda: kmeans_fit(emb, k=k_cells)[0],
    )
    return _decide(assigned, tau, max_cell_vecs)


def _prune_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell, near_cos, action) for EVERY corpus vector.

    near_cos = max 6-dp cosine to any lower-id same-cell member
    (-1.0 when none, i.e. the vector is its cell's minimum id or its
    cell was over the cap); action = drop iff near_cos >= TAU.
    Cached per fixture dir — both registered queries consume it."""

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        # the assignment subtree is consumed THREE times (both
        # self-join sides + the final decision join-back); persist it
        # once or the 3-round Lloyd pipeline re-executes per branch
        # (audited: 33 exchanges unpersisted vs 5 persisted)
        assigned = get_or_build(
            spark, "semdedup_assigned", sf_dir, lambda: kmeans_fit(emb)[0]
        )  # (vec_id, embedding, cell)
        return _decide(assigned, TAU, MAX_CELL_VECS)

    return get_or_build(spark, "semdedup_prune", sf_dir, build)


def _decide(
    assigned: DataFrame, tau: float, max_cell_vecs: int
) -> DataFrame:
    from pyspark.sql import Window as W

    # per-vector norms precomputed ONCE before pairing: the pair
    # stage then evaluates a single dot-product lambda per pair
    # instead of dot + two norms (3× fewer higher-order-function
    # evals on the O(sum |cell|²) hot path). sqrt(Σx²) here and
    # dot/(na·nb) below are the exact IEEE ops cosine_expr performs,
    # so the rounded values are bit-identical to the oracle's.
    norm = F.sqrt(
        F.expr(
            "aggregate(transform(embedding, x -> CAST(x AS DOUBLE)"
            " * CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v)"
        )
    )
    capped = (
        assigned.withColumn(
            "n_in_cell", F.count("*").over(W.partitionBy("cell"))
        )
        .filter(F.col("n_in_cell") <= max_cell_vecs)
        .select("vec_id", "cell", "embedding", norm.alias("nrm"))
    )
    a = capped.alias("a")
    b = capped.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.embedding, b.embedding, (x, y) ->"
        " CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    )
    best = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6).alias("cos"),
        )
        .groupBy("vec_id")
        .agg(F.max("cos").alias("near_cos"))
    )
    out = (
        assigned.select("vec_id", "cell")
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("near_cos", F.lit(-1.0)).alias("near_cos"),
            F.when(F.coalesce("near_cos", F.lit(-1.0)) >= tau, F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("action"),
        )
    )
    return out


def _prune_ctes() -> str:
    """The shared oracle prefix: unrolled k-means + the capped
    within-cell best-lower-id cosine + the decision per vector."""
    ctes, _ = kmeans_ctes()
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    capped AS (
      SELECT vec_id, emb, cell FROM a{KMEANS_ROUNDS}
      QUALIFY count(*) OVER (PARTITION BY cell) <= {MAX_CELL_VECS}
    ),
    best AS (
      SELECT b.vec_id,
             max(round(list_cosine_similarity(a.emb, b.emb), 6)) AS near_cos
      FROM capped a JOIN capped b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      GROUP BY b.vec_id
    ),
    decisions AS (
      SELECT s.vec_id, s.cell,
             coalesce(best.near_cos, -1.0) AS near_cos,
             CASE WHEN coalesce(best.near_cos, -1.0) >= {TAU}
                  THEN 'drop' ELSE 'keep' END AS action
      FROM a{KMEANS_ROUNDS} s LEFT JOIN best ON s.vec_id = best.vec_id
    )"""
    )


@query(
    "semdedup_prune_list",
    oracle=_prune_ctes()
    + """
    SELECT vec_id, cell, near_cos, action FROM decisions
    """,
)
def semdedup_prune_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup decision list: one row per corpus vector with its
    k-means cell, its max cosine to any lower-id cellmate, and the
    keep/drop decision (drop iff that cosine >= TAU). The semantic
    sibling of ``dedup_keep_drop_list`` — MinHash prunes lexical
    near-dups, this prunes semantic ones."""
    return _prune_list(spark, sf_dir)


@query(
    "semdedup_cell_stats",
    oracle=_prune_ctes()
    + """
    SELECT cell,
           count(*) AS n_vectors,
           count(*) FILTER (WHERE action = 'drop') AS n_dropped,
           min(vec_id) AS min_vec_id
    FROM decisions
    GROUP BY cell
    """,
)
def semdedup_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell SemDeDup summary (size, dropped count, min id) — the
    observability view a curation run reads to sanity-check the
    threshold before committing a prune (a cell with dup-rate ~1
    means TAU is below the corpus noise floor)."""
    return (
        _prune_list(spark, sf_dir)
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.when(F.col("action") == "drop", 1).otherwise(0)).alias(
                "n_dropped"
            ),
            F.min("vec_id").alias("min_vec_id"),
        )
    )
