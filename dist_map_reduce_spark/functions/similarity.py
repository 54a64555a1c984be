"""Similarity search over the embeddings table (array<float>, 64-d).

Two paths (BASELINE.json north star):
  - brute-force cosine top-k: exact baseline — a broadcast of the
    (small) query set against a full scan of the corpus; all math in
    JVM expressions (zip_with/aggregate), computed in float64.
  - sign-LSH (random-hyperplane) bucketing: the scale path — vectors
    hash to a bucket by the sign pattern of hyperplane dot products;
    search only touches the query's bucket. Hyperplanes are derived
    deterministically from md5 so the bucketing is reproducible (and
    even oracle-checkable in SQL).

At 100 TB the corpus side never broadcasts or collects: brute force
is scan+broadcast-join; LSH is an equi-join on bucket id. The plane
count is NOT fixed at scale: ``n_planes_for(corpus_size)`` derives it
so expected bucket occupancy stays bounded (SCALE.md §sign-LSH); the
registered fixture queries pin ``N_PLANES = 8`` so their oracles stay
static.

The geometry/index math (hyperplanes, cosine, k-means fit, the IVF
cell-restricted search) lives in ``similarity_common``, shared with
the k-means IVF variant in ``similarity_ivf_kmeans``. Names are
re-imported here for compatibility (tests and SCALE.md reference
them via this module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.similarity_common import (  # noqa: F401
    DIM,
    K_CELLS,
    KMEANS_ROUNDS,
    N_PLANES,
    N_QUERIES,
    NPROBE,
    PLANES,
    PROBE_MASKS,
    _bucket_sql,
    _dot_expr,
    _plane,
    _plane_sql,
    bucket_col,
    cosine_expr,
    dot_expr,
    ivf_oracle_sql,
    ivf_search,
    kmeans_ctes,
    kmeans_fit,
    n_planes_for,
    norm_expr,
    probe_masks,
)
from dist_map_reduce_spark.registry import query

# Hot-bucket cap for the near-dup self-join: buckets holding more
# vectors than this are dropped before pair generation (same policy
# as dedup.MAX_KEY_DOCS for text shingles/bands; normative cap-policy
# table: SCALE.md §"Cap policy"). Far above any fixture bucket (max
# 24 at sf0.1) and far below the degenerate 100 TB case this guards
# against — millions of near-identical vectors landing in one bucket
# and exploding the O(k²) join.
MAX_BUCKET_VECS = 100


@query(
    "dedup_embedding_neardup",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             {_bucket_sql("CAST(embedding AS DOUBLE[])")} AS bucket
      FROM embeddings
    ),
    capped AS (
      SELECT vec_id, e, bucket FROM b
      QUALIFY count(*) OVER (PARTITION BY bucket) <= {MAX_BUCKET_VECS}
    )
    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
           round(list_cosine_similarity(x.e, y.e), 6) AS cos
    FROM capped x JOIN capped y
      ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    WHERE round(list_cosine_similarity(x.e, y.e), 6) >= 0.2
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH bucket join prunes
    the candidate space (same-bucket vectors already agree on all 8
    hyperplane signs), then exact cosine filters. No n² stage.

    A count window partitioned by bucket drops over-cap buckets
    BEFORE the self-join (the same windowed hot-key cap as
    dedup._pairs_within_keys) — a degenerate cluster of near-identical
    vectors costs WindowExec disk spill, never an O(k²) join blow-up;
    the cap is mirrored in the oracle."""
    from pyspark.sql import Window as W

    emb = (
        _lsh_bucketed(spark, sf_dir)
        .withColumn("n_in_bucket", F.count("*").over(W.partitionBy("bucket")))
        .filter(F.col("n_in_bucket") <= MAX_BUCKET_VECS)
        .drop("n_in_bucket")
        # per-vector norm hoisted below the self-join (norm_expr
        # docstring: bit-identical cosine, computed once per vector
        # instead of once per candidate pair)
        .withColumn("nrm", norm_expr("embedding"))
    )
    a = emb.alias("a")
    b = emb.alias("b")
    cos = F.round(
        dot_expr("a.embedding", "b.embedding")
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= 0.2)
    )


_LSH_ORACLE = f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             {_bucket_sql("CAST(embedding AS DOUBLE[])")} AS bucket
      FROM embeddings
    ),
    probes AS (
      SELECT vec_id AS query_id, e AS qe, xor(bucket, m) AS pbucket
      FROM b, unnest([{", ".join(str(m) for m in PROBE_MASKS)}]) t(m)
      WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT p.query_id, b.vec_id,
             round(list_cosine_similarity(p.qe, b.e), 6) AS cos
      FROM probes p JOIN b
        ON b.bucket = p.pbucket AND b.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cos
    FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
    ) <= 5
"""


def _lsh_bucketed(
    spark: SparkSession, sf_dir: str, n_planes: int = N_PLANES
) -> DataFrame:
    """The sign-LSH index table (vec_id, embedding, bucket) shared by
    all three LSH consumers (ANN search, bucket histogram, embedding
    near-dup) — one slot per plane count (the slot-per-space
    discipline), peek-first so a warm slot skips constructing the
    n_planes × DIM dot-product expression tree (the r12
    construction-cost lesson). Footprint is the corpus plus one int
    per row — the index itself, not a per-consumer copy."""
    from dist_map_reduce_spark.caching import get_or_build

    return get_or_build(
        f"lsh_bucketed_p{n_planes}",
        sf_dir,
        lambda: load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            "embedding",
            bucket_col("embedding", n_planes).alias("bucket"),
        ),
        session=spark,
    )


def _ann_lsh_topk(spark: SparkSession, sf_dir: str, n_planes: int) -> DataFrame:
    """Shared body of the multi-probe sign-LSH search, parameterized
    on plane count — the registered fixture query pins N_PLANES=8 (so
    its oracle stays static); ``ann_lsh_topk_scaled`` derives the
    count from corpus size."""
    from pyspark.sql import Window as W

    emb = _lsh_bucketed(spark, sf_dir, n_planes).withColumn(
        # hoisted per-vector norm — see norm_expr (bit-identical)
        "en", norm_expr("embedding")
    )
    probes = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("en").alias("qn"),
            F.explode(
                F.array(*[F.lit(m) for m in probe_masks(n_planes)])
            ).alias("m"),
            F.col("bucket").alias("qbucket"),
        )
        .select(
            "query_id",
            "qe",
            "qn",
            F.col("qbucket").bitwiseXOR(F.col("m")).alias("pbucket"),
        )
    )
    scored = (
        emb.join(
            probes,
            (emb.bucket == probes.pbucket) & (emb.vec_id != probes.query_id),
        )
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot_expr("qe", "embedding") / (F.col("qn") * F.col("en")), 6
            ).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@query("similarity_ann_lsh_topk", oracle=_LSH_ORACLE)
def similarity_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via multi-probe sign-LSH: vectors in the query's
    bucket or any Hamming-distance-1 bucket are scored — an equi-join
    of the corpus against the (bounded) query×probe set, so
    corpus-side work is proportional to 1+N_PLANES buckets, not the
    corpus. Deterministic md5 hyperplanes make the whole search
    exactly reproducible: the oracle replicates it and the rows
    value-hash-match. Recall vs exact top-k is exercised in
    tests/test_similarity.py.

    Fixture-pinned at N_PLANES=8; at scale call
    ``ann_lsh_topk_scaled`` (plane count derived from corpus size) —
    see SCALE.md §sign-LSH."""
    return _ann_lsh_topk(spark, sf_dir, N_PLANES)


def ann_lsh_topk_scaled(
    spark: SparkSession,
    sf_dir: str,
    corpus_size: int,
    target_bucket_size: int = 1024,
) -> DataFrame:
    """At-scale LSH entry point: derives the plane count from the
    corpus size (``n_planes_for``) so per-probe candidate work stays
    ~target_bucket_size instead of growing linearly with the corpus.
    ``corpus_size`` comes from table statistics (catalog row counts /
    parquet metadata) — passing it in keeps this plan-construction
    driver-action-free. Above ~2³¹ vectors prefer the IVF path
    (``similarity_ann_ivf_topk``): a trained coarse quantizer beats
    data-oblivious hyperplanes on recall-per-candidate at that scale
    (SCALE.md §sign-LSH)."""
    return _ann_lsh_topk(
        spark, sf_dir, n_planes_for(corpus_size, target_bucket_size)
    )


def _kmeans_oracle() -> str:
    """Unrolled Lloyd iterations in DuckDB SQL (similarity_common.
    kmeans_ctes) aggregated to the per-cell summary."""
    ctes, _ = kmeans_ctes()
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT cell, count(*) AS n_vectors, min(vec_id) AS min_vec_id
        FROM a{KMEANS_ROUNDS} GROUP BY cell
        """
    )


@query("kmeans_embedding_cells", oracle=_kmeans_oracle())
def kmeans_embedding_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding corpus (Lloyd's algorithm,
    KMEANS_ROUNDS assignment rounds) — the production coarse-quantizer
    build for an IVF index when no labels exist (SCALE.md). Fully
    deterministic (similarity_common.kmeans_fit): init centroids are
    vectors 0..K-1, assignment ranks by 6-dp-rounded cosine with a
    min-cell tie-break, and updated centroids are 6-dp-rounded
    per-dimension means — so the whole iterative computation
    hash-matches the unrolled-SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, _ = kmeans_fit(emb)
    return assigned.groupBy("cell").agg(
        F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id")
    )


@query(
    "similarity_topk_cosine",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])), 6) AS cos
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos
    FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
    ) <= 10
    """,
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for each query vector: broadcast the
    bounded query set, scan the corpus once, per-query top-k via
    window. Ranking uses the rounded score so ordering is
    engine-stable."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    # hoist per-vector norms BELOW the pair join (norm_expr docstring:
    # bit-identical score, norms computed once per vector instead of
    # once per (query, vector) pair — the corpus norm was re-evaluated
    # |queries|× before)
    queries = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            norm_expr("embedding").alias("qn"),
        )
    )
    corpus = emb.select("vec_id", "embedding", norm_expr("embedding").alias("en"))
    scored = (
        corpus.join(queries, corpus.vec_id != queries.query_id)
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot_expr("qe", "embedding") / (F.col("qn") * F.col("en")), 6
            ).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )


@query(
    "similarity_lsh_buckets",
    oracle=f"""
    SELECT {_bucket_sql("CAST(embedding AS DOUBLE[])")} AS bucket,
           count(*) AS n_vectors,
           min(vec_id) AS min_vec_id
    FROM embeddings
    GROUP BY 1
    """,
)
def similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket histogram — the partition layout the ANN path
    searches within. Deterministic hyperplanes ⇒ oracle-checkable."""
    return (
        _lsh_bucketed(spark, sf_dir)
        .select("bucket", "vec_id")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


@query(
    "embedding_label_centroids",
    oracle=f"""
    SELECT label, i - 1 AS pos,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) + 0 AS mean_val
    FROM embeddings, LATERAL (
      SELECT unnest(generate_series(1, {DIM})) AS i
    ) t
    GROUP BY label, i
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid of the embedding space (long form:
    label × dimension × mean) — the coarse-quantizer build step of an
    IVF index. posexplode + one aggregation shuffle on
    (label, pos); no vector ever visits the driver."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_val"))
    )


_LABEL_CENT_CTES = [
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
    f"""cent AS (
      SELECT label AS cell, list(m ORDER BY pos) AS cent
      FROM (
        SELECT label, i - 1 AS pos,
               round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        FROM embeddings, LATERAL (
          SELECT unnest(generate_series(1, {DIM})) AS i
        ) t
        GROUP BY label, i
      )
      GROUP BY label
    )""",
]


@query(
    "similarity_ann_ivf_topk",
    oracle=ivf_oracle_sql("cent", _LABEL_CENT_CTES),
)
def similarity_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest label
    centroid (coarse cell), then scored search only inside the
    query's NPROBE nearest cells (multi-probe). Two narrow passes +
    an equi-join on cell id — the centroid table is bounded
    (n_labels × DIM) and broadcasts; the shared search body is
    similarity_common.ivf_search.

    The index is DETERMINISTIC (centroids = per-label means rounded
    to 6 dp, assignment tie-broken on cell id), so although the
    result is approximate w.r.t. exact top-k, it is exactly
    reproducible — the oracle replicates the whole cell-restricted
    search and the rows value-hash-match. Recall vs exact top-k is
    exercised in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    # centroids pivoted back to arrays, driver-free: collect_list over
    # a (label, pos)-sorted struct. Components are rounded to 6 dp so
    # the index is bit-identical across engines (an unrounded mean
    # differs in the last ulp with summation order, which could flip
    # a cell assignment at a rounding boundary).
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("m")))
                ),
                lambda s: s.m,
            ).alias("centroid")
        )
        .select(F.col("label").alias("cand_cell"), "centroid")
    )
    return ivf_search(emb, cent, "ivf_ranked_cells", sf_dir)
