"""Distributed PCA over the embedding corpus via the gramian trick.

Embedding post-processing (whitening, dimensionality reduction before
ANN indexing, energy-compaction ahead of PQ — Faiss's OPQ/PCAR
pre-transforms) needs principal components of a corpus that never
fits on one machine. The classical distributed answer: the d×d
gramian G = Σ v·vᵀ and the mean μ are BOTH one aggregation pass over
the corpus; the covariance C = G/n − μμᵀ is a d×d matrix (64×64
here — a few KB), so the eigendecomposition is a driver-side numpy
`eigh` on MODEL-sized data, never corpus-sized. Projection is then
one more narrow pass. This is the textbook tall-skinny PCA used by
Spark MLlib's RowMatrix.computePrincipalComponents — re-derived here
on the DataFrame/Arrow surface so it composes with the rest of the
engine (no RDD, no MLlib dependency).

Scale posture (100 TB): the production gramian arm
(`gramian_partials`) is a `mapInPandas` that computes each Arrow
batch's partial XᵀX with one BLAS matmul and emits d(d+1)/2 rows per
BATCH (2 080 rows for d=64) — the shuffle moves per-batch partials,
never vectors. The pure-JVM arm (`gramian_exploded`) double-explodes
index pairs before the hash aggregate; it is engine-pure but inflates
each row ×d²/2 pre-combine, so it serves as the independent
second implementation pinning the Arrow arm's correctness
(tests/test_embedding_pca.py), not the hot path — the dedup_common
two-arm discipline.

Determinism across engines: float32 → float64 casts are exact, so
every product is bit-identical in numpy, JVM, and DuckDB; only the
SUM association order differs, and the 6-dp round absorbs those ULPs
(values are O(n) diagonal / O(√n) off-diagonal — double precision
leaves ~9 digits of headroom at sf0.01). `+ 0` normalizes −0.0 on
near-zero off-diagonals in both engines (the profiling.py fix).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

D = 64  # embedding dimensionality of the fixture corpus


def gramian_partials(emb: DataFrame) -> DataFrame:
    """(i, j, part) upper-triangle partial gramian per Arrow batch:
    one float64 BLAS matmul per batch, d(d+1)/2 output rows per
    batch. Input column: ``embedding`` (array<float>)."""
    import numpy as np

    iu = np.triu_indices(D)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = x.T @ x
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype("int64"),
                    "j": (iu[1] + 1).astype("int64"),
                    "part": g[iu],
                }
            )

    return emb.select("embedding").mapInPandas(
        part, "i bigint, j bigint, part double"
    )


def gramian_exploded(emb: DataFrame) -> DataFrame:
    """Independent pure-JVM gramian arm: double-exploded (i, j) index
    pairs, i ≤ j 1-based, hash-aggregated. ×d²/2 row inflation before
    the map-side combine — the equivalence-test reference, not the
    production path."""
    v = F.expr("cast(embedding as array<double>)")
    return (
        emb.select(v.alias("v"))
        .select("v", F.explode(F.expr("sequence(1, size(v))")).alias("i"))
        .select("v", "i", F.explode(F.expr("sequence(i, size(v))")).alias("j"))
        .groupBy("i", "j")
        .agg(F.sum(F.expr("v[i-1] * v[j-1]")).alias("part"))
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            "part",
        )
    )


def _rounded(g: DataFrame) -> DataFrame:
    return g.groupBy("i", "j").agg(
        (F.round(F.sum("part"), 6) + F.lit(0.0)).alias("g")
    )


@query(
    "embedding_gramian",
    # the (i, j) index pairs come from an UNCORRELATED pairs table
    # (DuckDB's generate_series table function rejects lateral
    # column parameters, so len(v) cannot drive it per-row; the
    # fixture dimensionality is the module constant D)
    oracle=f"""
    WITH pairs AS (
      SELECT ii, jj
      FROM generate_series(1, {D}) t(ii), generate_series(1, {D}) u(jj)
      WHERE jj >= ii
    )
    SELECT ii AS i, jj AS j, round(sum(v[ii] * v[jj]), 6) + 0 AS g
    FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings), pairs
    GROUP BY 1, 2
    """,
)
def embedding_gramian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle corpus gramian Σ vᵢvⱼ over the embedding table
    (1-based i ≤ j), via the BLAS-batched Arrow arm."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _rounded(gramian_partials(emb))


def pca_fit(emb: DataFrame, k: int):
    """Fit PCA on the embedding corpus: one distributed pass for
    (n, Σv, Σvvᵀ), then a driver-side eigh on the d×d covariance —
    model-sized, never corpus-sized. Returns (mean: ndarray[d],
    components: ndarray[d,k] eigenvector columns in DESCENDING
    eigenvalue order, explained_var: ndarray[k]). Deterministic up to
    eigenvector sign; columns are sign-fixed so the largest-|coord|
    entry is positive."""
    import numpy as np

    stats = emb.select(
        F.count("*").alias("n"),
        F.array(
            *[
                F.sum(F.expr(f"cast(embedding[{i}] as double)"))
                for i in range(D)
            ]
        ).alias("s"),
    ).collect()[0]
    n, s = stats["n"], np.asarray(stats["s"])
    g = np.zeros((D, D))
    for r in gramian_partials(emb).groupBy("i", "j").agg(
        F.sum("part").alias("g")
    ).collect():  # d(d+1)/2 model-sized rows, not data
        g[r["i"] - 1, r["j"] - 1] = r["g"]
        g[r["j"] - 1, r["i"] - 1] = r["g"]
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    w, vec = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    comps = vec[:, order]
    # sign convention: largest-magnitude coordinate positive
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(k)])
    flip[flip == 0] = 1.0
    return mu, comps * flip, w[order]


def whitening_matrix(components, explained_var, eps: float = 1e-9):
    """PCA whitening transform W·Λ^{-1/2}: projecting with it gives
    unit variance per component (decorrelated, isotropic) — the
    standard pre-conditioner before cosine-sensitive downstream ops
    (embedding-similarity calibration, ZCA-style feature prep).
    ``eps`` floors near-zero eigenvalues so degenerate directions
    scale to ~0 instead of exploding."""
    import numpy as np

    w = np.asarray(components, dtype=np.float64)
    lam = np.maximum(np.asarray(explained_var, dtype=np.float64), eps)
    return w / np.sqrt(lam)[None, :]


def pca_project(emb: DataFrame, mean, components) -> DataFrame:
    """(vec_id, pc: array<double>) — centered projection (v − μ)·W,
    one BLAS matmul per Arrow batch; μ and W ride into the closure
    (model-sized broadcast). Pass ``whitening_matrix(...)`` as
    ``components`` for whitened output."""
    import numpy as np

    mu = np.asarray(mean, dtype=np.float64)
    w = np.asarray(components, dtype=np.float64)

    def proj(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            p = (x - mu) @ w
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "pc": list(map(list, p))}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        proj, "vec_id bigint, pc array<double>"
    )
