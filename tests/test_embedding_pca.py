"""Distributed PCA: two-arm gramian equivalence + numpy ground truth.

The gramian query's correctness vs DuckDB is covered by
tests/test_parity.py; these tests pin the BLAS Arrow arm
against the independent pure-JVM arm and the whole fit/project path
against a single-machine numpy PCA on the collected fixture — the
strongest available oracle for an iterative-free linear-algebra op.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.embedding_pca import (
    D,
    _rounded,
    gramian_exploded,
    gramian_partials,
    pca_fit,
    pca_project,
)
from tests.conftest import SF_SMOKE


def _collect_matrix(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = [r.vec_id for r in rows]
    return emb, x, ids


def test_gramian_arms_identical(spark):
    """BLAS-batched Arrow arm == double-explode JVM arm after the
    6-dp round, cell for cell."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = {(r.i, r.j): r.g for r in _rounded(gramian_partials(emb)).collect()}
    b = {(r.i, r.j): r.g for r in _rounded(gramian_exploded(emb)).collect()}
    assert a == b
    assert len(a) == D * (D + 1) // 2


def test_pca_fit_matches_numpy(spark):
    emb, x, _ = _collect_matrix(spark)
    k = 8
    mu, comps, ev = pca_fit(emb, k)
    # mean
    assert np.allclose(mu, x.mean(axis=0), atol=1e-9)
    # ground-truth covariance eigen-decomposition (population, /n —
    # matching pca_fit)
    c = np.cov(x, rowvar=False, bias=True)
    w, v = np.linalg.eigh(c)
    top = np.argsort(w)[::-1][:k]
    assert np.allclose(ev, w[top], rtol=1e-8)
    # eigenvalues descending
    assert all(ev[i] >= ev[i + 1] - 1e-12 for i in range(k - 1))
    # components orthonormal
    assert np.allclose(comps.T @ comps, np.eye(k), atol=1e-8)
    # same subspace as numpy's top-k (up to sign): |dot| of matched
    # columns == 1
    dots = np.abs(np.sum(comps * v[:, top], axis=0))
    assert np.allclose(dots, 1.0, atol=1e-6)


def test_pca_project_matches_numpy(spark):
    emb, x, ids = _collect_matrix(spark)
    k = 4
    mu, comps, _ = pca_fit(emb, k)
    proj = {
        r.vec_id: np.array(r.pc)
        for r in pca_project(emb, mu, comps).collect()
    }
    expect = (x - mu) @ comps
    got = np.stack([proj[i] for i in ids])
    assert got.shape == (len(ids), k)
    assert np.allclose(got, expect, atol=1e-9)
    # energy compaction: projected variance per component equals the
    # eigenvalue (Rayleigh), and total projected variance <= total
    var = got.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(k - 1))
    assert var.sum() <= np.trace(np.cov(x, rowvar=False, bias=True)) + 1e-9


def test_whitened_projection_has_unit_variance(spark):
    """Projecting with whitening_matrix gives per-component variance
    1 and (near-)diagonal covariance — the whitening contract."""
    from dist_map_reduce_spark.functions.embedding_pca import (
        whitening_matrix,
    )

    emb, x, ids = _collect_matrix(spark)
    k = 8
    mu, comps, ev = pca_fit(emb, k)
    wm = whitening_matrix(comps, ev)
    proj = {
        r.vec_id: np.array(r.pc) for r in pca_project(emb, mu, wm).collect()
    }
    got = np.stack([proj[i] for i in ids])
    cov = np.cov(got, rowvar=False, bias=True)
    assert np.allclose(np.diag(cov), 1.0, atol=1e-6)
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 1e-6


def test_gramian_plan_has_single_shuffle(spark):
    """The Arrow arm's plan: scan -> mapInPandas -> one Exchange for
    the final (i, j) aggregate — no join, no second shuffle."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _rounded(gramian_partials(emb))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
