"""OPQ-P rotated PQ: rotation properties + measured recall sanity.

The composed search has no SQL oracle (the rotation matrix is
driver-derived floats — see the module docstring); correctness rides
on the PCA arm's oracle/two-arm tests, the PQ arm's oracle, and
these: the rotation is orthonormal and norm-preserving, eigenvalue
allocation is balanced and a true permutation, and the composed
search returns well-formed top-5 with recall in [0, 1] measured
against exact (engine-side, ann_recall-style).
"""

from __future__ import annotations

import math

import numpy as np

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.similarity_opq import (
    eigenvalue_allocation,
    opq_pq_topk,
    opq_rotation,
    opq_vs_pq_recall,
    rotated_corpus,
)
from dist_map_reduce_spark.functions.similarity_pq import M_SUB, SUBDIM
from tests.conftest import SF_SMOKE


def test_eigenvalue_allocation_is_balanced_permutation():
    # strongly anisotropic spectrum: contiguous slicing would give
    # the first subspace everything
    ev = [2.0 ** (-i) for i in range(M_SUB * SUBDIM)]
    perm = eigenvalue_allocation(ev)
    assert sorted(perm) == list(range(M_SUB * SUBDIM))
    # per-subspace log-variance sums much closer than contiguous
    logs = [math.log(v) for v in ev]
    alloc = [
        sum(logs[perm[s * SUBDIM + j]] for j in range(SUBDIM))
        for s in range(M_SUB)
    ]
    contiguous = [
        sum(logs[s * SUBDIM + j] for j in range(SUBDIM))
        for s in range(M_SUB)
    ]
    # LPT greedy on a geometric spectrum leaves a spread of one-to-
    # two items' log-mass; 5x tighter than contiguous is the
    # structural claim (measured: 38.8 vs 310.5 on this spectrum)
    assert max(alloc) - min(alloc) < (max(contiguous) - min(contiguous)) / 5


def test_rotation_orthonormal_and_norm_preserving(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    mu, rot = opq_rotation(emb)
    d = rot.shape[0]
    assert rot.shape == (d, d)
    assert np.allclose(rot.T @ rot, np.eye(d), atol=1e-8)
    # centered norms preserved through the rotation
    rows = emb.orderBy("vec_id").limit(50).collect()
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    rot_rows = {
        r.vec_id: np.array(r.embedding)
        for r in rotated_corpus(emb, mu, rot).collect()
    }
    for r, v in zip(rows, x):
        assert math.isclose(
            float(np.linalg.norm(v - mu)),
            float(np.linalg.norm(rot_rows[r.vec_id])),
            rel_tol=1e-9,
        )


def test_opq_topk_shape_and_recall_bounds(spark):
    top = opq_pq_topk(spark, SF_SMOKE)
    rows = top.collect()
    per_q: dict[int, int] = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        assert r.query_id != r.vec_id
    assert all(n == 5 for n in per_q.values()), per_q
    rec = {r.variant: r.recall for r in opq_vs_pq_recall(spark, SF_SMOKE).collect()}
    assert set(rec) == {"pq_adc", "opq_pq"}
    for v in rec.values():
        assert 0.0 <= v <= 1.0


def test_opq_gate_serves_measured_winner_per_scale(spark):
    """The executable A/B gate (VERDICT r11 #7): at sf0.001 the
    rotation wins the measured recall A/B (0.28 vs 0.20 — SCALE.md
    §ANN) so the gate serves the OPQ index; at sf0.1 the rotation
    collapses (0.04 vs 0.32, the root-caused MP-noise-edge
    degeneracy) so the gate serves plain PQ. This pins the
    per-scale CHOICE, not just the mechanism — if a fixture or
    codebook change flips a measured winner, this fails instead of
    silently shipping the losing pre-transform."""
    from dist_map_reduce_spark.functions.similarity_opq import (
        opq_gated_topk,
    )
    from dist_map_reduce_spark.registry import QUERIES

    gated = {
        (r.query_id, r.vec_id)
        for r in opq_gated_topk(spark, SF_SMOKE).collect()
    }
    opq = {
        (r.query_id, r.vec_id) for r in opq_pq_topk(spark, SF_SMOKE).collect()
    }
    assert gated == opq, "sf0.001: measured winner is the OPQ rotation"

    # the sf0.1 half is the one test computing at that scale: it
    # re-keys the shared slots (pq_subrows/pq_codes/exact5/...) to
    # sf0.1 — clear afterwards so later SF_SMOKE tests pay ONE
    # deterministic rebuild instead of holding sf0.1-sized cache
    from dist_map_reduce_spark import caching

    try:
        sf01 = "/root/testdata/sf0.1"
        gated01 = {
            (r.query_id, r.vec_id)
            for r in opq_gated_topk(spark, sf01).collect()
        }
        plain01 = {
            (r.query_id, r.vec_id)
            for r in QUERIES["similarity_ann_pq_adc_topk"](
                spark, sf01
            ).collect()
        }
        assert gated01 == plain01, "sf0.1: measured winner is plain PQ"
    finally:
        caching.clear()

