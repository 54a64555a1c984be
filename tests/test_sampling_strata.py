"""Semantic contracts of the r16 Hamilton stratified sampler (parity
proves Spark == DuckDB; these prove the apportionment and the plan):

- the quota vector equals a pure-Python largest-remainder reference
  on the fixture's stratum sizes (algorithm identity, not just
  self-consistency);
- apportionment laws: sum(quota) == BUDGET, quota in {base, base+1},
  quota <= n_docs, topup only where rem > 0;
- a skewed synthetic corpus (stratum sizes 1 / 3 / 46) allocates per
  the reference, the singleton stratum is never over-drawn, and the
  sampled ids are exactly the per-stratum md5 bottom-quota a
  pure-Python race computes (sample CONTENT, not just counts);
- the corpus-scale window carries the CONSTANT pre-filter bound, so
  the physical plan contains WindowGroupLimit (no full per-stratum
  sort — the reservoir.py scale guarantee, re-pinned here because
  the quota cut is data-dependent and would NOT rewrite on its own).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _py_hamilton(sizes: dict[str, int], budget: int) -> dict[str, int]:
    n = sum(sizes.values())
    base = {g: budget * c // n for g, c in sizes.items()}
    rem = {g: budget * c % n for g, c in sizes.items()}
    short = budget - sum(base.values())
    order = sorted(
        (g for g in sizes if rem[g] > 0), key=lambda g: (-rem[g], g)
    )
    for g in order[:short]:
        base[g] += 1
    return base


def _py_prio(doc_id: int) -> int:
    return int(
        hashlib.md5(f"strat:{doc_id}".encode()).hexdigest()[:12], 16
    )


def test_quota_vector_matches_python_reference(spark):
    from dist_map_reduce_spark.functions.sampling_strata import (
        BUDGET,
        stratified_hamilton_sample,
    )

    pdf = stratified_hamilton_sample(spark, SF_SMOKE).toPandas()
    strata = pdf[pdf.source != "__total__"].set_index("source")
    expected = _py_hamilton(strata.n_docs.to_dict(), BUDGET)
    assert strata.quota.to_dict() == expected

    total = pdf[pdf.source == "__total__"].iloc[0]
    assert int(total.quota) == BUDGET == int(total.n_sampled)
    assert (strata.quota - strata.base_quota).isin([0, 1]).all()
    assert (strata.quota <= strata.n_docs).all()
    assert (strata.loc[strata.topup == 1, "rem_num"] > 0).all()
    assert (strata.n_sampled == strata.quota).all()


def test_skewed_strata_allocation_and_sample_content(spark):
    import os
    import tempfile

    from dist_map_reduce_spark.functions.sampling_strata import (
        BUDGET,
        stratified_hamilton_sample,
    )

    # N = 150 > BUDGET = 97, as the module's safety proof requires;
    # the singleton stratum lands base 0 with a positive remainder,
    # exercising the quota-0-or-1 boundary
    sizes = {"tiny": 1, "small": 5, "big": 144}
    rows, i = [], 0
    for g, c in sizes.items():
        for _ in range(c):
            rows.append((i, f"t{i}", "en", g, 2))
            i += 1
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        pdf = stratified_hamilton_sample(spark, d).toPandas()
    strata = pdf[pdf.source != "__total__"].set_index("source")
    expected = _py_hamilton(sizes, BUDGET)
    assert strata.quota.to_dict() == expected
    assert (strata.quota <= strata.n_docs).all()
    assert int(pdf[pdf.source == "__total__"].iloc[0].n_sampled) == BUDGET
    # sample content: per-stratum bottom-quota by the md5 race
    by_src: dict[str, list[tuple[int, int]]] = {}
    for did, _, _, g, _ in rows:
        by_src.setdefault(g, []).append((_py_prio(did), did))
    for g, q in expected.items():
        want = sum(d for _, d in sorted(by_src[g])[:q])
        assert int(strata.loc[g, "sample_id_sum"]) == want, g


def test_plan_has_window_group_limit(spark):
    from dist_map_reduce_spark.functions.sampling_strata import (
        stratified_hamilton_sample,
    )

    plan = (
        stratified_hamilton_sample(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan[:2000]
