"""Semantic contracts of the r16 Misra-Gries heavy hitters (parity
proves Spark == DuckDB; these prove the summary itself):

- the merged counters equal a pure-Python batch-MG + PODS-2012 merge
  computed from the corpus's exact per-source counts (formula
  identity: λ_s, counter subtraction, merge, λ_m);
- one-sidedness: n_mg is positive and NEVER exceeds n_exact
  (the defining MG property, opposite sign to CMS's overcount);
- the error theorem: undercount ≤ err_budget = Σ_s λ_s + λ_m on
  every row, and err_budget ≤ n_tokens/(k+1) summed per source;
- completeness: every word whose exact corpus count exceeds
  err_budget is present in the output (the heavy-hitter guarantee);
- the output is at most MG_K rows.
"""

from __future__ import annotations

import re
from collections import Counter

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _python_mg(per_source: dict[str, Counter], k: int):
    """Batch Misra-Gries per source + the mergeable-summaries merge
    (add counters, subtract the (k+1)-th largest, clamp at 0)."""

    def lam_of(counts: list[int]) -> int:
        top = sorted(counts, reverse=True)
        return top[k] if len(top) > k else 0

    merged: Counter = Counter()
    err = 0
    for _, cnt in sorted(per_source.items()):
        lam = lam_of(list(cnt.values()))
        err += lam
        for w, f in cnt.items():
            if f > lam:
                merged[w] += f - lam
    lam_m = lam_of(list(merged.values()))
    err += lam_m
    final = {w: c - lam_m for w, c in merged.items() if c > lam_m}
    return final, err


def test_mg_matches_python_reference_and_theorems(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.text_mg import (
        MG_K,
        text_mg_heavy_hitters,
    )

    pdf = text_mg_heavy_hitters(spark, SF_SMOKE).toPandas()
    docs = load_table(spark, SF_SMOKE, "documents").toPandas()

    per_source: dict[str, Counter] = {}
    exact: Counter = Counter()
    for _, row in docs.iterrows():
        words = [w for w in re.split(r"[^a-zA-Z]+", row.text) if w]
        per_source.setdefault(row.source, Counter()).update(words)
        exact.update(words)

    final, err = _python_mg(per_source, MG_K)

    # formula identity with the pure-Python summary
    got = dict(zip(pdf.word, pdf.n_mg))
    assert got == final
    assert (pdf.err_budget == err).all()
    assert len(pdf) <= MG_K

    # one-sidedness + the error theorem, row by row
    assert (pdf.n_mg > 0).all()
    assert (pdf.n_mg <= pdf.n_exact).all()
    assert (pdf.undercount == pdf.n_exact - pdf.n_mg).all()
    assert (pdf.undercount <= pdf.err_budget).all()
    assert bool(pdf.within_bound.all())

    # the budget's own bound: λ_s <= n_s/(k+1) summed, + λ_m
    budget_cap = sum(
        sum(c.values()) // (MG_K + 1) for c in per_source.values()
    )
    lam_m_cap = sum(exact.values()) // (MG_K + 1)
    assert err <= budget_cap + lam_m_cap

    # completeness: every word heavier than the budget is present
    heavy = {w for w, f in exact.items() if f > err}
    assert heavy <= set(pdf.word)

    # exact counts in the output are the true corpus counts
    for w, n in zip(pdf.word, pdf.n_exact):
        assert exact[w] == n
