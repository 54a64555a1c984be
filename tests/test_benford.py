"""Semantic contracts of the r16 Benford audit (parity proves
Spark == DuckDB; these prove the statistic):

- digit counts, proportions, expected Benford proportions,
  deviations and MAD match a pure-Python recomputation from the
  fixture (formula identity, incl. that p_exp = ln(1+1/d)/ln(10));
- the grid is complete (digits 1..9, zero cells materialized) and
  proportions sum to 1;
- digit extraction is the first significant digit of the amount,
  pinned on a synthetic corpus: sub-unit amounts (0.42 → 42 cents →
  digit 4), exclusion of non-positive amounts, zero-cell
  materialization, and a digit-concentrated corpus whose deviation
  equals p_obs − p_exp exactly.
"""

from __future__ import annotations

import math
from collections import Counter

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_benford_matches_python_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.benford import (
        benford_order_totals,
    )

    pdf = (
        benford_order_totals(spark, SF_SMOKE)
        .toPandas()
        .sort_values("digit")
        .reset_index(drop=True)
    )
    orders = load_table(spark, SF_SMOKE, "orders").toPandas()
    cents = [round(x * 100) for x in orders.o_totalprice if x > 0]
    obs = Counter(int(str(c)[0]) for c in cents)
    total = len(cents)

    assert list(pdf.digit) == list(range(1, 10))
    assert (pdf.n_total == total).all()
    assert pdf.n_obs.sum() == total
    mad = (
        sum(
            abs(obs[d] / total - math.log(1 + 1 / d) / math.log(10))
            for d in range(1, 10)
        )
        / 9
    )
    for r in pdf.itertuples():
        p_exp = math.log(1 + 1 / r.digit) / math.log(10)
        assert r.n_obs == obs[r.digit]
        assert abs(r.p_obs - round(obs[r.digit] / total, 6)) < 1e-12
        assert abs(r.p_exp - round(p_exp, 6)) < 1e-12
        assert (
            abs(r.deviation - round(obs[r.digit] / total - p_exp, 6))
            < 1e-12
        )
        assert abs(r.mad_total - round(mad, 6)) < 1e-6


def test_first_digit_extraction_edges(spark, tmp_path):
    """Sub-unit amounts take the first digit of the CENTS integer
    (0.42 → 42 cents → digit 4); non-positive amounts are excluded;
    zero digit cells materialize with n_obs = 0."""
    from dist_map_reduce_spark.operators.benford import (
        benford_order_totals,
    )

    amounts = [0.42, 0.42, 7000.0, 77.77, 0.07, -5.0, 0.0]
    spark.createDataFrame(
        [(i, a) for i, a in enumerate(amounts)],
        "o_orderkey bigint, o_totalprice double",
    ).write.parquet(str(tmp_path / "orders.parquet"))

    pdf = (
        benford_order_totals(spark, str(tmp_path))
        .toPandas()
        .sort_values("digit")
        .reset_index(drop=True)
    )
    assert list(pdf.digit) == list(range(1, 10))
    by_digit = dict(zip(pdf.digit, pdf.n_obs))
    assert by_digit == {1: 0, 2: 0, 3: 0, 4: 2, 5: 0, 6: 0, 7: 3,
                        8: 0, 9: 0}
    assert (pdf.n_total == 5).all()
    seven = pdf[pdf.digit == 7].iloc[0]
    p_exp7 = math.log(1 + 1 / 7) / math.log(10)
    assert abs(seven.p_obs - 0.6) < 1e-12
    assert abs(seven.deviation - round(0.6 - p_exp7, 6)) < 1e-12
