"""Semantic contracts of the r16 Lorenz/Gini (parity proves
Spark == DuckDB; these prove the statistic):

- decile shares, cumulative shares and Gini match a pure-Python
  recomputation (ranked-form Gini, ceil-decile boundaries);
- Lorenz curve invariants: cum_share is nondecreasing, ends at 1,
  n_customers sums to the customer count;
- closed-form extremes pinned on synthetic corpora: perfect
  equality → gini = 0 and a linear Lorenz curve; near-total
  concentration (one whale, n-1 zeros... zeros excluded by the
  orders rollup, so epsilon-spend minnows) → gini near (n-1)/n.
"""

from __future__ import annotations

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_lorenz_gini_matches_python_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.inequality import (
        lorenz_gini_customer_spend,
    )

    pdf = (
        lorenz_gini_customer_spend(spark, SF_SMOKE)
        .toPandas()
        .sort_values("decile")
        .reset_index(drop=True)
    )
    orders = load_table(spark, SF_SMOKE, "orders").toPandas()
    spend = {}
    for ck, tp in zip(orders.o_custkey, orders.o_totalprice):
        spend[ck] = spend.get(ck, 0) + round(tp * 100)
    xs = sorted((v, ck) for ck, v in spend.items())
    n = len(xs)
    total = sum(v for v, _ in xs)
    swx = sum((i + 1) * v for i, (v, _) in enumerate(xs))
    gini = 2.0 * swx / (n * total) - (n + 1.0) / n

    dec_sum = {}
    dec_n = {}
    for i, (v, _) in enumerate(xs, start=1):
        d = (10 * i + n - 1) // n
        dec_sum[d] = dec_sum.get(d, 0) + v
        dec_n[d] = dec_n.get(d, 0) + 1

    assert list(pdf.decile) == sorted(dec_sum)
    assert pdf.n_customers.sum() == n
    cum = 0
    for r in pdf.itertuples():
        assert r.n_customers == dec_n[r.decile]
        assert abs(r.decile_share - round(dec_sum[r.decile] / total, 6)) < 1e-12
        cum += dec_sum[r.decile]
        assert abs(r.cum_share - round(cum / total, 6)) < 1e-12
        assert r.n_total == n
        assert abs(r.gini - round(gini, 6)) < 1e-9
    assert abs(pdf.cum_share.iloc[-1] - 1.0) < 1e-9
    assert (pdf.cum_share.diff().dropna() >= 0).all()


def _write_orders(spark, tmp_path, spends):
    rows = [
        (i, ck, "2024-01-01", cents / 100.0)
        for i, (ck, cents) in enumerate(spends)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, od string, o_totalprice double",
    ).selectExpr(
        "o_orderkey", "o_custkey", "to_timestamp(od) AS o_orderdate",
        "o_totalprice",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))


def test_equality_and_concentration_extremes(spark, tmp_path):
    from dist_map_reduce_spark.operators.inequality import (
        lorenz_gini_customer_spend,
    )

    # 10 customers, equal spend: gini = 0, linear curve
    _write_orders(spark, tmp_path, [(ck, 10000) for ck in range(10)])
    pdf = (
        lorenz_gini_customer_spend(spark, str(tmp_path))
        .toPandas()
        .sort_values("decile")
    )
    assert (pdf.gini == 0.0).all()
    assert list(pdf.cum_share) == [round(d / 10, 6) for d in range(1, 11)]

    # one whale (1M cents) + nine 1-cent minnows: gini -> 0.9-ish.
    # The source parquet is overwritten IN PLACE, so the slot cache
    # must be cleared first (caching.py's documented staleness
    # contract; the r17 snapshot slots do not inherit CacheManager's
    # incidental recache-by-path on overwrite).
    from dist_map_reduce_spark import caching

    caching.clear()
    _write_orders(
        spark, tmp_path, [(0, 100000000)] + [(ck, 1) for ck in range(1, 10)]
    )
    pdf2 = lorenz_gini_customer_spend(spark, str(tmp_path)).toPandas()
    expected = 2.0 * sum(
        i * v
        for i, v in enumerate([1] * 9 + [100000000], start=1)
    ) / (10 * 100000009) - 11.0 / 10
    assert abs(pdf2.gini.iloc[0] - round(expected, 6)) < 1e-9
    assert pdf2.gini.iloc[0] > 0.89
