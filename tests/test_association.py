"""Semantic contracts of the r16 market-basket rules (parity proves
Spark == DuckDB; these prove the statistics):

- support / confidence / lift equal a pure-pandas recomputation from
  the distinct (order, brand) baskets (formula identity);
- every emitted rule passes both thresholds: n_both ≥ MIN_CO and the
  INTEGER cross-multiplied lift test n_both·N > n_ante·n_cons (so
  lift > 1 strictly, no float-boundary hole);
- directional symmetry: a→b is emitted iff b→a is (identical n_both
  and lift — lift is symmetric; confidence direction differs);
- margins and n_baskets are the true basket counts.
"""

from __future__ import annotations

from collections import Counter
from itertools import combinations

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_rules_match_pandas_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.association import (
        MIN_CO,
        basket_brand_rules,
    )

    pdf = basket_brand_rules(spark, SF_SMOKE).toPandas()
    li = load_table(spark, SF_SMOKE, "lineitem").toPandas()
    part = load_table(spark, SF_SMOKE, "part").toPandas()
    items = li.merge(part, left_on="l_partkey", right_on="p_partkey")

    basket_sets = items.groupby("l_orderkey").p_brand.apply(frozenset)
    n_baskets = len(basket_sets)
    margin = Counter()
    both = Counter()
    for bset in basket_sets:
        margin.update(bset)
        for x, y in combinations(sorted(bset), 2):
            both[(x, y)] += 1

    # expected directed rule set under both thresholds
    expected = {}
    for (x, y), n in both.items():
        for ante, cons in ((x, y), (y, x)):
            if n >= MIN_CO and n * n_baskets > margin[ante] * margin[cons]:
                expected[(ante, cons)] = n
    got = {(r.ante, r.cons): r.n_both for r in pdf.itertuples()}
    assert got == expected

    for r in pdf.itertuples():
        assert r.n_baskets == n_baskets
        assert r.n_ante == margin[r.ante]
        assert r.n_cons == margin[r.cons]
        assert r.n_both >= MIN_CO
        # strict integer lift test, then the float columns
        assert r.n_both * n_baskets > r.n_ante * r.n_cons
        assert abs(r.support - round(r.n_both / n_baskets, 6)) < 1e-12
        assert abs(r.confidence - round(r.n_both / r.n_ante, 6)) < 1e-12
        assert (
            abs(
                r.lift
                - round(
                    (r.n_both * n_baskets) / (r.n_ante * r.n_cons), 6
                )
            )
            < 1e-12
        )

    # directional symmetry of the lift-filtered set
    assert {(r.ante, r.cons) for r in pdf.itertuples()} == {
        (r.cons, r.ante) for r in pdf.itertuples()
    }
