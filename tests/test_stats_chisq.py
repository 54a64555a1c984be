"""Semantic contracts of the r16 chi-square independence test
(parity proves Spark == DuckDB; these prove the statistic):

- the contingency table, margins, expected counts, per-cell
  contributions, chi2 and df match a pure-Python recomputation
  from the fixture join (formula identity);
- the grid is COMPLETE: |segments| x |priorities| rows, margins
  consistent (sum of n_obs over a row = n_seg, over a column =
  n_prio, overall = n_total);
- zero cells are materialized with contribution = expected, pinned
  on a synthetic corpus with a structurally-empty cell;
- chi2_total equals the sum of unrounded contributions to within
  the seam round, and df = (R-1)(C-1).
"""

from __future__ import annotations

from collections import Counter

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_chisq_matches_python_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.stats_chisq import (
        chisq_segment_priority,
    )

    pdf = chisq_segment_priority(spark, SF_SMOKE).toPandas()
    orders = load_table(spark, SF_SMOKE, "orders").toPandas()
    customer = load_table(spark, SF_SMOKE, "customer").toPandas()
    joined = orders.merge(
        customer, left_on="o_custkey", right_on="c_custkey"
    )
    obs = Counter(zip(joined.c_mktsegment, joined.o_orderpriority))
    segs = sorted({s for s, _ in obs})
    prios = sorted({p for _, p in obs})
    n_seg = Counter()
    n_prio = Counter()
    for (s, p), n in obs.items():
        n_seg[s] += n
        n_prio[p] += n
    n_total = sum(obs.values())

    assert len(pdf) == len(segs) * len(prios)
    chi2 = 0.0
    for s in segs:
        for p in prios:
            exp = (n_seg[s] * n_prio[p]) / n_total
            chi2 += (obs[(s, p)] - exp) ** 2 / exp
    got = {(r.seg, r.prio): r for r in pdf.itertuples()}
    for s in segs:
        for p in prios:
            r = got[(s, p)]
            exp = (n_seg[s] * n_prio[p]) / n_total
            assert r.n_obs == obs[(s, p)]
            assert r.n_seg == n_seg[s]
            assert r.n_prio == n_prio[p]
            assert r.n_total == n_total
            assert abs(r.expected - round(exp, 6)) < 1e-12
            assert (
                abs(
                    r.contribution
                    - round((obs[(s, p)] - exp) ** 2 / exp, 6)
                )
                < 1e-12
            )
            assert abs(r.chi2_total - round(chi2, 6)) < 1e-6
            assert r.df == (len(segs) - 1) * (len(prios) - 1)


def test_mutual_info_matches_python_reference(spark):
    import math

    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.stats_chisq import (
        mutual_info_segment_priority,
    )

    r = (
        mutual_info_segment_priority(spark, SF_SMOKE)
        .toPandas()
        .iloc[0]
    )
    orders = load_table(spark, SF_SMOKE, "orders").toPandas()
    customer = load_table(spark, SF_SMOKE, "customer").toPandas()
    joined = orders.merge(
        customer, left_on="o_custkey", right_on="c_custkey"
    )
    obs = Counter(zip(joined.c_mktsegment, joined.o_orderpriority))
    n_seg = Counter()
    n_prio = Counter()
    for (s, p), n in obs.items():
        n_seg[s] += n
        n_prio[p] += n
    N = sum(obs.values())
    mi = sum(
        (n / N) * math.log(n * N / (n_seg[s] * n_prio[p]))
        for (s, p), n in obs.items()
    )
    h_s = -sum((v / N) * math.log(v / N) for v in n_seg.values())
    h_p = -sum((v / N) * math.log(v / N) for v in n_prio.values())

    assert r.n_total == N
    assert abs(r.mi - round(mi, 6)) < 1e-9
    assert abs(r.h_seg - round(h_s, 6)) < 1e-9
    assert abs(r.h_prio - round(h_p, 6)) < 1e-9
    assert abs(r.nmi - round(mi / math.sqrt(h_s * h_p), 6)) < 1e-9
    # information inequalities: 0 <= MI <= min(H)
    assert -1e-9 <= r.mi <= min(r.h_seg, r.h_prio) + 1e-9


def test_zero_cells_materialized(spark, tmp_path):
    """Customers in segment Z never order priority HIGH: the (Z,
    HIGH) cell must appear with n_obs = 0 and contribution ==
    expected (the (0-e)^2/e identity)."""
    from dist_map_reduce_spark.operators.stats_chisq import (
        chisq_segment_priority,
    )

    customer = [(1, "A"), (2, "A"), (3, "Z")]
    orders = [
        (10, 1, "HIGH"),
        (11, 1, "LOW"),
        (12, 2, "HIGH"),
        (13, 3, "LOW"),
        (14, 3, "LOW"),
    ]
    spark.createDataFrame(
        customer, "c_custkey bigint, c_mktsegment string"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint, o_orderpriority string"
    ).write.parquet(str(tmp_path / "orders.parquet"))

    pdf = chisq_segment_priority(spark, str(tmp_path)).toPandas()
    assert len(pdf) == 4  # 2 segments x 2 priorities, complete grid
    z_high = pdf[(pdf.seg == "Z") & (pdf.prio == "HIGH")].iloc[0]
    assert z_high.n_obs == 0
    assert z_high.expected > 0
    assert z_high.contribution == z_high.expected
    assert (pdf.df == 1).all()
