"""Semantic contracts of the r16 PSI drift monitor (parity proves
Spark == DuckDB; these prove the statistic itself):

- the per-bucket psi and the total equal a pure-Python PSI computed
  from the query's own histograms (formula identity: Laplace
  smoothing, ln, the -1 total row);
- conservation: n_base sums to |orders|, n_merged to
  |orders| - |deletes| + |inserts| (the cdc_merge feed arithmetic);
- the drift is honestly non-zero (the +100.00 update arm moves real
  mass across bucket boundaries) and every bucket is in [0, 9] or
  the -1 total.
"""

from __future__ import annotations

import hashlib
import math

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _cdc_bucket(k: int) -> int:
    return int(hashlib.md5(f"cdc:{k}".encode()).hexdigest()[:8], 16) % 10


def test_psi_matches_python_reference_and_conservation(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.drift import (
        N_BUCKETS,
        drift_psi_orders,
    )

    pdf = drift_psi_orders(spark, SF_SMOKE).toPandas()
    cells = pdf[pdf.bucket >= 0].set_index("bucket").sort_index()
    total = pdf[pdf.bucket == -1].iloc[0]
    assert cells.index.isin(range(N_BUCKETS)).all()

    nb, nm = cells.n_base.sum(), cells.n_merged.sum()
    assert int(total.n_base) == nb and int(total.n_merged) == nm

    orders = load_table(spark, SF_SMOKE, "orders").toPandas()
    buckets = orders.o_orderkey.map(_cdc_bucket)
    n_del = int((buckets == 2).sum())
    n_ins = int((buckets == 3).sum())
    assert nb == len(orders)
    assert nm == len(orders) - n_del + n_ins

    # pure-Python PSI from the query's own histograms — pins the
    # Laplace smoothing, the ln, and the rounding seam
    psi_total = 0.0
    for b, row in cells.iterrows():
        p = (row.n_base + 1) / (nb + N_BUCKETS)
        q = (row.n_merged + 1) / (nm + N_BUCKETS)
        contrib = (p - q) * math.log(p / q)
        assert abs(round(contrib, 6) - row.psi) < 1e-9, b
        psi_total += contrib
    assert abs(round(psi_total, 6) - total.psi) < 2e-6
    assert total.psi > 0, "vacuously zero drift"


def test_total_row_proportions_sum_to_one(spark):
    from dist_map_reduce_spark.operators.drift import drift_psi_orders

    pdf = drift_psi_orders(spark, SF_SMOKE).toPandas()
    total = pdf[pdf.bucket == -1].iloc[0]
    # Laplace proportions over the full bucket domain sum to 1 only
    # when every bucket has a row; the total row sums the PRESENT
    # buckets, so it is <= 1 and close to 1 on the fixture
    assert 0.9 < total.p_base <= 1.0 + 1e-9
    assert 0.9 < total.p_merged <= 1.0 + 1e-9
