"""Semantic contracts of the r15 t-digest quantile merge — what the
cross-engine parity test can't state (parity proves Spark == DuckDB;
these prove both compute a CORRECT, honestly-lossy digest):

- rank-sandwich: each estimate must land between the exact quantiles
  at p +/- a slack derived from the digest's max cluster width (the
  approx_percentile_prices convention, loosened the same 10x);
- non-degeneracy: the digest must actually be lossy on the fixture
  (abs_err > 0 somewhere), else the oracle grades nothing;
- structure: the merged digest respects the DELTA bound and the
  quantile read-out is monotone in p.
"""

from __future__ import annotations

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()

# max cluster q-width of the piecewise scale function is ~1/(DELTA *
# min mid-segment slope) ~= 0.023 for DELTA=64; the interpolation
# between adjacent centroid midpoints keeps rank error below one
# cluster width. 0.05 is that bound with the usual 2x safety.
_RANK_SLACK = 0.05


def _panel(spark):
    return (
        registry.QUERIES["tdigest_quantile_merge"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("p")
        .reset_index(drop=True)
    )


def test_tdigest_estimates_sandwiched_by_exact_rank_band(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.tdigest import PROBES

    pdf = _panel(spark)
    assert list(pdf["p"]) == PROBES
    ev = load_table(spark, SF_SMOKE, "events")
    lo_ps = [max(p - _RANK_SLACK, 0.0) for p in PROBES]
    hi_ps = [min(p + _RANK_SLACK, 1.0) for p in PROBES]
    lo = ev.selectExpr(
        f"percentile(value, array({', '.join(map(repr, lo_ps))})) AS a"
    ).collect()[0].a
    hi = ev.selectExpr(
        f"percentile(value, array({', '.join(map(repr, hi_ps))})) AS a"
    ).collect()[0].a
    for i, row in pdf.iterrows():
        assert lo[i] <= row.tdigest_v <= hi[i], (
            f"p={row.p}: estimate {row.tdigest_v} outside exact band "
            f"[{lo[i]}, {hi[i]}]"
        )


def test_tdigest_error_is_nondegenerate_and_digest_bounded(spark):
    from dist_map_reduce_spark.operators.tdigest import DELTA

    pdf = _panel(spark)
    assert (pdf["abs_err"] > 0).any(), "digest is suspiciously exact"
    assert (pdf["n_centroids"] <= DELTA).all()
    assert (pdf["n_centroids"] > 1).all()
    est = list(pdf["tdigest_v"])
    assert est == sorted(est), "quantile read-out must be monotone in p"


def test_tdigest_cluster_function_cross_engine_identical(spark):
    """The whole determinism story rests on the cluster expression
    being bit-identical across engines; evaluate it on a dense grid
    of q values in BOTH engines and require exact equality — this is
    the direct check that dropping asin for the piecewise form
    removed the ulp/floor hazard."""
    import duckdb

    from dist_map_reduce_spark.operators.tdigest import _cluster_sql

    # an EVEN n never evaluates t = 0; an ODD n's median row lands
    # exactly there — the highest-risk input (64*s(0) = 32 sits on a
    # cluster boundary), so cover both (review finding, r15)
    for n in (100_000, 99_999):
        expr = _cluster_sql("(2.0e0 * ((CAST(r AS DOUBLE) - 0.5e0) / n) - 1.0e0)")
        sp = [
            r.c
            for r in spark.range(1, n + 1)
            .selectExpr("id AS r", f"{n} AS n")
            .selectExpr(f"{expr} AS c")
            .collect()
        ]
        dd = [
            r[0]
            for r in duckdb.connect()
            .execute(
                f"SELECT {expr} AS c FROM "
                f"(SELECT r, {n} AS n FROM generate_series(1, {n}) AS t(r)) "
                "ORDER BY r"
            )
            .fetchall()
        ]
        assert sp == dd, n


def test_scale_function_doubles_bitwise_identical_across_engines(spark):
    """Deeper than the cluster-id check: the s(t) DOUBLES themselves
    must agree bitwise, else a future node/segment edit could park a
    value one ulp across a floor boundary undetected. This is the
    direct regression test for the r15 review finding that DuckDB
    computed the slopes in exact DECIMAL arithmetic (bare literals)
    while Spark constant-folded doubles — e.g. the mid-segment slope
    0.47426 exact vs 0.4742599999999997."""
    import struct

    import duckdb

    from dist_map_reduce_spark.operators.tdigest import _NODES, scale_s_sql

    # node points, segment midpoints, and near-boundary offsets
    ts = []
    for (t0, _), (t1, _) in zip(_NODES, _NODES[1:]):
        ts += [t0, (t0 + t1) / 2.0, t1 - 1e-12]
    ts.append(1.0)
    expr = scale_s_sql("t")
    sp = [
        r.s
        for r in spark.createDataFrame([(t,) for t in ts], "t DOUBLE")
        .selectExpr(f"{expr} AS s", "t")
        .orderBy("t")
        .collect()
    ]
    # feed DuckDB e0 literals: a `[...]::DOUBLE[]` list goes through
    # DECIMAL and its decimal->double conversion is NOT the correctly
    # rounded string->double parse (measured 1 ulp off at
    # -0.950000000001), which would compare different INPUTS, not
    # different arithmetic
    # scientific-notation reprs (e.g. -1e-12) are already DOUBLE
    # literals in DuckDB; only plain decimals need the e0 suffix
    values = ", ".join(
        f"({t!r})" if "e" in repr(t) else f"({t!r}e0)" for t in ts
    )
    dd = [
        r[0]
        for r in duckdb.connect()
        .execute(
            f"SELECT {expr} AS s FROM (VALUES {values}) AS v(t) ORDER BY t"
        )
        .fetchall()
    ]
    assert [struct.pack("<d", v) for v in sp] == [
        struct.pack("<d", v) for v in dd
    ]


def test_partition_path_matches_rank_band_and_shuffles_nothing(spark):
    """The production build path (per-task digests — the 100 TB swap
    the module docstring argues): estimates from digests built over
    an 8-way repartition must land in the same exact rank band as
    the certified query's, and the build stage must contain NO
    exchange at all (mapInPandas digests each task's own Arrow
    batches in place — the r15 review caught the previous
    Window-over-spark_partition_id cut planning a hidden full-data
    shuffle; the only exchanges downstream move centroid-scale
    rows)."""
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.tdigest import (
        PROBES,
        partition_digests,
        tdigest_partition_quantiles,
    )

    ev = load_table(spark, SF_SMOKE, "events").repartition(8)
    pdf = (
        tdigest_partition_quantiles(spark, ev, "value")
        .toPandas()
        .sort_values("p")
        .reset_index(drop=True)
    )
    assert list(pdf["p"]) == PROBES
    assert pdf["n_centroids"].nunique() == 1
    lo_ps = [max(p - _RANK_SLACK, 0.0) for p in PROBES]
    hi_ps = [min(p + _RANK_SLACK, 1.0) for p in PROBES]
    raw = load_table(spark, SF_SMOKE, "events")
    lo = raw.selectExpr(
        f"percentile(value, array({', '.join(map(repr, lo_ps))})) AS a"
    ).collect()[0].a
    hi = raw.selectExpr(
        f"percentile(value, array({', '.join(map(repr, hi_ps))})) AS a"
    ).collect()[0].a
    for i, row in pdf.iterrows():
        assert lo[i] <= row.tdigest_v <= hi[i], (
            f"p={row.p}: partition-path estimate {row.tdigest_v} outside "
            f"[{lo[i]}, {hi[i]}]"
        )
    # build stage: the digest itself must not shuffle AT ALL —
    # assert on the digest built over the UN-repartitioned scan (the
    # repartition RoundRobin exchange above belongs to the test input)
    plan = (
        partition_digests(load_table(spark, SF_SMOKE, "events"), "value")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower(), plan


def test_partition_path_closed_loop_all_scales(spark):
    """Closed-loop certification of the PRODUCTION path (VERDICT r15
    #5): at every fixture scale, (a) the merged partition digest's
    total weight equals the exact row count — mass is conserved
    through build AND merge, the cross-engine-checkable half of the
    digest contract — and (b) the partition-path panel sits inside
    the SAME p +/- slack exact-rank envelope the certified query is
    held to (rank space is the digest's contractual error unit;
    absolute value error is distribution-scaled and incidentally
    looser/tighter per fixture). Engine-vs-engine only — no DuckDB."""
    from pyspark.sql import functions as F

    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.tdigest import (
        PROBES,
        merge_digests,
        partition_digests,
        tdigest_partition_quantiles,
    )

    lo_ps = [max(p - _RANK_SLACK, 0.0) for p in PROBES]
    hi_ps = [min(p + _RANK_SLACK, 1.0) for p in PROBES]
    for sf_dir in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        ev = load_table(spark, sf_dir, "events")
        n_exact = ev.count()
        g = (
            merge_digests(partition_digests(ev, "value"), "part")
            .agg(
                F.sum("gw").alias("total_w"),
                F.max("n_total").alias("n_total"),
            )
            .collect()[0]
        )
        assert g.total_w == n_exact == g.n_total, (
            f"{sf_dir}: merged weight {g.total_w} / n_total "
            f"{g.n_total} != exact rows {n_exact}"
        )
        pdf = (
            tdigest_partition_quantiles(spark, ev, "value")
            .toPandas()
            .sort_values("p")
            .reset_index(drop=True)
        )
        lo = ev.selectExpr(
            f"percentile(value, array({', '.join(map(repr, lo_ps))})) AS a"
        ).collect()[0].a
        hi = ev.selectExpr(
            f"percentile(value, array({', '.join(map(repr, hi_ps))})) AS a"
        ).collect()[0].a
        for i, row in pdf.iterrows():
            assert lo[i] <= row.tdigest_v <= hi[i], (
                f"{sf_dir} p={row.p}: partition-path estimate "
                f"{row.tdigest_v} outside [{lo[i]}, {hi[i]}]"
            )
