"""Semantic contracts of the r16 EWMA smoother — what cross-engine
parity can't state (parity proves Spark == DuckDB; these prove the
number IS the truncated adjust=True EWMA):

- recurrence check: one full series recomputed against an
  independent pure-Python reference of the definition;
- warm-up boundary: the first row of every series has n_window = 1
  and ewma == round(value, 6);
- coverage: exactly one output row per input event;
- plan shape: one series-keyed window, no Cartesian.
"""

from __future__ import annotations

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _out(spark):
    return registry.QUERIES["events_ewma_smooth"](
        spark, SF_SMOKE
    ).toPandas()


def _ref_ewma(values, w=32):
    """Pure-Python W-truncated adjust=True EWMA, a = 1/2."""
    out = []
    for t in range(len(values)):
        m = min(t + 1, w)
        num = sum(values[t - j] * 2.0**-j for j in range(m))
        den = 2.0 - 2.0 ** (1 - m)
        out.append(round(num / den, 6))
    return out


def test_recurrence_against_python_reference(spark):
    pdf = _out(spark)
    etype = pdf["event_type"].iloc[0]
    series = pdf[pdf["event_type"] == etype].sort_values(
        ["ts", "event_id"]
    )
    ref = _ref_ewma(series["value"].tolist())
    got = series["ewma"].tolist()
    assert len(ref) == len(got)
    # the reference sums in a different order (ULP drift possible at
    # the 6th decimal's rounding boundary) — allow 1e-6, no more
    assert all(abs(a - b) <= 1.000001e-6 for a, b in zip(ref, got)), (
        [(a, b) for a, b in zip(ref, got) if abs(a - b) > 1.000001e-6][:3]
    )


def test_warmup_and_coverage(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.timeseries_ewma import W_EWMA

    pdf = _out(spark)
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert len(pdf) == n_events
    assert pdf["n_window"].between(1, W_EWMA).all()
    firsts = (
        pdf.sort_values(["ts", "event_id"]).groupby("event_type").head(1)
    )
    assert (firsts["n_window"] == 1).all()
    assert (firsts["ewma"] == firsts["value"].round(6)).all()
    # long series must reach the full window
    sizes = pdf.groupby("event_type").size()
    if (sizes >= W_EWMA).any():
        assert (pdf["n_window"] == W_EWMA).any()


def test_plan_single_window_no_cartesian(spark):
    plan = (
        registry.QUERIES["events_ewma_smooth"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan
    # one shuffle: the series-key exchange feeding the window sort
    assert plan.count("Exchange") == 1
