"""Semantic contracts of the r16 seasonality profile (parity proves
Spark == DuckDB; these prove the statistic):

- per-cell n/mean/std and the table R² match a pure-Python
  recomputation (one-way-ANOVA decomposition: R² = 1 − SSE/SST,
  sample std);
- cell keys are ISO dow (1 = Monday) × hour of the shared UTC
  reading, pinned on known timestamps;
- a perfectly-seasonal synthetic corpus (value a function of the
  cell) yields R² = 1 and zero stds; singleton cells NULL their
  std; total n is preserved.
"""

from __future__ import annotations

import math
from collections import defaultdict

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_profile_matches_python_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.seasonality import (
        events_seasonality_dow_hour,
    )

    pdf = events_seasonality_dow_hour(spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events").toPandas()
    cells = defaultdict(list)
    for ts, v in zip(ev.ts, ev.value):
        cells[(ts.isoweekday(), ts.hour)].append(v)

    sst = sum(v * v for vs in cells.values() for v in vs)
    t1 = sum(v for vs in cells.values() for v in vs)
    n_total = sum(len(vs) for vs in cells.values())
    sst -= t1 * t1 / n_total
    sse = sum(
        sum(v * v for v in vs) - sum(vs) ** 2 / len(vs)
        for vs in cells.values()
    )
    r2 = 1 - sse / sst

    assert len(pdf) == len(cells)
    assert pdf.n.sum() == n_total == len(ev)
    for r in pdf.itertuples():
        vs = cells[(r.dow, r.hr)]
        assert r.n == len(vs)
        assert abs(r.mean_value - round(sum(vs) / len(vs), 6)) < 1e-5
        if len(vs) >= 2:
            std = math.sqrt(
                (sum(v * v for v in vs) - sum(vs) ** 2 / len(vs))
                / (len(vs) - 1)
            )
            assert abs(r.std_value - round(std, 6)) < 1e-4
        assert abs(r.r2_seasonal - round(r2, 6)) < 1e-5
        assert r.n_total == n_total


def test_fp_negative_variance_clamped(spark, tmp_path, duck):
    """Three identical 0.1 values give an FP variance numerator of
    ~-3e-18: both engines must clamp to std 0 (review finding:
    DuckDB sqrt(negative) hard-errors without the greatest guard).
    Runs the ORACLE too — the bug was on the DuckDB side."""
    from dist_map_reduce_spark import registry
    from dist_map_reduce_spark.operators.seasonality import (
        events_seasonality_dow_hour,
    )

    rows = [
        (i, "2024-01-01 05:0%d:00" % i, 1, 0.1) for i in range(3)
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts_s string, user_id bigint, value double"
    ).selectExpr(
        "event_id", "to_timestamp(ts_s) AS ts", "user_id", "value"
    ).write.parquet(str(tmp_path / "events.parquet"))

    pdf = events_seasonality_dow_hour(spark, str(tmp_path)).toPandas()
    assert len(pdf) == 1
    assert pdf.iloc[0].std_value == 0.0

    duck.execute(
        f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/events.parquet/*.parquet'"
    )
    od = duck.execute(
        registry.ORACLES["events_seasonality_dow_hour"]
    ).fetchdf()
    assert od.iloc[0].std_value == 0.0


def test_perfect_seasonality_and_cell_keys(spark, tmp_path):
    """2024-01-01 is a Monday (isodow 1). Value = dow * 100 + hour
    makes the metric a pure function of the cell: R² = 1, std 0 on
    multi-row cells, NULL std on the singleton."""
    from dist_map_reduce_spark.operators.seasonality import (
        events_seasonality_dow_hour,
    )

    rows = [
        (1, "2024-01-01 05:10:00", 1, 105.0),  # Mon 5h (x2)
        (2, "2024-01-01 05:50:00", 1, 105.0),
        (3, "2024-01-02 07:00:00", 1, 207.0),  # Tue 7h singleton
        (4, "2024-01-07 23:00:00", 1, 723.0),  # Sun 23h (x2)
        (5, "2024-01-14 23:30:00", 1, 723.0),  # next Sun, same cell
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts_s string, user_id bigint, value double"
    ).selectExpr(
        "event_id", "to_timestamp(ts_s) AS ts", "user_id", "value"
    ).write.parquet(str(tmp_path / "events.parquet"))

    pdf = events_seasonality_dow_hour(spark, str(tmp_path)).toPandas()
    got = {(r.dow, r.hr): r for r in pdf.itertuples()}
    assert set(got) == {(1, 5), (2, 7), (7, 23)}
    assert got[(1, 5)].n == 2 and got[(1, 5)].mean_value == 105.0
    assert got[(1, 5)].std_value == 0.0
    assert math.isnan(got[(2, 7)].std_value)  # singleton cell
    assert got[(7, 23)].n == 2
    assert (pdf.r2_seasonal == 1.0).all()
