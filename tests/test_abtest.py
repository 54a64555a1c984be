"""Semantic contracts of the r16 two-proportion A/B test (parity
proves Spark == DuckDB; these prove the statistic):

- counts, rates, diff, pooled SE and z match a pure-Python
  recomputation (formula identity: pooled two-proportion z-test);
- arm assignment is the user_id parity split and conversion is
  "≥1 purchase" (pinned on a synthetic corpus with known counts);
- the degenerate all-convert split emits se = 0 with NULL z (no
  division blow-up).
"""

from __future__ import annotations

import math

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_abtest_matches_python_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.abtest import (
        abtest_purchase_conversion,
    )

    r = abtest_purchase_conversion(spark, SF_SMOKE).toPandas().iloc[0]
    ev = load_table(spark, SF_SMOKE, "events").toPandas()
    conv = ev.groupby("user_id").event_type.apply(
        lambda t: (t == "purchase").any()
    )
    n = {0: 0, 1: 0}
    x = {0: 0, 1: 0}
    for user, c in conv.items():
        n[user % 2] += 1
        x[user % 2] += int(c)

    assert (r.n_a, r.x_a, r.n_b, r.x_b) == (n[0], x[0], n[1], x[1])
    p_a, p_b = x[0] / n[0], x[1] / n[1]
    pooled = (x[0] + x[1]) / (n[0] + n[1])
    se = math.sqrt(pooled * (1 - pooled) * (1 / n[0] + 1 / n[1]))
    assert abs(r.p_a - round(p_a, 6)) < 1e-12
    assert abs(r.p_b - round(p_b, 6)) < 1e-12
    assert abs(r["diff"] - round(p_b - p_a, 6)) < 1e-12
    assert abs(r.se - round(se, 6)) < 1e-12
    if se > 0:
        assert abs(r.z - round((p_b - p_a) / se, 6)) < 1e-9
    else:
        assert math.isnan(r.z)


def test_welch_matches_python_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.abtest import (
        abtest_purchase_value_welch,
    )

    r = (
        abtest_purchase_value_welch(spark, SF_SMOKE)
        .toPandas()
        .iloc[0]
    )
    ev = load_table(spark, SF_SMOKE, "events").toPandas()
    pur = ev[ev.event_type == "purchase"]
    vals = {0: [], 1: []}
    for u, v in zip(pur.user_id, pur.value):
        vals[u % 2].append(v)
    n = {a: len(v) for a, v in vals.items()}
    m = {a: sum(v) / n[a] for a, v in vals.items()}
    var_n = {
        a: sum((x - m[a]) ** 2 for x in vals[a]) / (n[a] - 1) / n[a]
        for a in (0, 1)
    }
    t = (m[1] - m[0]) / math.sqrt(var_n[0] + var_n[1])
    df = (var_n[0] + var_n[1]) ** 2 / (
        var_n[0] ** 2 / (n[0] - 1) + var_n[1] ** 2 / (n[1] - 1)
    )
    assert (r.n_a, r.n_b) == (n[0], n[1])
    assert abs(r.mean_a - round(m[0], 6)) < 1e-6
    assert abs(r.mean_b - round(m[1], 6)) < 1e-6
    assert abs(r["diff"] - round(m[1] - m[0], 6)) < 1e-6
    assert abs(r.t - round(t, 6)) < 1e-4
    assert abs(r.df - round(df, 6)) < 1e-2


def test_welch_single_purchase_arm_guards_variance(spark, tmp_path):
    """An arm with exactly one purchase has undefined sample
    variance: t and df must be NULL (review finding: the unguarded
    (n-1) division crashed ANSI-on Spark while DuckDB NULLed)."""
    from dist_map_reduce_spark.operators.abtest import (
        abtest_purchase_value_welch,
    )

    rows = [
        (2, "2024-01-01 00:00:00", 1, "purchase", 5.0),  # arm 0, n=1
        (1, "2024-01-01 00:00:01", 2, "purchase", 3.0),  # arm 1
        (3, "2024-01-01 00:00:02", 3, "purchase", 4.0),  # arm 1
    ]
    spark.createDataFrame(
        rows,
        "user_id bigint, ts_s string, event_id bigint, "
        "event_type string, value double",
    ).selectExpr(
        "user_id", "to_timestamp(ts_s) AS ts", "event_id",
        "event_type", "value",
    ).write.parquet(str(tmp_path / "events.parquet"))

    r = (
        abtest_purchase_value_welch(spark, str(tmp_path))
        .toPandas()
        .iloc[0]
    )
    assert (r.n_a, r.n_b) == (1, 2)
    assert r.mean_a == 5.0 and r.mean_b == 3.5
    assert math.isnan(r.t) and math.isnan(r.df)


def test_degenerate_split_guards_z(spark, tmp_path):
    """Every user purchases: pooled = 1, se = 0, z NULL; arm counts
    follow user_id parity."""
    from dist_map_reduce_spark.operators.abtest import (
        abtest_purchase_conversion,
    )

    rows = [
        (u, "2024-01-01 00:00:0%d" % u, u, "purchase", 1.0)
        for u in range(6)
    ]
    spark.createDataFrame(
        rows,
        "user_id bigint, ts_s string, event_id bigint, "
        "event_type string, value double",
    ).selectExpr(
        "user_id", "to_timestamp(ts_s) AS ts", "event_id",
        "event_type", "value",
    ).write.parquet(str(tmp_path / "events.parquet"))

    r = abtest_purchase_conversion(spark, str(tmp_path)).toPandas().iloc[0]
    assert (r.n_a, r.x_a, r.n_b, r.x_b) == (3, 3, 3, 3)
    assert r.p_a == 1.0 and r.p_b == 1.0
    assert r.se == 0.0
    assert math.isnan(r.z)
