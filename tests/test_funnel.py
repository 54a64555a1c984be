"""Semantic contracts of the r16 ordered funnel (parity proves
Spark == DuckDB; these prove the funnel semantics):

- per-step cohorts match a pure-pandas sequential recomputation
  (first-touch, strictly-after ordering) — counts AND the implied
  user sets via the frontier helper;
- cohorts are nested, so counts are monotone non-increasing;
- ordering is STRICT: a user whose step-k events all precede (or
  tie) their step-(k-1) commit time is excluded — pinned on a
  synthetic corpus where the unordered "did all steps" count
  differs from the ordered count;
- conversion ratios equal round(n_k / n_{k-1}, 6) / round(n_k /
  n_1, 6) and the step-1 row has NULL conv_from_prev,
  conv_from_start = 1.0.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _pandas_funnel(ev: pd.DataFrame, steps) -> list[set]:
    """Reference: per-user sequential first-touch commit times."""
    cohorts = []
    t_prev: dict = {}
    for k, step in enumerate(steps):
        sub = ev[ev.event_type == step]
        t_cur = {}
        for user, ts in zip(sub.user_id, sub.ts):
            if k > 0 and (user not in t_prev or ts <= t_prev[user]):
                continue
            if user not in t_cur or ts < t_cur[user]:
                t_cur[user] = ts
        cohorts.append(set(t_cur))
        t_prev = t_cur
    return cohorts


def test_funnel_matches_pandas_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.funnel import (
        STEPS,
        funnel_conversion_events,
        funnel_frontiers,
    )

    pdf = (
        funnel_conversion_events(spark, SF_SMOKE)
        .toPandas()
        .sort_values("step")
        .reset_index(drop=True)
    )
    ev = load_table(spark, SF_SMOKE, "events").toPandas()
    cohorts = _pandas_funnel(ev, STEPS)

    assert list(pdf.step) == [1, 2, 3, 4]
    assert list(pdf.event_type) == list(STEPS)
    assert list(pdf.n_users) == [len(c) for c in cohorts]
    # frontier user sets themselves match, not just the counts
    for frontier, cohort in zip(funnel_frontiers(spark, SF_SMOKE), cohorts):
        assert {r.user_id for r in frontier.collect()} == cohort

    # nested cohorts => monotone non-increasing counts
    assert all(
        a >= b for a, b in zip(pdf.n_users, pdf.n_users[1:])
    )
    # ratio identities + step-1 edge values
    assert math.isnan(pdf.conv_from_prev[0])
    assert pdf.conv_from_start[0] == 1.0
    for k in range(1, 4):
        assert abs(
            pdf.conv_from_prev[k]
            - round(pdf.n_users[k] / pdf.n_users[k - 1], 6)
        ) < 1e-12
        assert abs(
            pdf.conv_from_start[k]
            - round(pdf.n_users[k] / pdf.n_users[0], 6)
        ) < 1e-12


def test_time_to_convert_matches_pandas_reference(spark):
    """Transition stats equal a statistics.median / exact-integer
    recomputation over the frontier commit times."""
    import statistics

    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.funnel import (
        STEPS,
        funnel_time_to_convert,
    )

    pdf = funnel_time_to_convert(spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events").toPandas()
    # sequential commit times per user, microsecond integers
    commits: list[dict] = []
    t_prev: dict = {}
    for k, step in enumerate(STEPS):
        sub = ev[ev.event_type == step]
        t_cur: dict = {}
        for user, ts in zip(sub.user_id, sub.ts):
            us = ts.value // 1000  # pandas ns -> us
            if k > 0 and (user not in t_prev or us <= t_prev[user]):
                continue
            if user not in t_cur or us < t_cur[user]:
                t_cur[user] = us
        commits.append(t_cur)
        t_prev = t_cur

    got = {(r.from_step, r.to_step): r for r in pdf.itertuples()}
    assert set(got) == {(1, 2), (2, 3), (3, 4), (1, 4)}
    for (a, b), r in got.items():
        deltas = [
            commits[b - 1][u] - commits[a - 1][u]
            for u in commits[b - 1]
        ]
        assert r.n_users == len(deltas)
        assert all(d > 0 for d in deltas)  # strictly-after chain
        assert abs(
            r.avg_seconds - round(sum(deltas) / len(deltas) / 1e6, 6)
        ) < 1e-9
        assert abs(
            r.median_seconds - round(statistics.median(deltas) / 1e6, 6)
        ) < 1e-9
        assert abs(r.min_seconds - round(min(deltas) / 1e6, 6)) < 1e-12
        assert abs(r.max_seconds - round(max(deltas) / 1e6, 6)) < 1e-12


def test_funnel_ordering_is_strict(spark, tmp_path):
    """user 1 does signup->view->click->purchase in order; user 2
    does all four but purchase BEFORE click commit; user 3 purchases
    at exactly the click commit time (tie => excluded under strict
    >). Unordered 'did-all' would count 3 at step 4; ordered counts 1."""
    from dist_map_reduce_spark.operators.funnel import (
        funnel_conversion_events,
    )

    rows = []
    base = "2024-01-01 00:0{}:00"
    for user, order in ((1, [0, 1, 2, 3]), (2, [0, 1, 3, 2])):
        for minute, step in zip(
            order, ["signup", "view", "click", "purchase"]
        ):
            rows.append((user, base.format(minute), step))
    rows += [
        (3, base.format(0), "signup"),
        (3, base.format(1), "view"),
        (3, base.format(2), "click"),
        (3, base.format(2), "purchase"),  # tie with click commit
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts_s string, event_type string"
    ).select(
        "user_id",
        F.to_timestamp("ts_s").alias("ts"),
        "event_type",
    )
    out = str(tmp_path / "events.parquet")
    df.write.parquet(out)

    pdf = (
        funnel_conversion_events(spark, str(tmp_path))
        .toPandas()
        .sort_values("step")
        .reset_index(drop=True)
    )
    assert list(pdf.n_users) == [3, 3, 3, 1]
