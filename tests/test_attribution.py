"""Semantic contracts of the r16 last-touch attribution (parity
proves Spark == DuckDB; these prove the model):

- per-channel purchase counts and attributed values match a
  pure-Python sequential recomputation over each user's
  (ts, event_id)-ordered stream;
- the '(none)' bucket holds exactly the purchases with no prior
  non-purchase event;
- tie semantics pinned on a synthetic corpus: a touch sharing the
  purchase's timestamp counts as prior iff its event_id is smaller
  (the unique total order), and an interleaved purchase does NOT
  become a channel;
- value_share sums to 1 across channels.
"""

from __future__ import annotations

from collections import defaultdict

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _python_attribution(ev_rows):
    """ev_rows: (user_id, ts, event_id, event_type, value)."""
    by_user = defaultdict(list)
    for r in ev_rows:
        by_user[r[0]].append(r)
    counts, values = defaultdict(int), defaultdict(float)
    for rows in by_user.values():
        rows.sort(key=lambda r: (r[1], r[2]))
        touch = None
        for _, _, _, etype, value in rows:
            if etype == "purchase":
                ch = touch if touch is not None else "(none)"
                counts[ch] += 1
                values[ch] += value
            else:
                touch = etype
    return counts, values


def test_attribution_matches_python_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.attribution import (
        attribution_last_touch,
    )

    pdf = attribution_last_touch(spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events").toPandas()
    counts, values = _python_attribution(
        list(
            zip(ev.user_id, ev.ts, ev.event_id, ev.event_type, ev.value)
        )
    )
    total = sum(values.values())

    assert {r.channel for r in pdf.itertuples()} == set(counts)
    for r in pdf.itertuples():
        assert r.n_purchases == counts[r.channel]
        assert abs(r.attributed_value - round(values[r.channel], 6)) < 1e-6
        assert abs(r.value_share - round(values[r.channel] / total, 6)) < 1e-9
    assert abs(pdf.value_share.sum() - 1.0) < 1e-5


def test_zero_value_corpus_guards_share(spark, tmp_path):
    """All purchases carry value 0.0: attributed values are 0 and
    value_share is NULL on both engines (review finding: the
    unguarded division crashed ANSI-on Spark)."""
    import math

    from dist_map_reduce_spark.operators.attribution import (
        attribution_last_touch,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 1, "click", 0.0),
        (1, "2024-01-01 00:01:00", 2, "purchase", 0.0),
    ]
    spark.createDataFrame(
        rows,
        "user_id bigint, ts_s string, event_id bigint, "
        "event_type string, value double",
    ).selectExpr(
        "user_id", "to_timestamp(ts_s) AS ts", "event_id",
        "event_type", "value",
    ).write.parquet(str(tmp_path / "events.parquet"))

    pdf = attribution_last_touch(spark, str(tmp_path)).toPandas()
    assert list(pdf.attributed_value) == [0.0]
    assert math.isnan(pdf.value_share.iloc[0])


def test_tie_and_interleave_semantics(spark, tmp_path):
    """user 1: click(id 1) and purchase(id 2) at the SAME ts — the
    click is prior (smaller event_id). user 2: purchase(id 4) at the
    same ts as a LATER-id click(id 5) — no prior touch, '(none)'.
    user 3: view, purchase, purchase — both purchases credit 'view'
    (an intervening purchase never becomes a channel)."""
    from dist_map_reduce_spark.operators.attribution import (
        attribution_last_touch,
    )

    t = "2024-01-01 00:00:00"
    t2 = "2024-01-01 00:01:00"
    rows = [
        (1, t, 1, "click", 0.0),
        (1, t, 2, "purchase", 10.0),
        (2, t, 4, "purchase", 20.0),
        (2, t, 5, "click", 0.0),
        (3, t, 6, "view", 0.0),
        (3, t2, 7, "purchase", 30.0),
        (3, t2, 8, "purchase", 40.0),
    ]
    spark.createDataFrame(
        rows,
        "user_id bigint, ts_s string, event_id bigint, "
        "event_type string, value double",
    ).selectExpr(
        "user_id",
        "to_timestamp(ts_s) AS ts",
        "event_id",
        "event_type",
        "value",
    ).write.parquet(str(tmp_path / "events.parquet"))

    pdf = attribution_last_touch(spark, str(tmp_path)).toPandas()
    got = {
        r.channel: (r.n_purchases, r.attributed_value)
        for r in pdf.itertuples()
    }
    assert got == {
        "click": (1, 10.0),
        "(none)": (1, 20.0),
        "view": (2, 70.0),
    }
