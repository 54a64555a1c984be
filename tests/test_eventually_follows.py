"""Semantic contracts of the r16 eventually-follows matrix (parity
proves Spark == DuckDB; these prove the process-mining semantics):

- the matrix matches a pure-Python recomputation: user u counts for
  (a, b) iff SOME b-event is strictly after SOME a-event, i.e.
  max_ts(b) > min_ts(a);
- the grid is complete (|types|² rows incl. zero cells and
  self-loops) with consistent margins;
- the existential reading is pinned on a synthetic corpus where it
  differs from both the adjacent-transition reading and the
  first-occurrence-order reading: a-b-a yields (a,b), (b,a) AND the
  (a,a) self-loop, while a-only users contribute nothing; strict
  ts ties do not count.
"""

from __future__ import annotations

from collections import defaultdict

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_matrix_matches_python_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.sequences import (
        event_eventually_follows,
    )

    pdf = event_eventually_follows(spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events").toPandas()
    tmin: dict = defaultdict(dict)
    tmax: dict = defaultdict(dict)
    for user, ts, etype in zip(ev.user_id, ev.ts, ev.event_type):
        cur = tmin[user].get(etype)
        tmin[user][etype] = ts if cur is None or ts < cur else cur
        cur = tmax[user].get(etype)
        tmax[user][etype] = ts if cur is None or ts > cur else cur

    types = sorted({t for u in tmin.values() for t in u})
    n_users = {
        t: sum(1 for u in tmin.values() if t in u) for t in types
    }
    n_follow = defaultdict(int)
    for user in tmin:
        for a in tmin[user]:
            for b in tmax[user]:
                if tmax[user][b] > tmin[user][a]:
                    n_follow[(a, b)] += 1

    assert len(pdf) == len(types) ** 2
    for r in pdf.itertuples():
        assert r.n_users_from == n_users[r.from_type]
        assert r.n_users_to == n_users[r.to_type]
        assert r.n_follow == n_follow[(r.from_type, r.to_type)]
        assert (
            abs(
                r.follow_rate
                - round(r.n_follow / r.n_users_from, 6)
            )
            < 1e-12
        )


def test_existential_semantics(spark, tmp_path):
    """user 1: a@0, b@1, a@2 → (a,b) via a@0<b@1, (b,a) via
    b@1<a@2, (a,a) self-loop via a@0<a@2, (b,b) NOT (single b).
    user 2: a@0, b@0 (tie) → nothing (strict >). user 3: a@5 only →
    margins only."""
    from dist_map_reduce_spark.operators.sequences import (
        event_eventually_follows,
    )

    mk = "2024-01-01 00:0{}:00".format
    rows = [
        (1, mk(0), 1, "a"),
        (1, mk(1), 2, "b"),
        (1, mk(2), 3, "a"),
        (2, mk(0), 4, "a"),
        (2, mk(0), 5, "b"),
        (3, mk(5), 6, "a"),
    ]
    spark.createDataFrame(
        rows, "user_id bigint, ts_s string, event_id bigint, event_type string"
    ).selectExpr(
        "user_id", "to_timestamp(ts_s) AS ts", "event_id", "event_type"
    ).write.parquet(str(tmp_path / "events.parquet"))

    pdf = event_eventually_follows(spark, str(tmp_path)).toPandas()
    got = {
        (r.from_type, r.to_type): (
            r.n_follow,
            r.n_users_from,
            r.n_users_to,
        )
        for r in pdf.itertuples()
    }
    assert got == {
        ("a", "a"): (1, 3, 3),
        ("a", "b"): (1, 3, 2),
        ("b", "a"): (1, 2, 3),
        ("b", "b"): (0, 2, 2),
    }
