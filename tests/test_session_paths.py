"""Semantic contracts of the r16 session path mining (parity vs the
INDEPENDENT string_agg oracle already checks the whole bitpack /
decode pipeline; these prove the sessionization and path semantics):

- path counts match a pure-Python recomputation (gap-split
  sessions, first-MAX_STEPS prefix);
- session boundaries pinned on a synthetic corpus: a gap of exactly
  GAP_MINUTES does NOT split (strict >), one microsecond more does;
  step order follows (ts, event_id) so same-ts events sequence by
  id; sessions longer than MAX_STEPS truncate to the prefix;
- total n_sessions equals the true session count.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _python_paths(rows, gap_us, max_steps):
    """rows: (user_id, ts_us, event_id, event_type)."""
    by_user = defaultdict(list)
    for r in rows:
        by_user[r[0]].append(r)
    paths = Counter()
    for evs in by_user.values():
        evs.sort(key=lambda r: (r[1], r[2]))
        sessions, cur, prev_us = [], [], None
        for _, us, _, etype in evs:
            if prev_us is not None and us - prev_us > gap_us:
                sessions.append(cur)
                cur = []
            cur.append(etype)
            prev_us = us
        sessions.append(cur)
        for s in sessions:
            prefix = s[:max_steps]
            paths[(">".join(prefix), len(prefix))] += 1
    return paths


def test_paths_match_python_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.session_paths import (
        GAP_MINUTES,
        MAX_STEPS,
        session_path_counts,
    )

    pdf = session_path_counts(spark, SF_SMOKE).toPandas()
    ev = load_table(spark, SF_SMOKE, "events").toPandas()
    expected = _python_paths(
        list(
            zip(
                ev.user_id,
                ev.ts.astype("int64") // 1000,
                ev.event_id,
                ev.event_type,
            )
        ),
        GAP_MINUTES * 60 * 1000000,
        MAX_STEPS,
    )
    got = {
        (r.path, r.n_steps): r.n_sessions for r in pdf.itertuples()
    }
    assert got == dict(expected)
    assert pdf.n_sessions.sum() == sum(expected.values())


def test_null_event_types_excluded_symmetrically(spark, tmp_path):
    """A NULL event_type row vanishes from both the path AND
    n_steps (review finding: the inner dim join dropped it from the
    Spark path while the oracle's count(*) kept it)."""
    from dist_map_reduce_spark.operators.session_paths import (
        session_path_counts,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 1, "a"),
        (1, "2024-01-01 00:01:00", 2, None),
        (1, "2024-01-01 00:02:00", 3, "b"),
    ]
    spark.createDataFrame(
        rows, "user_id bigint, ts_s string, event_id bigint, event_type string"
    ).selectExpr(
        "user_id", "to_timestamp(ts_s) AS ts", "event_id", "event_type"
    ).write.parquet(str(tmp_path / "events.parquet"))

    pdf = session_path_counts(spark, str(tmp_path)).toPandas()
    got = {(r.path, r.n_steps): r.n_sessions for r in pdf.itertuples()}
    assert got == {("a>b", 2): 1}


def test_boundary_and_truncation_semantics(spark, tmp_path):
    """user 1: events at t0, t0+30min (exact gap — same session),
    then t0+60min+1s (split). user 2: five events in one minute —
    one session truncated to the first MAX_STEPS=4 types, with
    two same-ts events ordered by event_id."""
    from dist_map_reduce_spark.operators.session_paths import (
        session_path_counts,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 1, "a"),
        (1, "2024-01-01 00:30:00", 2, "b"),  # exactly 30m: no split
        (1, "2024-01-01 01:00:01", 3, "c"),  # 30m1s: split
        (2, "2024-01-01 00:00:00", 4, "a"),
        (2, "2024-01-01 00:00:01", 6, "c"),  # same ts as id 5? no:
        (2, "2024-01-01 00:00:01", 5, "b"),  # ids 5,6 share ts
        (2, "2024-01-01 00:00:02", 7, "d"),
        (2, "2024-01-01 00:00:03", 8, "e"),  # 5th step: truncated
    ]
    spark.createDataFrame(
        rows, "user_id bigint, ts_s string, event_id bigint, event_type string"
    ).selectExpr(
        "user_id", "to_timestamp(ts_s) AS ts", "event_id", "event_type"
    ).write.parquet(str(tmp_path / "events.parquet"))

    pdf = session_path_counts(spark, str(tmp_path)).toPandas()
    got = {
        (r.path, r.n_steps): r.n_sessions for r in pdf.itertuples()
    }
    assert got == {
        ("a>b", 2): 1,  # exact-gap pair stays one session
        ("c", 1): 1,  # split session
        ("a>b>c>d", 4): 1,  # id-ordered ties, truncated at 4
    }
