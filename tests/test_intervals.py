"""Unit tests for the grid-bucketed keyless interval-overlap join and
the fixed-bin histogram — crafted intervals with hand-checked
answers; oracle parity covers the fixtures in test_parity.py."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from dist_map_reduce_spark.operators.histogram import bucketize, histogram
from dist_map_reduce_spark.operators.intervals import (
    CELL_S,
    incident_windows,
    overlap_counts,
    user_sessions,
)
from tests.conftest import assert_parity


def _sessions(spark, rows):
    return spark.createDataFrame(
        [(u, sid, datetime.datetime(2024, 1, 1), lo, hi) for u, sid, lo, hi in rows],
        "user_id long, sid long, session_start timestamp, s_lo long, s_hi long",
    )


def _incidents(spark, rows):
    return spark.createDataFrame(
        rows, "incident_id long, i_lo long, i_hi long"
    )


class TestOverlap:
    def test_closed_interval_semantics(self, spark):
        base = 1_700_000_000
        sess = _sessions(spark, [(1, 0, base + 1000, base + 2000)])
        incidents = _incidents(
            spark,
            [
                (10, base, base + 999),     # ends 1s before -> no
                (11, base, base + 1000),    # touches start -> yes
                (12, base + 1500, base + 1600),  # inside -> yes
                (13, base + 2000, base + 3000),  # touches end -> yes
                (14, base + 2001, base + 3000),  # starts 1s after -> no
            ],
        )
        got = overlap_counts(sess, incidents).collect()
        assert len(got) == 1 and got[0].n_incidents == 3

    def test_multi_cell_pair_counted_once(self, spark):
        # one long session spanning many cells; one long incident
        # sharing several cells with it must still count once
        base = 1_700_000_000
        sess = _sessions(spark, [(1, 0, base, base + 10 * CELL_S)])
        incidents = _incidents(spark, [(10, base, base + 10 * CELL_S)])
        got = overlap_counts(sess, incidents).collect()
        assert got[0].n_incidents == 1

    def test_zero_overlap_sessions_kept(self, spark):
        base = 1_700_000_000
        sess = _sessions(spark, [(1, 0, base, base + 10), (2, 0, base + 10**6, base + 10**6 + 10)])
        incidents = _incidents(spark, [(10, base, base + 5)])
        got = {r.user_id: r.n_incidents for r in overlap_counts(sess, incidents).collect()}
        assert got == {1: 1, 2: 0}

    def test_sessionization_islands(self, spark):
        t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
        rows = [
            (1, 100, t0),
            (1, 101, t0 + datetime.timedelta(seconds=600)),  # gap == 600 merges
            (1, 102, t0 + datetime.timedelta(seconds=1201)),  # gap 601 splits
            (2, 103, t0),
        ]
        ev = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp"
        )
        got = sorted(
            user_sessions(ev).collect(), key=lambda r: (r.user_id, r.s_lo)
        )
        assert [(r.user_id, r.s_hi - r.s_lo) for r in got] == [
            (1, 600),
            (1, 0),
            (2, 0),
        ]

    def test_plan_is_equi_join(self, spark):
        from tests.conftest import SF_SMOKE
        from dist_map_reduce_spark import registry

        plan = (
            registry.QUERIES["interval_overlap_session_incidents"](
                spark, SF_SMOKE
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_incident_windows_filter(self, spark):
        t0 = datetime.datetime(2024, 1, 1)
        ev = spark.createDataFrame(
            [(1, 1, t0, "error"), (1, 2, t0, "click")],
            "user_id long, event_id long, ts timestamp, event_type string",
        )
        got = incident_windows(ev).collect()
        assert len(got) == 1 and got[0].i_hi - got[0].i_lo == 600


class TestHistogram:
    def test_bucketize_clamps_and_edges(self, spark):
        df = spark.createDataFrame(
            [(-5.0,), (0.0,), (9.99,), (10.0,), (99.9,), (100.0,), (250.0,)],
            "v double",
        )
        got = [
            r.b
            for r in df.select(
                bucketize(F.col("v"), 0.0, 10.0, 10).alias("b")
            ).collect()
        ]
        # below-range clamps to 0; boundary value starts next bucket;
        # at/above hi clamps to n-1
        assert got == [0, 0, 0, 1, 9, 9, 9]

    def test_histogram_counts(self, spark):
        df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
        got = {r.bucket: r for r in histogram(df, "v", 0.0, 100.0, 4).collect()}
        assert {b: r.n_rows for b, r in got.items()} == {0: 25, 1: 25, 2: 25, 3: 25}
        assert got[1].lo_edge == 25.0
        assert (got[1].min_val, got[1].max_val) == (25.0, 49.0)


class TestSkyline:
    def _sky(self, spark, pts):
        from dist_map_reduce_spark.operators.skyline import skyline_2d

        df = spark.createDataFrame(pts, "x double, y long")
        return {(r.x, r.y) for r in skyline_2d(df, "x", "y").collect()}

    def test_hand_checked_frontier(self, spark):
        pts = [
            (5.0, 1), (4.0, 4), (3.0, 2), (2.0, 5), (1.0, 3),
            (3.0, 1),  # dominated by (3.0, 2) via same-x collapse
            (2.0, 5),  # exact duplicate point
        ]
        assert self._sky(spark, pts) == {(5.0, 1), (4.0, 4), (2.0, 5)}

    def test_equal_y_keeps_only_larger_x(self, spark):
        # (5,3) dominates (4,3): >= in y, > in x
        assert self._sky(spark, [(5.0, 3), (4.0, 3)]) == {(5.0, 3)}

    def test_invariant_under_partitioning(self, spark):
        import random

        from dist_map_reduce_spark.operators.skyline import skyline_2d

        rnd = random.Random(7)
        pts = [(float(rnd.randrange(100)), rnd.randrange(100)) for _ in range(300)]
        df = spark.createDataFrame(pts, "x double, y long")
        a = {(r.x, r.y) for r in skyline_2d(df, "x", "y").collect()}
        b = {
            (r.x, r.y)
            for r in skyline_2d(df.repartition(13), "x", "y").collect()
        }
        naive = {
            p
            for p in set(pts)
            if not any(
                q[0] >= p[0] and q[1] >= p[1] and q != p and
                (q[0] > p[0] or q[1] > p[1])
                for q in set(pts)
            )
        }
        assert a == b == naive

    def test_orders_frontier_ignores_session_time_zone(self, spark, duck):
        # o_orderdate reads as TIMESTAMP_NTZ; a cast to timestamp would
        # read it in the session zone and shift every recency by 7-8 h
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            assert_parity(spark, duck, "skyline_orders_price_recency")
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")


class TestSequences:
    def test_transition_counts(self, spark):
        import datetime

        t0 = datetime.datetime(2024, 1, 1)
        rows = [
            (1, i, t0 + datetime.timedelta(seconds=i), t)
            for i, t in enumerate(["view", "click", "view", "buy"])
        ] + [(2, 10, t0, "view"), (2, 11, t0, "click")]  # same-ts tie -> event_id order
        ev = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, event_type string"
        )
        # same window/agg construction as event_transition_matrix,
        # applied to the crafted frame instead of the fixture table
        from pyspark.sql import Window, functions as F

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        steps = ev.select(
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        got = {
            (r.from_type, r.to_type): r.n
            for r in steps.where(F.col("from_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == {
            ("view", "click"): 2,
            ("click", "view"): 1,
            ("view", "buy"): 1,
        }

    def test_triangle_count_known_graph(self, spark):
        from dist_map_reduce_spark.operators.sequences import (
            triangle_count,
            undirected_edges,
        )

        # K4 on {1,2,3,4} has 4 triangles; plus pendant edge 4-5
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5),
             (2, 1)],  # reversed duplicate must not double-count
            "s1 long, s2 long",
        )
        edges = undirected_edges(pairs, "s1", "s2")
        assert edges.count() == 7
        assert triangle_count(edges).collect()[0].n_triangles == 4

    def test_triangle_free_graph(self, spark):
        from dist_map_reduce_spark.operators.sequences import (
            triangle_count,
            undirected_edges,
        )

        star = spark.createDataFrame(
            [(1, i) for i in range(2, 8)], "s1 long, s2 long"
        )
        assert (
            triangle_count(undirected_edges(star, "s1", "s2"))
            .collect()[0]
            .n_triangles
            == 0
        )
