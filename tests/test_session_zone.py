"""Queries that read ``events`` give the oracle's answer on a session
whose zone is not UTC, warm or cold.

``catalog.load_table`` pins the calling session's zone to UTC when it
loads ``events``. A query that loads ``events`` only inside a slot
builder skips that pin on a warm slot hit, and its TIMESTAMP columns
then render in the caller's zone.
"""

from __future__ import annotations

from dist_map_reduce_spark import caching
from tests.conftest import assert_parity

LA = "America/Los_Angeles"


def test_resample_pair_ignores_session_zone_on_slot_hit(spark, duck):
    # interp builds the shared obs slot; locf then hits it
    caching.clear()
    try:
        for name in ("events_resample_5m_interp", "events_resample_5m_locf"):
            spark.conf.set("spark.sql.session.timeZone", LA)
            assert_parity(spark, duck, name)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        caching.clear()
