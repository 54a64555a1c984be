"""The registry's plan cache: a query's constructed plan is reused
while everything it was built from is unchanged, and every call still
runs its action in full.

A hit hands back a new DataFrame over the stored analyzed plan, so
"reused" is checked on the JVM plan: two constructions of the same
query differ (fresh attribute ids), a hit's plan equals the stored one.
"""

from __future__ import annotations

import os
import shutil

from dist_map_reduce_spark import caching, registry
from dist_map_reduce_spark.catalog import load_table, table_path
from dist_map_reduce_spark.scratch import scratch_path
from tests.conftest import SF_SMOKE, assert_parity

LA = "America/Los_Angeles"


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _same_plan(a, b) -> bool:
    return a._jdf.logicalPlan().equals(b._jdf.logicalPlan())


def _warm(spark, name: str, sf_dir: str = SF_SMOKE):
    """Clear, then construct ``name`` once (stored) and return it; the
    catalog memo is warmed first, so no footer read runs a job."""
    registry.QUERIES[name](spark, sf_dir)
    caching.clear()
    df = registry.QUERIES[name](spark, sf_dir)
    assert name in registry.PLANS
    return df


def test_second_call_reuses_the_plan_and_runs_in_full(spark):
    try:
        first = _warm(spark, "wordcount")
        jobs = _jobs(spark)
        rows = sorted(first.collect())
        first_jobs = _jobs(spark) - jobs

        second = registry.QUERIES["wordcount"](spark, SF_SMOKE)
        assert _same_plan(first, second)
        assert second is not first
        jobs = _jobs(spark)
        assert sorted(second.collect()) == rows
        # a new DataFrame per hit: its action plans and runs every
        # stage again, where re-running ``first`` would reuse shuffles
        assert _jobs(spark) - jobs == first_jobs
    finally:
        caching.clear()


def test_clear_drops_every_plan(spark):
    try:
        first = _warm(spark, "wordcount")
        caching.clear()
        assert not registry.PLANS
        assert not _same_plan(first, registry.QUERIES["wordcount"](spark, SF_SMOKE))
    finally:
        caching.clear()


def test_rewritten_table_misses(spark, tmp_path):
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    path = table_path(sf_dir, "documents")
    shutil.copy(table_path(SF_SMOKE, "documents"), path)
    try:
        first = _warm(spark, "wordcount", sf_dir)
        assert _same_plan(first, registry.QUERIES["wordcount"](spark, sf_dir))
        st = os.stat(path)
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        again = registry.QUERIES["wordcount"](spark, sf_dir)
        assert not _same_plan(first, again)
        assert sorted(again.collect()) == sorted(first.collect())
    finally:
        caching.clear()


def test_new_session_misses(spark):
    other = spark.newSession()
    try:
        first = _warm(spark, "wordcount")
        theirs = registry.QUERIES["wordcount"](other, SF_SMOKE)
        assert not _same_plan(first, theirs)
        assert theirs.sparkSession is other
        assert sorted(theirs.collect()) == sorted(first.collect())
    finally:
        caching.clear()


def test_artifact_and_stream_queries_are_never_stored(spark):
    orc_dir = scratch_path(SF_SMOKE, "lineitem_orc")
    try:
        for name in ("sink_orc_roundtrip_agg", "streaming_stream_stream_left_join"):
            for _ in range(2):
                jobs = _jobs(spark)
                registry.QUERIES[name](spark, SF_SMOKE).collect()
                assert name not in registry.PLANS
                # the write or the micro-batches ran again in the call
                assert _jobs(spark) > jobs, name
            if name == "sink_orc_roundtrip_agg":
                stamp = os.stat(orc_dir).st_mtime_ns
                registry.QUERIES[name](spark, SF_SMOKE)
                assert os.stat(orc_dir).st_mtime_ns != stamp
    finally:
        caching.clear()


def test_job_outside_a_slot_build_is_not_stored(spark):
    def counts_first(spark, sf_dir):
        n = load_table(spark, sf_dir, "region").count()  # a job
        return spark.range(n)

    def builds_a_slot(spark, sf_dir):
        return caching.get_or_build(
            spark, "t_plan_cache", sf_dir, lambda: spark.range(5)
        )

    def unslotted(spark, sf_dir):
        return caching.get_or_build(spark, "t_plan_cache", None, lambda: spark.range(5))

    try:
        caching.clear()
        registry._cached("t_counts", counts_first)(spark, SF_SMOKE)
        assert "t_counts" not in registry.PLANS
        # the snapshot job runs inside get_or_build: stored
        registry._cached("t_slot", builds_a_slot)(spark, SF_SMOKE)
        assert registry.PLANS["t_slot"].slots.keys() == {"t_plan_cache"}
        registry._cached("t_unslotted", unslotted)(spark, SF_SMOKE)
        assert "t_unslotted" not in registry.PLANS
    finally:
        caching.clear()


def test_nested_hit_carries_its_slots_to_the_caller(spark):
    inner = registry._cached(
        "t_inner",
        lambda s, d: caching.get_or_build(s, "t_inner_slot", d, lambda: s.range(3)),
    )
    outer = registry._cached("t_outer", lambda s, d: inner(s, d).selectExpr("id + 1"))
    try:
        caching.clear()
        inner(spark, SF_SMOKE)  # stored; the outer call below hits it
        first = outer(spark, SF_SMOKE)
        assert "t_inner_slot" in registry.PLANS["t_outer"].slots
        assert _same_plan(first, outer(spark, SF_SMOKE))
        # a rebuilt slot entry under the same key: both plans miss
        caching.persist_tracked(spark.range(3), "t_inner_slot", SF_SMOKE)
        assert not _same_plan(first, outer(spark, SF_SMOKE))
    finally:
        caching.clear()


def test_resample_interp_warm_path_ignores_session_zone(spark, duck):
    name = "events_resample_5m_interp"
    caching.clear()
    try:
        stored = []
        for _ in range(3):
            spark.conf.set("spark.sql.session.timeZone", LA)
            assert_parity(spark, duck, name)
            stored.append(registry.PLANS.get(name))
        # the last call hit the plan the one before it stored
        assert stored[2] is not None and stored[2] is stored[1]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        caching.clear()


def test_first_read_of_a_table_is_stored(spark, tmp_path):
    """A construction that is the first to read a table is stored on
    its first call: the footer read's schema job counts as the table
    memo's, like a slot build's, not the query's."""
    sf_dir = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf_dir)  # a new dir: a load_table miss
    try:
        jobs = _jobs(spark)
        first = registry.QUERIES["wordcount"](spark, sf_dir)
        assert _jobs(spark) > jobs  # the schema job ran
        plan = registry.PLANS["wordcount"]
        second = registry.QUERIES["wordcount"](spark, sf_dir)
        assert registry.PLANS["wordcount"] is plan
        assert _same_plan(first, second)
    finally:
        caching.clear()
