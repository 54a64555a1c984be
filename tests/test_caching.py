"""caching slot-store contracts — in particular the session-identity
check ADVICE r10 asked for: a cache built on one live SparkSession
must never be returned to a caller holding a DIFFERENT live session
in the same process (two sessions can coexist via newSession(), and
getActiveSession() follows the most recent, not the caller)."""

from __future__ import annotations

from dist_map_reduce_spark import caching


def test_peek_rejects_foreign_session(spark):
    df = spark.range(3)
    # persist_tracked returns the stored SNAPSHOT (an eager
    # localCheckpoint of the input — r17), not the input df itself
    snap = caching.persist_tracked(df, "t_peek_slot", "k1")
    try:
        # same session, same key: hit
        assert caching.peek("t_peek_slot", "k1", session=spark) is snap
        # different key: miss (entry retained)
        assert caching.peek("t_peek_slot", "k2", session=spark) is None
        assert caching.peek("t_peek_slot", "k1", session=spark) is snap
        # a SECOND live session in the same process must not see the
        # first session's cache — but the owner's LIVE entry stays
        # tracked (dropping it would orphan the persisted DataFrame
        # beyond clear()'s reach — the r11 self-review finding)
        other = spark.newSession()
        assert caching.peek("t_peek_slot", "k1", session=other) is None
        assert caching.peek("t_peek_slot", "k1", session=spark) is snap
    finally:
        caching.clear()


def _no_build():
    raise AssertionError("build called on a full hit")


def test_get_or_build_reuses_only_same_session(spark):
    try:
        got = caching.get_or_build(spark, "t_reuse", "k", lambda: spark.range(4))
        # same session + same key: the stored entry, build not called
        assert caching.get_or_build(spark, "t_reuse", "k", _no_build) is got
        # a second live session misses and gets its own entry
        other = spark.newSession()
        theirs = caching.get_or_build(other, "t_reuse", "k", lambda: other.range(4))
        assert theirs is not got and theirs.sparkSession is other
        assert caching.peek("t_reuse", "k", session=other) is theirs
    finally:
        caching.clear()


def test_tuple_slot_rebuilds_every_member_on_partial_miss(spark):
    slots, built = ("t_pair_a", "t_pair_b"), []

    def build():
        built.append(1)
        return spark.range(2), spark.range(3)

    try:
        a, b = caching.get_or_build(spark, slots, "k", build)
        hit = caching.get_or_build(spark, slots, "k", _no_build)
        assert hit[0] is a and hit[1] is b
        caching._discard(caching._SLOTS.pop("t_pair_b")[1])  # evict one
        a2, b2 = caching.get_or_build(spark, slots, "k", build)
        assert len(built) == 2 and a2 is not a and b2 is not b
        assert (a2.count(), b2.count()) == (2, 3)
        assert caching.peek("t_pair_b", "k", session=spark) is b2
    finally:
        caching.clear()


def test_snapshot_plan_is_lineage_free(spark):
    """The r17 slot mechanism: the stored entry's logical plan must
    be a leaf (LogicalRDD), not the build lineage — plan-string and
    SparkPlanInfo generation on every downstream action walk the
    stored plan (nested caches included), which measured ~0.5-1 s of
    driver CPU per action on the deep training lineages."""
    df = spark.range(10).selectExpr("id", "id * 2 AS v").groupBy("v").count()
    snap = caching.persist_tracked(df, "t_lineage_slot", "k")
    try:
        analyzed = snap._jdf.queryExecution().analyzed()
        assert analyzed.getClass().getSimpleName() == "LogicalRDD", (
            analyzed.toString()
        )
        # and the snapshot evaluates to the same rows as the source
        assert sorted(map(tuple, snap.collect())) == sorted(
            map(tuple, df.collect())
        )
    finally:
        caching.clear()
