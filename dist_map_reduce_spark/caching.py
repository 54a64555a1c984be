"""Bounded reuse of persisted intermediates.

Some operators persist an expensive intermediate (e.g. the MinHash
banded signatures) that several plan branches — and repeated
invocations of the same query — all consume. Plain ``persist()``
leaks in long-lived sessions (every invocation adds a dead cache
entry); unpersisting on every re-entry is leak-free but defeats
Spark's CacheManager, recomputing the intermediate per invocation.

Query code reaches a slot one way only:
``get_or_build(spark, slot, key, build)``. The store keeps AT MOST
ONE entry per named slot:

  - same slot + same key (the fixture dir, which fully determines
    the plan) + same live session: the stored DataFrame is returned
    and ``build`` is never called — the intermediate is reused like
    a materialized view, and a warm query does not even construct
    its plan;
  - anything else: ``build()`` runs and its result replaces the old
    entry, so total cache footprint is bounded by the number of
    slots.

The reuse decision lives in ``peek`` alone. A cached entry is bound
to the SparkSession that built it: after a session restart the old
DataFrame references a stopped JVM context, so ``peek`` drops stale
entries instead of returning (or trying to unpersist) a dead
DataFrame. ``persist_tracked`` only stores: it discards the previous
entry, snapshots the new frame and records it.

Staleness contract: reuse assumes the data under ``key`` is
immutable between invocations (true for the fixture parquet). Call
``clear()`` after mutating source data in place. This has always
been the contract, and since r17 it is load-bearing: checkpoint
snapshots are invisible to the CacheManager, so an in-place
``overwrite`` of a source path no longer happens to invalidate them
the way it recached ``persist()`` entries.

Cross-session contention (ADVICE r11): when TWO live sessions use
the same slot, ``peek`` misses for the non-owner (never hands out a
foreign cache) but the non-owner's rebuild evicts the owner's entry
— the owner degrades to a rebuild (correctness unaffected).
That is the accepted trade: slots are keyed by name, not
(session, slot), because coexisting live sessions occur only in
tests — a long-lived process has one engine session, and the
driver's foreign session runs in its own process.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dist_map_reduce_spark import registry

_SLOTS: dict[str, tuple[str, DataFrame]] = {}


def _is_live(df: DataFrame) -> bool:
    """True iff the DataFrame's owning SparkContext is still running."""
    try:
        return not df.sparkSession.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def _discard(df: DataFrame) -> None:
    """Release a slot entry if the owning session is alive; a stopped
    session already dropped its storage, so stale entries are just
    forgotten. An entry is a checkpoint snapshot whose blocks hang off
    its LogicalRDD's backing RDD, released via the py4j handle (and,
    belt-and-braces, by the ContextCleaner once the slot reference is
    dropped)."""
    if _is_live(df):
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass


def persist_tracked(df: DataFrame, slot: str, key: str) -> DataFrame:
    """Store ``df`` as ``slot``'s entry for ``key``: discard the
    previous entry, snapshot ``df`` and record the snapshot. Whether
    an existing entry may be reused is ``peek``'s decision, made
    before the caller builds anything.

    Storage mechanism (r17): an eager ``localCheckpoint`` snapshot —
    NOT ``persist()``. Both store the computed rows once; the
    difference is the returned DataFrame's plan. A persisted slot
    keeps its FULL build lineage: every downstream action stringifies
    that tree twice per AQE plan update (``SparkPlanInfo.fromSparkPlan``
    and ``QueryExecution.explainString`` both recurse into
    ``InMemoryTableScanExec.relation.cachedPlan``, nested caches
    included), which measured ~0.5-1.0 s of driver CPU per action on
    the deep training lineages (thread-dump evidence in
    OPTIMIZATION_r17.md) — pure overhead at ANY data scale, since it
    is proportional to plan size, not data. The checkpoint snapshot is
    a LogicalRDD leaf: plan-string work becomes O(1) and the optimizer
    never re-walks the build tree. Trade-off: the snapshot has no
    lineage to recompute from. If its blocks are lost (a lost or
    removed executor), nothing rebuilds it: ``peek`` only checks the
    session, so every later call that reads the slot fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` until ``clear()`` drops it.
    Making slots survive lost blocks is ROADMAP item 7."""
    prev = _SLOTS.pop(slot, None)
    if prev is not None:
        _discard(prev[1])
    df = df.localCheckpoint(eager=True)
    _SLOTS[slot] = (key, df)
    return df


def peek(slot: str, key: str, session=None) -> DataFrame | None:
    """Return the live cached DataFrame for ``slot`` if its key
    matches and its session is still the caller's running one, else
    None. ``session`` is the caller's SparkSession, so a cache built
    on a DIFFERENT live session is never returned to it (ADVICE r10 —
    two sessions in one process); without it the active session is
    the reference. Stale entries (stopped or replaced session) are
    dropped rather than returned."""
    from pyspark.sql import SparkSession

    prev = _SLOTS.get(slot)
    if prev is None or prev[0] != key:
        return None
    df = prev[1]
    if not _is_live(df):
        del _SLOTS[slot]
        return None
    ref = session if session is not None else SparkSession.getActiveSession()
    if df.sparkSession is not ref:
        # a LIVE entry owned by a different session: miss for this
        # caller, but keep (and keep tracking) the owner's entry —
        # deleting the slot here would orphan storage beyond
        # clear()'s reach
        return None
    return df


def get_or_build(spark, slot: str | tuple[str, ...], key: str | None, build):
    """The one way query code uses a slot: return ``slot``'s live
    entry for (``spark``, ``key``), or call ``build()`` and store its
    result. ``build`` is a zero-arg callable so a warm hit skips not
    just recompute but PLAN CONSTRUCTION — for iterative builds
    (Lloyd loops, BPE merges) that run jobs while building, the
    construction alone costs ~0.5 s of plan analysis per invocation.

    A ``None`` key means the input is not a fixture dir (crafted
    corpora in tests): nothing is looked up or stored, ``build()`` is
    returned as it is, and the running query construction is not
    plan-cached (``registry``).

    ``slot`` may be a tuple of names, with ``build()`` returning a
    tuple of the same length: all slots must hit to skip ``build``,
    otherwise every member is rebuilt and stored. A member that
    ``build`` already stored under its own slot (a nested
    ``get_or_build``) is kept as it is — re-storing it would discard
    the very snapshot being stored.

    ``peek`` and ``persist_tracked`` are called through this module's
    globals, so wrapping them (the benchmark's tracer does) observes
    every slot hit and build."""
    if key is None:
        registry.note_unstorable()
        return build()
    single = isinstance(slot, str)
    names = (slot,) if single else slot
    out = [peek(s, key, session=spark) for s in names]
    if any(df is None for df in out):
        with registry.memo_build(spark):
            built = build()
            out = [
                df if _SLOTS.get(s, (None, None))[1] is df
                else persist_tracked(df, s, key)
                for s, df in zip(names, (built,) if single else built)
            ]
    for s, df in zip(names, out):
        registry.note_slot(s, key, df)
    return out[0] if single else tuple(out)


def clear() -> None:
    """Unpersist every tracked entry and drop every stored query plan
    (``registry.PLANS``), so the next call of each query constructs
    its plan again. Call it after source data changed in place: a
    slot's key does not see the change, and a stored plan that reads
    the slot would keep returning the old snapshot."""
    for _, df in _SLOTS.values():
        _discard(df)
    _SLOTS.clear()
    registry.PLANS.clear()
