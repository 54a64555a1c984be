"""Cache-boundedness audit: repeatedly invoking the queries that
persist intermediates (or run jobs at construction time) must not
grow the set of live cached RDDs or registered sink tables, and an
iterative loop that fails part-way must not strand its edge cache.
The mechanisms under test: the one-live-entry-per-slot discipline
(caching.get_or_build), the memory sink named after its pipeline
(pipelines.MemorySink: a rerun replaces the view), the eager
localCheckpoint snapshots in the iterative loops (clustering/graph),
whose RDDs the context cleaner releases once the snapshot DataFrame
is garbage-collected, and the loops' ``finally`` release of their
persisted edge sets.
"""

from __future__ import annotations

import pytest

from dist_map_reduce_spark import registry
from dist_map_reduce_spark.functions import clustering, graph
from tests.conftest import SF_SMOKE

registry.load_all()

PERSISTING = [
    "minhash_band_candidates",
    "ngram_jaccard_pairs",
    "dedup_clusters",
    "pagerank_dedup_graph",
    "streaming_event_counts",
]


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _cached_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_repeat_invocations_keep_cache_bounded(spark):
    for name in PERSISTING:
        registry.QUERIES[name](spark, SF_SMOKE).count()
    baseline = _n_cached(spark)
    for _ in range(2):
        for name in PERSISTING:
            registry.QUERIES[name](spark, SF_SMOKE).count()
    assert _n_cached(spark) <= baseline, (
        "cache grew across repeat invocations: "
        f"{baseline} -> {_n_cached(spark)}"
    )


def test_repeat_streaming_keeps_one_sink_table(spark):
    for _ in range(3):
        registry.QUERIES["streaming_event_counts"](spark, SF_SMOKE).count()
    sinks = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("streaming_event_counts")
    ]
    assert len(sinks) == 1, sinks


@pytest.mark.parametrize(
    "module, loop",
    [(clustering, "connected_components"), (graph, "pagerank")],
)
def test_failed_loop_releases_edge_cache(spark, monkeypatch, module, loop):
    pairs = registry.QUERIES["minhash_band_candidates"](spark, SF_SMOKE)
    pairs.count()
    baseline = _cached_ids(spark)

    def fail(df):
        df.count()  # the round runs (materializing the edge cache) ...
        raise RuntimeError("checkpoint failed")  # ... then fails

    monkeypatch.setattr(module, "iter_checkpoint", fail)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        getattr(module, loop)(pairs)
    # ids, not a count: the context cleaner may release an unrelated
    # snapshot meanwhile, but a stranded edge cache is a new id
    assert not _cached_ids(spark) - baseline
