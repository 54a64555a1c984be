"""Spark's compiled-class cache holds the registry's working set.

Whole-stage codegen compiles each plan's operators into Java classes
and caches them. Spark's default cache (100 entries) is smaller than
the ~170 classes a pass over serve_warm's seven queries needs, so at
the default each warm pass recompiles the classes evicted since the
previous one. ``session.get_spark`` sizes the cache; this pins that a
warm pass compiles nothing.
"""

from __future__ import annotations

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

# perfbench's serve_warm workload
SERVE_WARM = (
    "wordcount",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_order_rank",
    "events_session_10m",
    "minhash_band_candidates",
    "similarity_ann_ivf_kmeans_topk",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_pass_compiles_nothing(spark):
    deltas = []
    for _ in range(3):
        before = _compiles(spark)
        for name in SERVE_WARM:
            registry.QUERIES[name](spark, SF_SMOKE).write.format("noop").mode(
                "overwrite"
            ).save()
        deltas.append(_compiles(spark) - before)
    # the first round may compile; a warm round must hit the cache
    assert deltas[2] == 0, f"classes compiled per round: {deltas}"
