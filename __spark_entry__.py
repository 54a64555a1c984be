"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All queries live in ``dist_map_reduce_spark`` (registered via
``dist_map_reduce_spark.registry``); this module just aggregates.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dist_map_reduce_spark import registry

registry.load_all()

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# Registered queries this contract has never listed; leaving them out
# keeps queries() and oracle_sql() at the same 200 names for harnesses
# that read them.
_NOT_LISTED = frozenset(
    {
        "abtest_purchase_conversion",
        "abtest_purchase_value_welch",
        "arrow_text_stats_per_source",
        "attribution_last_touch",
        "basket_brand_rules",
        "benford_order_totals",
        "chisq_segment_priority",
        "drift_psi_orders",
        "event_eventually_follows",
        "events_ewma_smooth",
        "events_seasonality_dow_hour",
        "funnel_conversion_events",
        "funnel_time_to_convert",
        "hll_native_customer_cardinality",
        "ivm_orders_agg_maintenance",
        "join_semi_active_customers",
        "lateral_topn_orders_per_customer",
        "length_bucket_padding_waste",
        "lorenz_gini_customer_spend",
        "mutual_info_segment_priority",
        "ppjoin_jaccard_pairs",
        "python_datasource_synth",
        "recursive_order_lineage",
        "reservoir_merge_sample",
        "rfm_customer_segments",
        "rollup_lineitem_flags",
        "session_path_counts",
        "stratified_hamilton_sample",
        "streaming_hll_merge",
        "streaming_reservoir_sample",
        "streaming_stream_stream_left_join",
        "tdigest_quantile_merge",
        "text_ams_f2_moment",
        "text_bloom_decontaminate",
        "text_cms_heavy_hitters",
        "text_kmv_source_jaccard",
        "text_mg_heavy_hitters",
        "text_pmi_bigrams",
        "text_theta_set_ops",
    }
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (word count, SURVEY.md §2.1) on sf0.001."""
    return registry.QUERIES["wordcount"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per listed query."""
    return {n: f for n, f in registry.QUERIES.items() if n not in _NOT_LISTED}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per listed query; every listed query has
    one."""
    return {n: s for n, s in registry.ORACLES.items() if n not in _NOT_LISTED}
