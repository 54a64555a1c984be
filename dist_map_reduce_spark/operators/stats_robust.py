"""Robust (median/MAD) outlier detection per group.

Mean/stddev outlier rules (operators/stats.py's z-score shapes) are
themselves skewed by the outliers they hunt; the robust standard is
the median absolute deviation: a point is anomalous when
``|x - median| > 3 · 1.4826 · MAD`` (1.4826 scales MAD to σ under
normality). This is the per-metric anomaly screen a telemetry or
data-quality pipeline runs over event streams.

Scale posture: two exact-percentile aggregations per group plus two
broadcast joins of the tiny per-group statistics back onto the
facts. Exact median sorts within each group — acceptable when groups
are bounded (metric names, event types); for unbounded groups or
100 TB single groups swap ``percentile`` for ``approx_percentile``
(operators/approx.py shows the contract-oracle pattern for that).

Determinism across engines: Spark ``percentile`` and DuckDB
``quantile_cont`` both use linear interpolation on the sorted values
(already validated by ``percentile_exact_event_values``); the outlier
threshold is written as ONE multiply (`4.4478 * mad`) so both engines
compare against the identical IEEE double — no association-order
drift at the comparison boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

# 3 · 1.4826 (MAD→σ under normality), as ONE literal so the
# threshold is a single IEEE multiply in every engine.
_CUT = 4.4478


def mad_outliers(
    df: DataFrame,
    value: str,
    by: list[str],
    cache_key: str | None = None,
) -> DataFrame:
    """Per-``by`` robust stats: exact median, MAD, and the count of
    rows with ``|value - median| > 4.4478 * MAD``.

    ``cache_key`` (e.g. the fixture dir) persists the tiny per-group
    median table in a tracked slot: both deviation branches (the MAD
    aggregation and the final outlier count) consume it, and without
    the pin each branch would recompute it — a whole extra pass over
    the facts. With it the plan is the exact-median minimum of two
    fact passes (median build, deviation scan) plus group-sized work.
    """
    med = df.groupBy(*by).agg(F.expr(f"percentile({value}, 0.5)").alias("med"))
    med = get_or_build(df.sparkSession, "mad_group_medians", cache_key, lambda: med)
    dev = df.join(F.broadcast(med), by).withColumn(
        "adev", F.abs(F.col(value) - F.col("med"))
    )
    mad = dev.groupBy(*by).agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        dev.join(F.broadcast(mad), by)
        .groupBy(*by)
        .agg(
            F.first("med").alias("med_raw"),
            F.first("mad").alias("mad_raw"),
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("adev") > F.lit(_CUT) * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            *by,
            F.round("med_raw", 6).alias("med"),
            F.round("mad_raw", 6).alias("mad"),
            "n",
            "n_outliers",
        )
    )


@query(
    "stats_mad_outliers_events",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           round(any_value(d.med), 6) AS med,
           round(any_value(a.mad), 6) AS mad,
           count(*)                   AS n,
           CAST(sum(CASE WHEN d.adev > {_CUT} * a.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a USING (event_type)
    GROUP BY d.event_type
    """,
)
def stats_mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD anomaly screen over event values per event type."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return mad_outliers(ev, "value", ["event_type"], cache_key=sf_dir)
