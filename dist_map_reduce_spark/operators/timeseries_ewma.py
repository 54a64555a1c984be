"""Exponentially-weighted moving average over event series
 — the smoothing / drift-detection member of the
time-series family (resample+LOCF/interp = regularization, windows =
bucketing, as-of/range = alignment, THIS = recency-weighted level).

EWMA is the standard online smoother for telemetry and training-run
metrics (loss curves, throughput counters): each observation's weight
decays geometrically with its distance from the current row. The
textbook recurrence ``y_t = a·x_t + (1−a)·y_{t−1}`` is a sequential
scan — unusable as-is on a shuffled distributed table. Two public
re-formulations make it Spark-shaped; this module implements the
bounded-window form (the pandas ``ewm(adjust=True)`` definition,
truncated):

    ewma_t = Σ_{j=0..m−1} x_{t−j}·(1−a)^j / Σ_{j=0..m−1} (1−a)^j,
    m = min(t+1, W)

With a = 1/2 and W = 32 the discarded tail weight is ≤ 2⁻³² — below
the 6-dp output round — and every weight is an exact power of two,
so BOTH engines compute bit-identical products (no transcendental
``pow``: Spark folds an accumulator halved per step, DuckDB shifts
``1::BIGINT << j`` — the t-digest piecewise-rational discipline, the
floor-behind-a-transcendental trap dodged by construction again).
The normalizing denominator ``2 − 2^{1−m}`` handles the series
warm-up exactly (no NULL seeding, no bias); ordering ties break on
event_id, so the frame is fully deterministic.

Plan shape / 100 TB posture: ONE window over (event_type ORDER BY
ts, event_id) with a ROWS BETWEEN 31 PRECEDING frame — shuffle keyed
by series, per-series sort, bounded O(W) state per row; no
corpus-scale self-join, no unbounded frame (the running-total
queries already pin the unbounded shape; this pins the bounded one).
``collect_list`` over a 32-row frame is a fixed-size buffer, not the
var-length-agg SortAggregate trap (CLAUDE.md) — the aggregation
below it is none: the fold is a projection. Series count × history
length bounds the window partition, the same posture as
window_moving_avg_events; decade-scale series chunk by (series,
month) exactly as timeseries_fill.py documents.

Reference parity: the reference has no time-series surface at all
(word count only, /root/reference/src/worker/worker.go:270-288);
this extends the engine's hypertable family alongside
events_resample_5m_locf / window_moving_avg_events, which cover the
box-filter (equal-weight) smoother — EWMA is its recency-weighted
complement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

W_EWMA = 32  # truncation window: tail weight <= 2^-32, below 6-dp

_ORACLE = f"""
WITH framed AS (
  SELECT event_type, event_id, ts, value,
         list_reverse(list(value) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN {W_EWMA - 1} PRECEDING AND CURRENT ROW
         )) AS vals
  FROM events
)
SELECT event_type, event_id, ts, value,
       CAST(len(vals) AS BIGINT) AS n_window,
       round(
         list_sum(list_transform(
           vals, (x, i) -> x / CAST(CAST(1 AS BIGINT) << (i - 1) AS DOUBLE)
         )) / (2.0 - 1.0 / CAST(CAST(1 AS BIGINT) << (len(vals) - 1)
                                AS DOUBLE)),
         6
       ) AS ewma
FROM framed
"""


@query("events_ewma_smooth", oracle=_ORACLE)
def events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event EWMA of ``value`` within its event_type series:
    (event_type, event_id, ts, value, n_window, ewma) for every
    event, where ewma is the W=32-truncated adjust=True exponential
    moving average with a = 1/2 (weights are exact powers of two on
    both engines; see module docstring). n_window = rows actually in
    the frame (< 32 during series warm-up)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts", "value"
    )
    frame = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(W_EWMA - 1), 0)
    )
    # most-recent-first, so index j carries weight 2^-j; the window
    # materializes first (its own projection), THEN the fold halves a
    # weight accumulator per step — every product is an exact
    # power-of-two scale, bit-identical across engines
    framed = ev.withColumn(
        "vals", F.reverse(F.collect_list("value").over(frame))
    )
    num = F.aggregate(
        F.col("vals"),
        F.struct(F.lit(0.0).alias("s"), F.lit(1.0).alias("w")),
        lambda acc, x: F.struct(
            (acc["s"] + x * acc["w"]).alias("s"),
            (acc["w"] * F.lit(0.5)).alias("w"),
        ),
        lambda acc: acc["s"],
    )
    # shiftleft with a column bit-count needs the SQL form (the
    # python wrapper only takes a literal int)
    den = F.expr(
        "2.0D - 1.0D / cast(shiftleft(1L, size(vals) - 1) as double)"
    )
    return framed.select(
        "event_type",
        "event_id",
        "ts",
        "value",
        F.size("vals").cast("long").alias("n_window"),
        F.round(num / den, 6).alias("ewma"),
    )
