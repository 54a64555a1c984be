"""Watermarked stream-stream LEFT OUTER join.

The inner stream-stream join (`streaming_stream_stream_join`,
pipelines.py) emits matches as they arrive; the LEFT OUTER variant
adds the semantics production attribution pipelines actually need —
"which clicks NEVER converted" — and those null-padded rows can only
be emitted once the watermark PROVES no future purchase can match,
i.e. outer emission is driven by state expiry, not by data arrival.
That makes the oracle a watermark-cut re-derivation, not a plain
batch join:

- matched rows: exactly the batch time-bounded join (same as the
  inner query's oracle) — these emit regardless of the watermark;
- null rows: an unmatched click emits (click, NULL) only when the
  final watermark passes the end of its join window. Three Spark
  mechanics pin the cut, each verified empirically against the
  engine at all three fixture scales before this module was written:
  1. the GLOBAL watermark is the MIN over both watermarked inputs
     (spark.sql.streaming.multipleWatermarkPolicy default 'min') —
     clicks stop arriving earlier than purchases in the fixture, so
     the click-side maximum is the binding term;
  2. event-time stats are tracked in MILLISECONDS — the watermark is
     floor_ms(min(max_click_ts, max_purchase_ts)) − 1 hour (the
     declared delay), microseconds truncated;
  3. a left row's state expires when its join-window end passes the
     watermark: emit iff c_ts + 30 min < watermark, strict (the
     convention only matters on an exact-microsecond tie — a
     measure-zero boundary on continuous timestamps, and the parity
     test would catch a flip at any scale).
  The availableNow replay emits the null rows in the trailing
  no-data micro-batch (spark.sql.streaming.noDataMicroBatches, on by
  default), when the final watermark is applied to the buffered
  state — rows buffered past the cut stay un-emitted, exactly as
  they would on a live stream awaiting more data, and the oracle
  reproduces that retention.

Plan shape / 100 TB posture: identical to the inner join — both
sides buffer ~(watermark delay + join bound) of events per user in
the state store, the two-sided time bound is what lets Spark expire
state, and the outer variant adds no extra state: it only changes
WHEN a buffered left row is released (on match vs on expiry). The
final emitted SET is stable under TIME-ORDERED multi-batch replay
(eviction only fires when no future in-order match is possible —
pinned by tests/test_outer_join.py against a 3-chunk
maxFilesPerTrigger=1 replay); arrival disorder BEYOND the 1 h
watermark drops late rows exactly as a live stream would, which is
the watermark contract, not an artifact of the replay.

Reference parity: the reference has no streaming surface (one-shot
word count, /root/reference/src/worker/worker.go:270-288); this
extends the engine's stream-stream family alongside the inner join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.streaming.pipelines import (
    read_events_stream,
    run_sink,
)

_ORACLE = """
WITH c AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'click'),
     p AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'purchase'),
     -- the final watermark: ms-floored min of the two side maxima,
     -- minus the 1 h declared delay; the left cut subtracts the
     -- 30 min join bound (see module docstring, mechanics 1-3)
     thr AS (SELECT (epoch_us(least((SELECT max(ts) FROM c),
                                    (SELECT max(ts) FROM p))) // 1000) * 1000
                    - CAST(3600 AS BIGINT) * 1000000
                    - CAST(1800 AS BIGINT) * 1000000 AS t_us),
     matched AS (
       SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
              CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_sec,
              c.event_id AS m_click
       FROM c JOIN p ON p.user_id = c.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
SELECT user_id, click_id, purchase_id, delay_sec FROM matched
UNION ALL
SELECT c.user_id, c.event_id AS click_id,
       NULL AS purchase_id, NULL AS delay_sec
FROM c, thr
WHERE c.event_id NOT IN (SELECT m_click FROM matched)
  AND epoch_us(c.ts) < thr.t_us
"""


@query("streaming_stream_stream_left_join", oracle=_ORACLE)
def streaming_stream_stream_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Clicks left-outer-joined to purchases by user within 30
    minutes, both sides watermarked 1 hour: (user_id, click_id,
    purchase_id, delay_sec) with NULL purchase columns for clicks
    the watermark has proven unconvertible — clicks still inside
    their possible-match window at end of input remain buffered and
    are NOT emitted (mirrored by the oracle's watermark cut)."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTE")),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias(
            "delay_sec"
        ),
    )
    return run_sink(
        joined, "streaming_stream_stream_left_join", output_mode="append"
    )
