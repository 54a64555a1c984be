"""Last-touch revenue attribution.

The marketing-analytics primitive event warehouses pair with
funnels (single-touch "last non-direct click" attribution — the GA /
Adjust default model): every purchase credits its value to the
user's most recent STRICTLY-PRIOR non-purchase event type (the
"channel"); purchases with no prior touch fall into the '(none)'
bucket. Emitted per channel: exact purchase count, attributed value,
and the channel's share of total attributed value.

Determinism: "most recent prior" is defined over the UNIQUE total
order (ts, event_id) — a purchase and a touch with identical ts
resolve by event_id, identically on both engines (no ambiguous-tie
window, the sampling_aes salted-race discipline). Counts are exact
BIGINTs. attributed_value and value_share are corpus-scale DOUBLE
sums — association-order ULPs absorbed by the 6-dp seam round (the
q1/lm_score discipline); share divides the two RAW sums before its
single round.

Scale posture (100 TB events): one corpus-scale window — partition
by user_id, order by (ts, event_id), running ``last(..., ignorenulls)``
over rows to 1 PRECEDING — i.e. ONE user-keyed shuffle + per-user
sort (Spark's standard streaming-frame evaluation; no growing
state beyond the frame's single carried value), then a
channel-keyed ≤|event types|-row aggregate with map-side partials.
Per-user skew is bounded by the heaviest single user's event count
— the same bound every per-user window in windows.py carries. The
total rides as the sanctioned 1-row crossJoin scalar.

Reference parity note: the reference's only query is word count
(/root/reference/src/worker/worker.go:270-288); this extends the
event-sequence family (funnel.py, sequences.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

_ORACLE = """
WITH seq AS (
  SELECT event_type, value,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch
  FROM events
),
attributed AS (
  SELECT COALESCE(touch, '(none)') AS channel, value
  FROM seq WHERE event_type = 'purchase'
),
per_channel AS (
  SELECT channel,
         CAST(count(*) AS BIGINT) AS n_purchases,
         sum(value) AS value_raw
  FROM attributed GROUP BY channel
),
tot AS (SELECT sum(value_raw) AS total_raw FROM per_channel)
SELECT c.channel, c.n_purchases,
       round(c.value_raw, 6) AS attributed_value,
       CASE WHEN t.total_raw > 0 THEN
         round(c.value_raw / t.total_raw, 6) END AS value_share
FROM per_channel c, tot t
"""


@query("attribution_last_touch", oracle=_ORACLE)
def attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(channel, n_purchases, attributed_value, value_share) — one
    row per last-touch channel (incl. '(none)')."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type") != "purchase", F.col("event_type")
        ),
        ignorenulls=True,
    ).over(w)
    per_channel = (
        events.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce("touch", F.lit("(none)")).alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.sum("value").alias("value_raw"),
        )
    )
    tot = per_channel.agg(F.sum("value_raw").alias("total_raw"))
    return per_channel.crossJoin(tot).select(  # 1-row scalar
        "channel",
        "n_purchases",
        F.round("value_raw", 6).alias("attributed_value"),
        # total > 0 guard: an all-zero-value corpus would divide by
        # 0.0 — ANSI-on Spark throws where DuckDB NULLs
        F.when(
            F.col("total_raw") > 0,
            F.round(F.col("value_raw") / F.col("total_raw"), 6),
        ).alias("value_share"),
    )
