"""Time-series operators over the events table (batch).

Tumbling / sliding / session windows, as-of join, and range join —
all absent from the reference (SURVEY.md §2.2, streaming row).
Batch versions here are oracle-checkable; the same pipelines run
through Structured Streaming in dist_map_reduce_spark/streaming/.

Scale notes:
- window()/session_window() aggregations shuffle once on
  (window, keys) — same cost shape as any groupBy.
- The as-of join is expressed as a running last-value window: one
  shuffle on the partition key, no row explosion, no driver loop.
- The range join is bucketized: equi-join on (key, time_bucket)
  with the probe side exploded to the 2 candidate buckets, then a
  residual range filter — avoids the quadratic per-key cross
  product a naive theta-join would cost at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table, run_sql
from dist_map_reduce_spark.money import sum_money
from dist_map_reduce_spark.registry import query


@query(
    "events_tumbling_1h",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*)             AS n,
           {sum_money("value", "sum_value")}
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type (epoch-aligned, same
    origin as DuckDB time_bucket)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.expr(sum_money("value", "sum_value")))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "events_sliding_1h_30m",
    oracle=f"""
    WITH slid AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts)
               - (k * INTERVAL '30 minutes') AS window_start,
             value
      FROM events, (VALUES (0), (1)) AS off(k)
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           count(*)             AS n,
           {sum_money("value", "sum_value")}
    FROM slid
    GROUP BY 1, 2
    """,
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1 h size, 30 min slide — every event lands in
    exactly size/slide = 2 windows. Spark expands this with its
    internal window generator; the oracle reproduces it with an
    explicit 2-offset cross join."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.expr(sum_money("value", "sum_value")))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "sum_value",
        )
    )


@query(
    "events_session_10m",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             -- STRICTLY greater: session_window merges an event at
             -- exactly gap distance (window end is exclusive-merged,
             -- hypothesis-found boundary), so a new session starts
             -- only when the gap EXCEEDS 10 minutes
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT *, sum(new_session) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts)                      AS session_start,
           max(ts) + INTERVAL 10 MINUTE AS session_end,
           count(*)                     AS n_events,
           {sum_money("value", "sum_value")}
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def events_session_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 10-minute inactivity gap via the native
    session_window operator (events ≤ gap apart merge — an event at
    EXACTLY gap distance still merges; window end = last event +
    gap). The oracle derives identical sessions with the classic
    lag/cumsum gap-islands construction, splitting strictly after
    the gap."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(sum_money("value", "sum_value")),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_rollup_day_hour",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           NULL AS hour, 'day' AS grain,
           count(*) AS n, {sum_money("value", "sum_value")}
    FROM events GROUP BY 1
    UNION ALL
    SELECT NULL, CAST(date_trunc('hour', ts) AS TIMESTAMP), 'hour',
           count(*), CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
    FROM events GROUP BY 2
    """,
)
def events_rollup_day_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate at two granularities in
    ONE pass: GROUPING SETS over (day) and (hour) — Catalyst's Expand
    reads the fact table once and feeds both rollups, vs. the oracle's
    two-scan UNION ALL."""
    return run_sql(
        spark,
        sf_dir,
        f"""
        SELECT date_trunc('day', ts)  AS day,
               date_trunc('hour', ts) AS hour,
               CASE WHEN grouping(date_trunc('hour', ts)) = 1
                    THEN 'day' ELSE 'hour' END AS grain,
               count(*) AS n,
               {sum_money("value", "sum_value")}
        FROM {{events}}
        GROUP BY GROUPING SETS ((date_trunc('day', ts)), (date_trunc('hour', ts)))
        """
    )


# --------------------------------------------------------------------
# As-of join (Spark has no native one — composed from window ops)
# --------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_value: str,
    out_col: str,
) -> DataFrame:
    """Generic backward as-of join: for each left row, attach the most
    recent ``right_value`` from ``right`` with right_ts <= left_ts of
    the same key.

    Implemented as union + running last_value (ignoring nulls):
    one shuffle on the key, no row multiplication — the scalable
    alternative to a per-key theta join. (A per-group
    ``pd.merge_asof`` via applyInPandas would be the fallback for
    semantics this composition can't express, e.g. nearest-neighbor
    tolerance joins.)
    """
    lt = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__payload"),
        F.lit(None).cast(right.schema[right_value].dataType).alias("__rv"),
    )
    rt = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(
            lt.schema["__payload"].dataType
        ).alias("__payload"),
        F.col(right_value).alias("__rv"),
    )
    # right rows sort before left rows at equal ts => "at or before"
    w = (
        W.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        lt.unionByName(rt)
        .withColumn(out_col, F.last("__rv", ignorenulls=True).over(w))
        .filter(F.col("__is_left") == 1)
        .select("__payload.*", out_col)
    )


@query(
    "asof_last_purchase_before_error",
    oracle=f"""
    WITH marked AS (
      SELECT event_id, user_id, ts, event_type,
             max(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_type ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS last_purchase_ts
      FROM events
    )
    SELECT event_id, user_id, ts, last_purchase_ts
    FROM marked
    WHERE event_type = 'error'
    """,
)
def asof_last_purchase_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join of error events against the purchase stream of the
    same user: attach the most recent purchase timestamp at or before
    each error. Single window pass, no join explosion.

    (Ordering tie-break on event_type matches the oracle: at equal
    ts, 'error' < 'purchase' lexicographically, so a simultaneous
    purchase is NOT yet visible to the error — consistent in both
    engines.)
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_type").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).over(w).alias("last_purchase_ts"),
    )
    return marked.filter(F.col("event_type") == "error").drop("event_type")


# --------------------------------------------------------------------
# Range join (bucketized)
# --------------------------------------------------------------------


def _bucket(ts: Column, minutes: int) -> Column:
    return (F.unix_timestamp(ts) / (minutes * 60)).cast("long")


@query(
    "range_join_purchases_after_error",
    oracle=f"""
    SELECT e.event_id, count(p.event_id) AS n_purchases_10m
    FROM events e
    LEFT JOIN events p
      ON e.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts > e.ts
     AND p.ts <= e.ts + INTERVAL 10 MINUTE
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
)
def range_join_purchases_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: purchases within 10 minutes after each error, per
    user. Bucketized to an equi-join on (user_id, 10-min bucket):
    each error probes its own bucket and the next one, then a
    residual range predicate filters exactly. Equi-join keys keep it
    a hash/sort-merge join — the naive theta join would degenerate
    to a per-user nested loop at scale."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        _bucket(F.col("ts"), 10).alias("p_bucket"),
    )
    # probe side explodes to the two buckets a 10-min lookahead can hit
    probes = errors.withColumn(
        "p_bucket", F.explode(F.array(_bucket(F.col("e_ts"), 10), _bucket(F.col("e_ts"), 10) + 1))
    )
    joined = probes.join(
        purchases,
        (probes.e_user == purchases.p_user) & (probes.p_bucket == purchases.p_bucket),
        "left",
    )
    # Count only candidates passing the residual range predicate, but
    # NEVER filter rows out pre-aggregation — an error whose bucket
    # candidates all fail the range check must still appear with 0.
    in_range = (F.col("p_ts") > F.col("e_ts")) & (
        F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 10 MINUTES")
    )
    return joined.groupBy(F.col("e_id").alias("event_id")).agg(
        F.count(F.when(in_range, F.col("p_id"))).alias("n_purchases_10m")
    )
