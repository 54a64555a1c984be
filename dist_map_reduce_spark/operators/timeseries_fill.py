"""Time-series resampling: gap-filled 5-minute buckets with LOCF.

The hypertable operation the timeseries family was missing
(``operators/timeseries.py`` covers tumbling/sliding/session windows,
as-of and range joins): resample an event stream onto a regular
5-minute grid per series, emit empty buckets explicitly (n = 0), and
carry the last observed value forward into them (LOCF) — the standard
continuous-aggregate + gap-fill shape (TimescaleDB's
``time_bucket_gapfill`` + ``locf``).

Plan shape / 100 TB posture:
- the observation aggregate is an ordinary partial+final HashAggregate
  on (event_type, bucket) — shuffle volume O(#buckets), not O(rows);
- the time spine is generated per series with ``sequence()`` from the
  series' own (min, max) bucket — its size is O(time_range / grain ×
  #series), INDEPENDENT of input row count, so everything after the
  first aggregate runs on grid-sized data;
- the LOCF window partitions by series and sorts the grid, not the
  raw events — bounded by the spine size (~8.6k buckets per series
  per month at 5-min grain). For decade-long ranges at second grain,
  chunk the window by (series, month) and carry each chunk's closing
  value in — same pattern as the sequence-packing shards.

Both engines align 5-minute buckets on the same epoch grid
(Spark ``window(ts, '5 minutes')`` and DuckDB
``time_bucket(INTERVAL '5 minutes', ts)``), the same equivalence the
tumbling-window queries rely on. Bucket sums accumulate in DECIMAL
(money.sum_money) and LOCF merely carries them, so the fill is exact.

Reference parity: the reference has no notion of time at all (its one
job is word count, src/worker/worker.go:270-288); resampling is part
of the engine's extended time-series surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.money import sum_money
from dist_map_reduce_spark.registry import query


@query(
    "events_resample_5m_locf",
    oracle=f"""
    WITH obs AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', ts) AS bucket,
             count(*) AS n_obs,
             {sum_money("value", "s")}
      FROM events GROUP BY 1, 2
    ),
    rng AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', min(ts)) AS b0,
             time_bucket(INTERVAL '5 minutes', max(ts)) AS b1
      FROM events GROUP BY 1
    ),
    spine AS (
      SELECT event_type,
             unnest(generate_series(b0, b1, INTERVAL 5 MINUTE)) AS bucket
      FROM rng
    )
    SELECT sp.event_type,
           sp.bucket AS bucket_start,
           CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n,
           last_value(o.s IGNORE NULLS) OVER (
             PARTITION BY sp.event_type ORDER BY sp.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sum_locf
    FROM spine sp
    LEFT JOIN obs o
      ON o.event_type = sp.event_type AND o.bucket = sp.bucket
    """,
)
def events_resample_5m_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events onto a 5-minute grid per event_type: empty
    buckets appear with n = 0 and the last observed bucket sum
    carried forward (LOCF)."""
    filled = _filled_spine(spark, sf_dir)
    locf = W.partitionBy("event_type").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return filled.select(
        "event_type",
        F.col("bucket").alias("bucket_start"),
        F.coalesce("n_obs", F.lit(0)).cast("long").alias("n"),
        F.last("s", ignorenulls=True).over(locf).alias("sum_locf"),
    )


def _filled_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, bucket, n_obs, s): the per-series 5-minute grid
    left-joined with the observed bucket aggregates (null n_obs/s in
    gap buckets). ONE scan of events — the spine endpoints derive
    from the bucket aggregate itself."""
    # persisted: the bucket aggregate feeds BOTH the spine-endpoint
    # derivation and the fill join — without the persist Spark
    # recomputes the subtree (and re-scans events) per consumer. It
    # is grid-sized (O(buckets × series)), the smallest thing in the
    # plan, so caching it is what makes the events scan happen once.
    obs = get_or_build(
        spark,
        "resample_obs_5m",
        sf_dir,
        lambda: load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_obs"), F.expr(sum_money("value", "s")))
        .select("event_type", F.col("w.start").alias("bucket"), "n_obs", "s"),
    )
    # Per-series spine endpoints come from the OBS aggregate, not a
    # second scan of events: bucket is already epoch-aligned, so
    # min/max(bucket) equal the floored min/max(ts) endpoints — the
    # obs FileScan stays the only input-sized stage (PLANS.md).
    rng = obs.groupBy("event_type").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    spine = rng.select(
        "event_type",
        F.explode(
            F.sequence(F.col("b0"), F.col("b1"), F.expr("INTERVAL 5 MINUTES"))
        ).alias("bucket"),
    )
    return spine.join(obs, ["event_type", "bucket"], "left")


@query(
    "events_resample_5m_interp",
    oracle=f"""
    WITH obs AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', ts) AS bucket,
             count(*) AS n_obs,
             {sum_money("value", "s")}
      FROM events GROUP BY 1, 2
    ),
    rng AS (
      SELECT event_type,
             time_bucket(INTERVAL '5 minutes', min(ts)) AS b0,
             time_bucket(INTERVAL '5 minutes', max(ts)) AS b1
      FROM events GROUP BY 1
    ),
    spine AS (
      SELECT event_type,
             unnest(generate_series(b0, b1, INTERVAL 5 MINUTE)) AS bucket
      FROM rng
    ),
    filled AS (
      SELECT sp.event_type, sp.bucket, o.n_obs, o.s,
             CAST(epoch(sp.bucket) / 300 AS BIGINT) AS i
      FROM spine sp
      LEFT JOIN obs o
        ON o.event_type = sp.event_type AND o.bucket = sp.bucket
    ),
    edges AS (
      SELECT event_type, bucket, n_obs, s, i,
             last_value(s IGNORE NULLS) OVER back AS prev_s,
             last_value(CASE WHEN n_obs IS NOT NULL THEN i END IGNORE NULLS)
               OVER back AS prev_i,
             first_value(s IGNORE NULLS) OVER fwd AS next_s,
             first_value(CASE WHEN n_obs IS NOT NULL THEN i END IGNORE NULLS)
               OVER fwd AS next_i
      FROM filled
      WINDOW back AS (
        PARTITION BY event_type ORDER BY bucket
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ),
      fwd AS (
        PARTITION BY event_type ORDER BY bucket
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
      )
    )
    SELECT event_type,
           bucket AS bucket_start,
           CAST(COALESCE(n_obs, 0) AS BIGINT) AS n,
           CASE
             WHEN n_obs IS NOT NULL THEN CAST(s AS DOUBLE)
             WHEN next_s IS NULL THEN CAST(prev_s AS DOUBLE)
             ELSE CAST(prev_s AS DOUBLE)
                  + (CAST(next_s AS DOUBLE) - CAST(prev_s AS DOUBLE))
                    * ((i - prev_i) / (next_i - prev_i))
           END AS sum_interp
    FROM edges
    """,
)
def resample_5m_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation variant of the gap fill: an empty bucket
    takes the straight line between the previous and next OBSERVED
    bucket sums (tail gaps fall back to LOCF — there is no next
    observation to interpolate toward). Same spine-sized cost model
    as LOCF — the backward and forward scans are two frames over ONE
    (series-partitioned, bucket-sorted) exchange.

    The interpolation weight is a ratio of exact bucket indices, the
    endpoint sums are exact DECIMALs converted to float64 BEFORE the
    endpoint difference (the oracle mirrors the conversion points
    exactly), and the remaining arithmetic is plain IEEE doubles
    evaluated identically per row — deterministic and
    engine-reproducible with no rounding step."""
    filled = _filled_spine(spark, sf_dir).withColumn(
        "i", (F.unix_timestamp("bucket") / 300).cast("long")
    )
    back = W.partitionBy("event_type").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    fwd = W.partitionBy("event_type").orderBy("bucket").rowsBetween(
        W.currentRow, W.unboundedFollowing
    )
    obs_i = F.when(F.col("n_obs").isNotNull(), F.col("i"))
    df = (
        filled.withColumn("prev_s", F.last("s", ignorenulls=True).over(back))
        .withColumn("prev_i", F.last(obs_i, ignorenulls=True).over(back))
        .withColumn("next_s", F.first("s", ignorenulls=True).over(fwd))
        .withColumn("next_i", F.first(obs_i, ignorenulls=True).over(fwd))
    )
    frac = (F.col("i") - F.col("prev_i")) / (F.col("next_i") - F.col("prev_i"))
    prev_d = F.col("prev_s").cast("double")
    next_d = F.col("next_s").cast("double")
    interp = (
        F.when(F.col("n_obs").isNotNull(), F.col("s").cast("double"))
        .when(F.col("next_s").isNull(), prev_d)
        .otherwise(prev_d + (next_d - prev_d) * frac)
    )
    return df.select(
        "event_type",
        F.col("bucket").alias("bucket_start"),
        F.coalesce("n_obs", F.lit(0)).cast("long").alias("n"),
        interp.alias("sum_interp"),
    )
