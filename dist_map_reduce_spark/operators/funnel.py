"""Ordered multi-step conversion funnel.

The product-analytics primitive every event warehouse ships
(Mixpanel/Amplitude "funnels"; SQL formulations in e.g. the
ClickHouse `windowFunnel` and BigQuery funnel cookbooks) that the
events surface lacked: a STRICTLY-ORDERED first-touch funnel
signup → view → click → purchase, where step k counts users whose
earliest step-k event occurs strictly AFTER their committed step-k-1
time. This is the sequential-pattern semantics (an unordered "did
all of" funnel is just conditional aggregation; the ordered form is
what needs engine care).

Semantics, per user:
  t_1 = min ts of a step-1 event
  t_k = min ts of a step-k event with ts > t_{k-1}
Step k's cohort is users with t_k defined; by construction cohorts
are nested, so n_1 ≥ n_2 ≥ ... ≥ n_K (monotone — asserted in the
contract test). Emitted per step: exact BIGINT user count,
conv_from_prev = n_k / n_{k-1}, conv_from_start = n_k / n_1 — each
a single IEEE division of exactly-cast integers rounded 6 dp at the
seam, NULL-guarded when the previous cohort is empty (cross-engine:
Spark x/0.0 is NULL, DuckDB is Inf — the CASE removes the
divergence).

Scale posture (100 TB events): K-1 joins, each shaped
  events σ(event_type = step_k)  ⋈user_id  frontier_{k-1}
where the filter pushes to the parquet scan (dictionary-filtered —
only step k's rows are read; the step subsets are disjoint so the
whole funnel reads ≈ one corpus pass split across steps) and every
frontier is a USER-scale (user_id, t) table that only shrinks with
k. Frontiers are shared by two consumers (next step's join + the
count union), so each holds a bounded ``get_or_build`` slot —
without it the count branch re-derives the whole chain per step
(O(K²) scans). The count stage is K single-row global aggregates
unioned (guaranteeing a row per step even for an empty cohort — a
groupBy would drop it), and the conversion window runs over exactly
K rows. Shuffles: one per step, keyed on user_id; AQE's
shuffle-hash choice is right once the frontier outgrows broadcast.

Reference parity note: the reference's only query is word count
(/root/reference/src/worker/worker.go:270-288); this extends the
engine's event-sequence family (event_transition_matrix,
events_session_10m) with the ordered-funnel shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

STEPS = ("signup", "view", "click", "purchase")

_FRONTIER_CTES = """
s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
  WHERE e.event_type = 'view' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
"""

_ORACLE = f"""
WITH {_FRONTIER_CTES},
counts AS (
  SELECT 1 AS step, 'signup' AS event_type,
         CAST(count(*) AS BIGINT) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'view', CAST(count(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'click', CAST(count(*) AS BIGINT) FROM s3
  UNION ALL
  SELECT 4, 'purchase', CAST(count(*) AS BIGINT) FROM s4
)
SELECT step, event_type, n_users,
       CASE WHEN lag(n_users) OVER (ORDER BY step) > 0 THEN
         round(CAST(n_users AS DOUBLE)
               / CAST(lag(n_users) OVER (ORDER BY step) AS DOUBLE), 6)
       END AS conv_from_prev,
       CASE WHEN first_value(n_users) OVER (ORDER BY step) > 0 THEN
         round(CAST(n_users AS DOUBLE)
               / CAST(first_value(n_users) OVER (ORDER BY step)
                      AS DOUBLE), 6)
       END AS conv_from_start
FROM counts
"""


_TIMING_ORACLE = f"""
WITH {_FRONTIER_CTES},
d12 AS (SELECT epoch_us(s2.t) - epoch_us(s1.t) AS delta_us
        FROM s2 JOIN s1 USING (user_id)),
d23 AS (SELECT epoch_us(s3.t) - epoch_us(s2.t) AS delta_us
        FROM s3 JOIN s2 USING (user_id)),
d34 AS (SELECT epoch_us(s4.t) - epoch_us(s3.t) AS delta_us
        FROM s4 JOIN s3 USING (user_id)),
d14 AS (SELECT epoch_us(s4.t) - epoch_us(s1.t) AS delta_us
        FROM s4 JOIN s1 USING (user_id))
SELECT 1 AS from_step, 2 AS to_step, CAST(count(*) AS BIGINT) AS n_users,
       round(CAST(sum(delta_us) AS DOUBLE) / count(*) / 1000000.0, 6)
         AS avg_seconds,
       round(quantile_cont(delta_us, 0.5) / 1000000.0, 6) AS median_seconds,
       round(CAST(min(delta_us) AS DOUBLE) / 1000000.0, 6) AS min_seconds,
       round(CAST(max(delta_us) AS DOUBLE) / 1000000.0, 6) AS max_seconds
FROM d12
UNION ALL
SELECT 2, 3, CAST(count(*) AS BIGINT),
       round(CAST(sum(delta_us) AS DOUBLE) / count(*) / 1000000.0, 6),
       round(quantile_cont(delta_us, 0.5) / 1000000.0, 6),
       round(CAST(min(delta_us) AS DOUBLE) / 1000000.0, 6),
       round(CAST(max(delta_us) AS DOUBLE) / 1000000.0, 6)
FROM d23
UNION ALL
SELECT 3, 4, CAST(count(*) AS BIGINT),
       round(CAST(sum(delta_us) AS DOUBLE) / count(*) / 1000000.0, 6),
       round(quantile_cont(delta_us, 0.5) / 1000000.0, 6),
       round(CAST(min(delta_us) AS DOUBLE) / 1000000.0, 6),
       round(CAST(max(delta_us) AS DOUBLE) / 1000000.0, 6)
FROM d34
UNION ALL
SELECT 1, 4, CAST(count(*) AS BIGINT),
       round(CAST(sum(delta_us) AS DOUBLE) / count(*) / 1000000.0, 6),
       round(quantile_cont(delta_us, 0.5) / 1000000.0, 6),
       round(CAST(min(delta_us) AS DOUBLE) / 1000000.0, 6),
       round(CAST(max(delta_us) AS DOUBLE) / 1000000.0, 6)
FROM d14
"""


def funnel_frontiers(
    spark: SparkSession, sf_dir: str
) -> list[DataFrame]:
    """One (user_id, t) frontier per step, each the min event time
    strictly after the user's previous-step commit. Frontier k is
    consumed by step k+1's join AND the count union, so each holds a
    bounded persist slot (see module docstring)."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    frontiers = [
        get_or_build(
            spark,
            "funnel_frontier_1",
            sf_dir,
            lambda: events.filter(F.col("event_type") == STEPS[0])
            .groupBy("user_id")
            .agg(F.min("ts").alias("t")),
        )
    ]
    for k, step in enumerate(STEPS[1:], start=2):
        prev = frontiers[-1].select(
            F.col("user_id").alias("p_user"), F.col("t").alias("p_t")
        )
        frontiers.append(
            get_or_build(
                spark,
                f"funnel_frontier_{k}",
                sf_dir,
                lambda: events.filter(F.col("event_type") == step)
                .join(
                    prev,
                    (F.col("user_id") == F.col("p_user"))
                    & (F.col("ts") > F.col("p_t")),
                )
                .groupBy("user_id")
                .agg(F.min("ts").alias("t")),
            )
        )
    return frontiers


@query("funnel_conversion_events", oracle=_ORACLE)
def funnel_conversion_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(step, event_type, n_users, conv_from_prev, conv_from_start)
    — one row per funnel step, counts exact, ratios single IEEE
    divisions rounded at the seam."""
    frontiers = funnel_frontiers(spark, sf_dir)
    counts = None
    for k, (step, frontier) in enumerate(zip(STEPS, frontiers), 1):
        row = frontier.agg(
            F.count("*").cast("bigint").alias("n_users")
        ).select(
            F.lit(k).alias("step"),
            F.lit(step).alias("event_type"),
            "n_users",
        )
        counts = row if counts is None else counts.unionAll(row)
    w = Window.orderBy("step")  # exactly K = 4 rows
    prev_n = F.lag("n_users").over(w)
    first_n = F.first("n_users").over(w)
    dbl = lambda c: c.cast("double")  # noqa: E731
    return counts.select(
        "step",
        "event_type",
        "n_users",
        F.when(
            prev_n > 0, F.round(dbl(F.col("n_users")) / dbl(prev_n), 6)
        ).alias("conv_from_prev"),
        F.when(
            first_n > 0,
            F.round(dbl(F.col("n_users")) / dbl(first_n), 6),
        ).alias("conv_from_start"),
    )


@query("funnel_time_to_convert", oracle=_TIMING_ORACLE)
def funnel_time_to_convert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(from_step, to_step, n_users, avg_seconds, median_seconds,
    min_seconds, max_seconds) for each adjacent transition plus the
    end-to-end 1→4 row, over users who completed the later step.

    Deltas are exact MICROSECOND integers (unix_micros of the two
    frontier commit times — never float timestamp arithmetic); avg
    is the exact integer sum cast once to DOUBLE (exact below 2^63
    total microseconds; promote the sum to DECIMAL(38,0) past
    ~3·10^5 user-centuries) through a fixed /n /1e6 shape; the
    median is exact interpolation over integers (< 2^53, so Spark
    ``percentile`` and DuckDB ``quantile_cont`` agree bit-for-bit);
    min/max are exact. All rounded 6 dp at the seam. Joins are
    user-scale frontier⋈frontier on the SAME persist slots the
    count query uses — invoking both funnel queries builds each
    frontier once."""
    frontiers = funnel_frontiers(spark, sf_dir)
    transitions = [(1, 2), (2, 3), (3, 4), (1, 4)]
    out = None
    for a, b in transitions:
        fa = frontiers[a - 1].select(
            "user_id", F.unix_micros("t").alias("t_a")
        )
        fb = frontiers[b - 1].select(
            "user_id", F.unix_micros("t").alias("t_b")
        )
        deltas = fb.join(fa, "user_id").select(
            (F.col("t_b") - F.col("t_a")).alias("delta_us")
        )
        row = deltas.agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.round(
                F.sum("delta_us").cast("double")
                / F.count("*")
                / 1000000.0,
                6,
            ).alias("avg_seconds"),
            F.round(
                F.expr("percentile(delta_us, 0.5)") / 1000000.0, 6
            ).alias("median_seconds"),
            F.round(
                F.min("delta_us").cast("double") / 1000000.0, 6
            ).alias("min_seconds"),
            F.round(
                F.max("delta_us").cast("double") / 1000000.0, 6
            ).alias("max_seconds"),
        ).select(
            F.lit(a).alias("from_step"),
            F.lit(b).alias("to_step"),
            "n_users",
            "avg_seconds",
            "median_seconds",
            "min_seconds",
            "max_seconds",
        )
        out = row if out is None else out.unionAll(row)
    return out
