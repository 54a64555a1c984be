"""Session path mining.

The clickstream-analytics staple ("top user journeys"): split each
user's event stream into gap-based sessions (a new session starts
after ≥ GAP_MINUTES of silence — the sessionization definition the
streaming session-window query also uses), take each session's
first MAX_STEPS event types in order, and count sessions per exact
path prefix. The output is the top-journeys table every product
dashboard renders.

Plan shape — the bitmask lesson applied to SEQUENCE state: the
per-session path is aggregated as a packed BIGINT, not a string —
each step contributes (type_idx + 1) << (BITS_PER_STEP · pos) — so
the corpus-scale aggregate is a pure LongType HashAggregate (the
basket_brand_rules / CLAUDE.md "pack keys into bigints" discipline;
a string/array agg buffer here would force ObjectHashAggregate on
corpus-scale groups, measured 3.8× slower on the basket shape).
Path strings are assembled only on the COUNTED table (≤ |types|^K
rows: per-position 5-bit chunks joined against the broadcast type
dim, concat_ws). Bounds: |event types| ≤ 31 and MAX_STEPS ≤ 12 fit
the 63-bit mask; wider domains shard the mask (module docstring of
association.py).

Determinism: session boundaries are exact microsecond-integer gap
comparisons over the unique (ts, event_id) per-user order; session
ids are window cumsums of integer flags; path codes are integer
sums; counts are exact BIGINTs. Nothing floats. The DuckDB oracle
is deliberately the INDEPENDENT formulation — string_agg with
ORDER BY over the first-K rows — checking the same table through a
different mechanism (the supplier_triangles oracle philosophy).

Scale posture (100 TB events): two corpus-scale windows (lag for
the gap flag, cumsum for the session id, row_number for step rank —
all share ONE user-keyed sort: same partition key and order, Spark
evaluates them in a single Window chain) and one LongType
groupBy(user, session) aggregate; the path-count aggregate's output
is ≤ Σ_k |types|^k rows and everything after (decode joins,
ordering) is path-bounded. One user-keyed shuffle total.

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

GAP_MINUTES = 30
MAX_STEPS = 4
BITS_PER_STEP = 5  # type_idx + 1 in [1, 31]

_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   > {GAP_MINUTES} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE event_type IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM ordered
),
ranked AS (
  SELECT user_id, session_id, event_type,
         row_number() OVER (
           PARTITION BY user_id, session_id ORDER BY ts, event_id
         ) AS rn
  FROM sessioned
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY rn) AS path,
         CAST(count(*) AS BIGINT) AS n_steps
  FROM ranked WHERE rn <= {MAX_STEPS}
  GROUP BY user_id, session_id
)
SELECT path, n_steps, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path, n_steps
"""


def type_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, idx) — dense 0-based index, lexicographic; the
    window runs on the ≤31-row type dimension. Snapshot-slotted
    (r17): the dim feeds the steps join plus one decode join per
    path position — 1 + MAX_STEPS = 13 plan branches, each of which
    otherwise re-runs the corpus scan + distinct (audited: 34
    exchanges unslotted → 10 slotted at sf0.1)."""
    from dist_map_reduce_spark.caching import get_or_build

    return get_or_build(
        "session_path_type_dim",
        sf_dir,
        lambda: (
            load_table(spark, sf_dir, "events")
            .select("event_type")
            .filter(F.col("event_type").isNotNull())
            .distinct()
            .select(
                "event_type",
                (
                    F.row_number().over(Window.orderBy("event_type")) - 1
                ).alias("idx"),
            )
        ),
        session=spark,
    )


@query("session_path_counts", oracle=_ORACLE)
def session_path_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(path, n_steps, n_sessions) — exact session counts per
    first-MAX_STEPS event-type path, path rendered 'a>b>c'."""
    # NULL types excluded BEFORE sessionization on BOTH engines —
    # an inner dim join after rn assignment would silently drop the
    # row from the path while the oracle's count(*) kept it
    events = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .filter(F.col("event_type").isNotNull())
    )
    dim = type_dim(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = GAP_MINUTES * 60 * 1000000
    sessioned = events.withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
            > gap_us,
            1,
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            wu.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    steps = (
        sessioned.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= MAX_STEPS)
        .join(F.broadcast(dim), "event_type")
        .select(
            "user_id",
            "session_id",
            F.expr(
                "CAST(idx + 1 AS BIGINT) * shiftleft("
                f"CAST(1 AS BIGINT), (rn - 1) * {BITS_PER_STEP})"
            ).alias("step_code"),
        )
    )
    # pure LongType HashAggregates: (user, session) -> path code,
    # then (code, steps) -> session count
    paths = steps.groupBy("user_id", "session_id").agg(
        F.sum("step_code").alias("path_code"),
        F.count("*").cast("bigint").alias("n_steps"),
    )
    counted = paths.groupBy("path_code", "n_steps").agg(
        F.count("*").cast("bigint").alias("n_sessions")
    )
    # decode on the path-bounded table only
    out = counted
    for pos in range(1, MAX_STEPS + 1):
        chunk = F.expr(
            f"shiftrightunsigned(path_code, {(pos - 1) * BITS_PER_STEP})"
            f" % {1 << BITS_PER_STEP}"
        )
        out = out.withColumn(f"c{pos}", chunk).join(
            F.broadcast(
                dim.select(
                    (F.col("idx") + 1).alias(f"c{pos}"),
                    F.col("event_type").alias(f"t{pos}"),
                )
            ),
            f"c{pos}",
            "left",
        )
    return out.select(
        F.concat_ws(
            ">", *[F.col(f"t{p}") for p in range(1, MAX_STEPS + 1)]
        ).alias("path"),
        "n_steps",
        "n_sessions",
    )
