"""Event-sequence analytics: transition matrices and co-occurrence
graphs (triangle counting).

Product/behavioral analytics over ordered event streams — the query
family clickstream warehouses run constantly. Both operators are
deterministic compositions of windows and equi-joins; nothing here
needs an RNG, a UDF, or an unbounded state.

`event_transition_matrix`: first-order Markov transitions — for each
user, order events by time and count (from_type -> to_type) steps.
One lag() window per user + one aggregation; at 100 TB the window
partitions by user_id (millions of independent partitions), and the
result is |event_types|² rows regardless of corpus size.

`supplier_triangles`: build the co-supply graph (suppliers are
adjacent when they appear in the same order) and count its triangles
— the standard graph-clustering primitive (clustering coefficient,
community density). The scalable shape:

1. edges via a self-join WITHIN orders (per-order supplier lists are
   bounded by order size, so pair fan-out is bounded per key — never
   a global cross join), deduped to one row per undirected edge;
2. edges re-ORIENTED from the lower-degree endpoint to the
   higher-degree endpoint (tie-break by id) — the classic
   degree-ordering trick (Chiba–Nishizeki / node-iterator++): every
   wedge is generated at its LOWEST-degree vertex, which bounds the
   wedge intermediate to O(m^1.5) regardless of how dense the
   degree distribution gets. Id-ordering instead would fan out
   quadratically at high-degree hubs — the difference between a
   plan that survives a dense co-supply graph at 100 TB and one
   that doesn't;
3. triangles counted edge-at-a-time against broadcast per-vertex
   out-neighbor arrays of the rank DAG: for each directed edge
   (u, v), |N+(u) ∩ N+(v)| closing vertices, evaluated JVM-side
   with ``array_intersect`` — the wedge stream never materializes
   as shuffle rows (on this near-complete fixture graph that is
   1.2×10⁸ rows it never pays for).

The triangle COUNT is orientation-invariant, so the DuckDB oracle
deliberately uses the simpler id-ordered formulation — a genuinely
independent check of the same number, not a mirror of our plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query


@query(
    "event_transition_matrix",
    oracle="""
    WITH steps AS (
      SELECT event_type AS to_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      FROM events
    )
    SELECT from_type, to_type, count(*) AS n
    FROM steps
    WHERE from_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between event types per
    user stream (ordered by ts with event_id tie-break so concurrent
    events sequence identically in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    )
    return (
        steps.where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )


def undirected_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct oriented edges (a < b) from a pair stream."""
    return (
        pairs.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )


def triangle_count(edges: DataFrame, cache_key: str | None = None) -> DataFrame:
    """Count triangles of an undirected edge table stored oriented
    (a < b), using degree-ordered wedge generation.

    Re-orients every edge from its lower-rank endpoint to its
    higher-rank endpoint, rank = (degree, id), builds per-vertex
    out-neighbor arrays of the rank DAG, then counts triangles
    edge-at-a-time: for each directed edge (u, v), the closing
    vertices are exactly |N+(u) ∩ N+(v)|, evaluated JVM-side with
    ``array_intersect`` — wedges never materialize as shuffle rows.
    Every out-degree in the rank DAG is at most sqrt(2m), so total
    intersection work is bounded by O(m^1.5) — the optimal bound for
    triangle enumeration; id-ordering has no such bound and
    collapses at high-degree hubs. Explicit ``repartition`` before
    the intersect matters: the edge table is tiny in bytes (AQE
    would coalesce it to one partition) but each row carries
    O(sqrt(m)) compute, so parallelism must be forced. The adjacency
    table (one row per VERTEX — dimension-sized, suppliers here) is
    broadcast explicitly: AQE's static estimate of a collect_list
    aggregate is unknown-size, so unhinted it plans a sort-merge
    join whose post-shuffle stage AQE then coalesces to one
    partition (measured 3× slower). On a graph whose adjacency
    outgrows broadcast limits, drop the hint and pin the exchanges
    with explicit repartition-by-key — same plan shape, shuffle
    joins instead.

    ``cache_key``: when set, the edge table and the adjacency table
    persist through tracked cache slots — the plan references edges
    three times (both degree scans + the re-orientation) and the
    adjacency twice (both broadcast sides), so unpersisted, the
    upstream pair-generation subtree executes ~5× (audited: 30 hash
    exchanges → 12, 2.0 s → 1.2 s at sf0.1).
    """
    if cache_key is not None:
        from dist_map_reduce_spark.caching import persist_tracked

        edges = persist_tracked(edges, "triangle_edges", cache_key)
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    with_deg = (
        edges.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    # orient lower (degree, id) rank -> higher rank
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    directed = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    adj = directed.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    if cache_key is not None:
        from dist_map_reduce_spark.caching import persist_tracked

        adj = persist_tracked(adj, "triangle_adj", cache_key)
    # width scales with the session's core count (2x for stragglers),
    # not a literal that would cap parallelism on a real cluster
    width = 2 * directed.sparkSession.sparkContext.defaultParallelism
    return (
        directed.repartition(width, "u", "v")
        .join(F.broadcast(adj.select("u", F.col("nbrs").alias("nu"))), "u")
        .join(
            F.broadcast(
                adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))
            ),
            "v",
        )
        .select(F.size(F.array_intersect("nu", "nv")).alias("t"))
        .agg(
            F.coalesce(F.sum("t"), F.lit(0).cast("long")).alias("n_triangles")
        )
    )


@query(
    "supplier_triangles",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT least(x.l_suppkey, y.l_suppkey) AS a,
                      greatest(x.l_suppkey, y.l_suppkey) AS b
      FROM lineitem x JOIN lineitem y USING (l_orderkey)
      WHERE x.l_suppkey < y.l_suppkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e1.b = e2.a
    JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the co-supply graph (suppliers adjacent when they
    serve the same order): per-order self-join (bounded fan-out) →
    distinct edges → degree-ordered rank DAG → per-edge
    array_intersect of broadcast out-neighbor arrays. The oracle
    counts the same triangles via the independent id-ordered wedge
    formulation (the count is orientation-invariant)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = li.alias("x").join(li.alias("y"), "l_orderkey").select(
        F.col("x.l_suppkey").alias("s1"), F.col("y.l_suppkey").alias("s2")
    ).where(F.col("s1") < F.col("s2"))
    return triangle_count(undirected_edges(pairs, "s1", "s2"), cache_key=sf_dir)


_EF_ORACLE = """
WITH per_ut AS (
  SELECT user_id, event_type, min(ts) AS tmin, max(ts) AS tmax
  FROM events GROUP BY user_id, event_type
),
types AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
  FROM per_ut GROUP BY event_type
),
follows AS (
  SELECT a.event_type AS from_type, b.event_type AS to_type,
         CAST(count(*) AS BIGINT) AS n_follow
  FROM per_ut a JOIN per_ut b ON a.user_id = b.user_id
  WHERE b.tmax > a.tmin
  GROUP BY a.event_type, b.event_type
)
SELECT ta.event_type AS from_type, tb.event_type AS to_type,
       ta.n_users AS n_users_from, tb.n_users AS n_users_to,
       COALESCE(f.n_follow, 0) AS n_follow,
       round(CAST(COALESCE(f.n_follow, 0) AS DOUBLE)
             / CAST(ta.n_users AS DOUBLE), 6) AS follow_rate
FROM types ta CROSS JOIN types tb
LEFT JOIN follows f
  ON f.from_type = ta.event_type AND f.to_type = tb.event_type
"""


@query("event_eventually_follows", oracle=_EF_ORACLE)
def event_eventually_follows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Process-mining eventually-follows matrix: for every ordered type pair (a, b) — self-loops included —
    the exact number of users with SOME b-event strictly after SOME
    a-event, i.e. max_ts(b) > min_ts(a) per user, plus both margins
    and follow_rate = n_follow / n_users_from. This is the van der
    Aalst process-discovery primitive (the "eventually-follows
    graph") that `event_transition_matrix` (ADJACENT steps only)
    cannot express; the min/max reformulation makes the existential
    two-event predicate a per-(user, type) aggregate instead of an
    occurrence-pair join. Strict ts comparison — no ordering race,
    so no event_id tie-break is needed.

    Scale posture (100 TB): ONE corpus-scale stage — the
    (user, type) groupBy with min/max (map-side partial). The
    follows join is user-scale with ≤ |types|² per-user fan-out;
    margins and the complete |types|² grid (constant-key equi-join,
    not a Cartesian) are type-dimension-bounded. Output is
    |types|² rows at any corpus size."""
    per_ut = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("tmin"), F.max("ts").alias("tmax"))
    )
    types = per_ut.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    a = per_ut.select(
        "user_id", F.col("event_type").alias("from_type"), "tmin"
    )
    b = per_ut.select(
        "user_id", F.col("event_type").alias("to_type"), "tmax"
    )
    follows = (
        a.join(b, "user_id")
        .filter(F.col("tmax") > F.col("tmin"))
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("bigint").alias("n_follow"))
    )
    grid = (
        types.select(
            F.col("event_type").alias("from_type"),
            F.col("n_users").alias("n_users_from"),
        )
        .withColumn("k", F.lit(1))
        .join(
            types.select(
                F.col("event_type").alias("to_type"),
                F.col("n_users").alias("n_users_to"),
            ).withColumn("k", F.lit(1)),
            "k",
        )
        .drop("k")
    )
    return (
        grid.join(follows, ["from_type", "to_type"], "left")
        .withColumn(
            "n_follow", F.coalesce("n_follow", F.lit(0).cast("bigint"))
        )
        .select(
            "from_type",
            "to_type",
            "n_users_from",
            "n_users_to",
            "n_follow",
            F.round(
                F.col("n_follow").cast("double")
                / F.col("n_users_from").cast("double"),
                6,
            ).alias("follow_rate"),
        )
    )
