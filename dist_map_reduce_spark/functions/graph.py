"""Graph analytics over the dedup candidate graph: PageRank.

Third member of the iterative-algorithm family (connected
components, k-means, PageRank) — fixed-iteration Lloyd-style
determinism with a fully unrolled SQL oracle.

Determinism contract (the money.py idea applied to an iterative
algorithm): per-edge contributions are rounded to 12 dp and summed
as DECIMAL — exact and associative, so the neighbor sum is
independent of aggregation order on BOTH engines. Every other step
is a scalar IEEE double op on identical operands (deterministic),
so after each iteration the rank vector is bit-identical across
Spark and DuckDB and the final output hash-matches.

Reference parity note: the reference has no iterative surface (jobs
end at Shutdown, src/master/master.go:206-213); this extends the
engine like clustering.py does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.functions.clustering import symmetric_edges
from dist_map_reduce_spark.functions.dedup import minhash_band_candidates
from dist_map_reduce_spark.functions.dedup_common import _CANDIDATE_PAIRS_SQL
from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.session import iter_checkpoint

N_ITER = 3
DAMPING = 0.85
_DEC = "DECIMAL(22,12)"


def _contrib_sql(rank_rel: str) -> str:
    """Per-edge rank contribution — rounded double division cast to
    exact decimal (same text on both engines)."""
    return (
        f"CAST(round(CAST({rank_rel}.r AS DOUBLE) / {rank_rel}.deg, 12)"
        f" AS {_DEC})"
    )


_STEP_SQL = (
    f"CAST(round(0.15 / n_nodes + {DAMPING} * CAST(s AS DOUBLE), 12)"
    f" AS {_DEC})"
)
_INIT_SQL = f"CAST(round(1.0 / n_nodes, 12) AS {_DEC})"


def _pagerank_oracle() -> str:
    its = []
    prev = "r0"
    for i in range(1, N_ITER + 1):
        its.append(
            f"""r{i} AS (
      SELECT d.src AS node, d.deg, {_STEP_SQL} AS r
      FROM (
        SELECT e.dst, sum({_contrib_sql('r')}) AS s
        FROM edges e JOIN {prev} r ON e.src = r.node
        GROUP BY e.dst
      ) t
      JOIN deg d ON d.src = t.dst, n
    )"""
        )
        prev = f"r{i}"
    chain = ",\n    ".join(its)
    return f"""
    WITH pairs AS ({_CANDIDATE_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    n AS (SELECT count(*) AS n_nodes FROM deg),
    r0 AS (SELECT src AS node, deg, {_INIT_SQL} AS r FROM deg, n),
    {chain}
    SELECT node AS doc_id, CAST(r AS DOUBLE) AS pagerank
    FROM {prev}
    """


@query("pagerank_dedup_graph", oracle=_pagerank_oracle())
def pagerank_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, d=0.85) over the symmetric
    MinHash candidate graph — ranks the most-connected near-dup
    documents (high rank ≈ template/boilerplate cluster hubs).

    Scale design: the edge set is persisted ONCE and every iteration
    is one join + one aggregation over it, persisted and MATERIALIZED
    before the next round (the connected-components discipline).
    Chaining the rounds into a single lazy plan instead grows the
    lineage multiplicatively — measured 88 source scans in the
    3-round plan — so per-round materialization is the difference
    between O(iter) jobs and an exponentially deep tree. The
    candidate graph is sparse by construction (banded LSH, hot keys
    capped), and every node of the symmetric graph has degree ≥ 1,
    so there is no dangling-mass term. Repeat invocations on the
    same fixture return the cached rank table."""
    return get_or_build(
        spark,
        "pagerank_out",
        sf_dir,
        lambda: pagerank(
            minhash_band_candidates(spark, sf_dir).select("doc_a", "doc_b")
        ),
    )


def pagerank(pairs: DataFrame) -> DataFrame:
    """pairs(doc_a, doc_b) → (doc_id, pagerank) over the symmetric
    graph. The edge cache is released on every exit, error paths
    included."""
    edges = symmetric_edges(pairs)
    try:
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        n = deg.agg(F.count("*").alias("n_nodes"))
        # 1-row aggregate crossJoin: the sanctioned scalar-subquery shape
        # Eager checkpointing materializes the snapshot AND truncates
        # the logical lineage — with two previous-round inputs (edges,
        # ranks) per round, an uncut lineage nests multiplicatively (the
        # 3-round plan string reached 13 MB even with persist(), because
        # cached-relation reprs embed their build plans). Storage is
        # conf-driven (session.iter_checkpoint): reliable checkpoint dir
        # when the app set one via sc.setCheckpointDir, else local.
        ranks = iter_checkpoint(
            deg.crossJoin(F.broadcast(n))
            .select(
                F.col("src").alias("node"),
                "deg",
                "n_nodes",
                F.expr(_INIT_SQL).alias("r"),
            )
            .alias("ranks")
        ).alias("ranks")
        for _ in range(N_ITER):
            contrib = (
                edges.join(ranks, edges.src == ranks.node)
                .select(edges.dst, F.expr(_contrib_sql("ranks")).alias("c"))
            )
            summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            ranks = iter_checkpoint(
                deg.join(summed, deg.src == summed.dst)
                .crossJoin(F.broadcast(n))
                .select(
                    F.col("src").alias("node"),
                    "deg",
                    "n_nodes",
                    F.expr(_STEP_SQL).alias("r"),
                )
            ).alias("ranks")
        return ranks.select(
            F.col("node").alias("doc_id"),
            F.col("r").cast("double").alias("pagerank"),
        )
    finally:
        # the ranks snapshot is materialized; the edge cache is dead
        edges.unpersist()
