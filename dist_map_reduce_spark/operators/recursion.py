"""Recursive CTE hierarchy traversal — the
engine's first exercise of Spark 4's ``WITH RECURSIVE`` SQL surface
(SPARK-24497, new in 4.0), the declarative form of iterative
fixpoint computation that the graph family (pagerank / star-
contraction connected components) drives imperatively from the
driver loop. Both shapes belong in the surface: the driver loop owns
convergence-tested iteration (unknown trip count, per-round
persist), the recursive CTE owns structural traversal whose depth
the data bounds — org charts, bill-of-materials, thread trees.

The fixture has no parent-pointer table, so the query derives a
deterministic forest from the orders PK: parent(k) = k DIV 2 for
k >= 2 when that key exists in orders; keys 0 and 1 are always
roots (0 halves to itself and 1 halves to 0 — without the k < 2
floor, a dense keyset containing 0 has a self-loop and NO roots,
which is exactly what the fixture's dense 0..N keys exposed: both
engines agreed on an EMPTY result, a vacuous parity). The forest is
a pure function of the key set, identical in both engines; sparse
TPC-H-proper keysets (8 of every 32) produce many roots via the
NOT EXISTS arm, dense fixtures produce the {0, 1}-rooted binary
tree. The traversal seeds at the roots and walks DOWN
(child joins frontier on ``child_key DIV 2 = frontier_key``), so
every order is reached exactly once: total recursive work is
O(N · depth) with depth ≤ log2(max_key) by construction — the
log-bounded recursion the 100 TB posture needs (each level is one
equi-join of the frontier against the orders PK; Spark executes the
loop as UnionLoop with the same join physics as any other equi-join,
AQE sizing each level's exchange).

Output is depth-level (≤ log2(max_key) rows): order count, distinct
root count, and exact DECIMAL-accumulated revenue per depth
(money.sum_money — the engine-order-independent sum). The SQL text
is shared between engines except for the integer-division spelling
(Spark ``DIV`` vs DuckDB ``//``), the single-source-of-truth
discipline of money.py. DuckDB reads the orders table by name; Spark
binds the persisted (key, price) projection of it as a DataFrame
argument (``catalog.run_sql``), so no view is created.

Reference parity: the reference has no recursion or iteration
surface at all (one-shot map/reduce word count,
/root/reference/src/worker/worker.go:270-288); this extends the
engine's iterative family alongside functions/graph.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table, run_sql
from dist_map_reduce_spark.money import sum_money
from dist_map_reduce_spark.registry import query


def _lineage_sql(table: str, intdiv: str, hint: str = "MERGE(l)") -> str:
    """The shared recursive-traversal text: ``table`` is the orders
    relation (the plain name for DuckDB, a ``run_sql`` field for
    Spark), ``intdiv`` the dialect's integer-division operator
    (the ONLY dialect difference). ``hint`` pins the recursive arm's
    join strategy on the Spark side (DuckDB reads any hint as a plain
    comment); an empty string drops the hint clause entirely."""
    hint_clause = f"/*+ {hint} */ " if hint else ""
    return f"""
    WITH RECURSIVE lineage AS (
      SELECT o.o_orderkey AS okey, o.o_totalprice AS price,
             CAST(0 AS INT) AS depth, o.o_orderkey AS root
      FROM {table} o
      WHERE o.o_orderkey < 2 OR NOT EXISTS (
        SELECT 1 FROM {table} p
        WHERE p.o_orderkey = o.o_orderkey {intdiv} 2
      )
      UNION ALL
      SELECT {hint_clause}
             c.o_orderkey, c.o_totalprice, l.depth + 1, l.root
      FROM {table} c
      JOIN lineage l ON c.o_orderkey {intdiv} 2 = l.okey
      WHERE c.o_orderkey >= 2
    )
    SELECT depth,
           count(*) AS n_orders,
           count(DISTINCT root) AS n_roots,
           {sum_money("price", "depth_revenue")}
    FROM lineage
    GROUP BY depth
    """


# Broadcast the recursive frontier only while it is PROVABLY small:
# the frontier is a subset of the orders keyset, so orders row count
# bounds it. A frontier row is ~40 B framed (bigint key + DECIMAL
# price + int depth + bigint root), so 2M rows ≈ 80 MB broadcast —
# comfortable under the default driver/executor memory; the 100x
# probe's measured driver OOM was at 15M orders (see the MERGE note
# below). Above the bound, pin sort-merge, which is safe at any
# scale. Measured at sf0.1 (150k orders, 18 levels): broadcast 4.45 s
# vs MERGE 7.23 s vs SHUFFLE_HASH 6.07 s (best-of-3) — per-level
# frontier exchange+sort is the difference (guide §3.1/§8: supply
# the size knowledge the stat-less CTE loop cannot infer).
# Headroom AT the bound measured r17 (ADVICE r16 item): a synthesized
# dense 2,000,000-key orders table runs the broadcast arm end-to-end
# in 23.4 s — 21 levels, ~1M-row deepest frontier broadcast — with no
# driver distress under the default 8 GiB driver (the OOM regime
# starts ~7.5x higher at 15M rows).
_BROADCAST_MAX_ROWS = 2_000_000


def _orders_rows(sf_dir: str) -> int:
    """Orders row count from parquet footer metadata (no Spark job);
    handles both the single-file fixture and a directory of parts."""
    import glob as globmod

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "orders.parquet")
    files = (
        sorted(globmod.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


@query(
    "recursive_order_lineage",
    oracle=_lineage_sql("orders", "//"),
)
def recursive_order_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-level rollup of the parent(k) = k DIV 2 order forest via
    a Spark recursive CTE: (depth, n_orders, n_roots, depth_revenue)
    for every depth reached. Roots are keys whose halved key is
    absent from orders; every order appears at exactly one depth, so
    sum(n_orders) == |orders| and depth 0 carries one row per root."""
    # Spark guards recursive CTEs with TWO safety valves: a level
    # limit (spark.sql.cteRecursionLevelLimit, default 100) and a
    # TOTAL-ROW limit (spark.sql.cteRecursionRowLimit, default 1e6).
    # The row valve scales with DATA SIZE, not recursion health — a
    # perfectly log-bounded traversal of a 10M-row orders table trips
    # it (found by the 10x scale probe: RECURSION_ROW_LIMIT_EXCEEDED
    # at 1.5M orders). Lift it and lean on the level limit, which is
    # what actually catches runaway recursion here: depth is
    # log2(max_key) by construction, far under 100.
    #
    # Join strategy for the recursive arm (the CTE self-reference has
    # no statistics, so Catalyst cannot make this call itself):
    # - small keyset (bounded by _orders_rows, footer-metadata read):
    #   let the frontier broadcast — each level then runs exchange-
    #   free on the orders side (r16 optimization, measured 7.2 s →
    #   4.4 s at sf0.1);
    # - large keyset: pin sort-merge with MERGE(l). The 100x scale
    #   probe paid for this lesson: un-hinted, Catalyst broadcast a
    #   depth-1 frontier of ~half the table and the driver OOM'd at
    #   15M orders. Never broadcast a relation whose size you cannot
    #   bound (DuckDB reads the hint as a plain comment).
    spark.conf.set("spark.sql.cteRecursionRowLimit", "-1")
    hint = "" if _orders_rows(sf_dir) <= _BROADCAST_MAX_ROWS else "MERGE(l)"
    # pin the narrow traversal table once: the UnionLoop re-reads the
    # orders relation at EVERY recursion level (~log2(max_key) levels
    # × 2 references — anchor probe + recursive arm), so each level
    # re-paid the parquet scan; a persisted (key, price) projection
    # turns those into in-memory scans (r16, guide §2.4/§5 — reuse
    # across ~36 reads easily clears the caching bar)
    narrow = get_or_build(
        spark,
        "recursion_orders_narrow",
        sf_dir,
        lambda: load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        ),
    )
    return run_sql(
        spark, sf_dir, _lineage_sql("{orders}", "DIV", hint=hint), orders=narrow
    )
