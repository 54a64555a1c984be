"""TPC-H query shapes q2/q9/q11/q16/q20 over a derived partsupp.

These five are the queries `tpch_full.py` had to skip because the
fixture set ships no ``partsupp`` table. Rather than lose exactly
the nastiest subquery shapes in the suite (q2's correlated min-cost
subquery, q20's nested IN/correlated-scalar chain), this module
derives a deterministic synthetic partsupp from lineitem — one row
per observed (partkey, suppkey) pair with

  - ``ps_availqty``   = exact decimal sum of shipped quantity
  - ``ps_supplycost`` = min extendedprice ever charged (min is
    exact and order-independent, unlike a float sum)

— and runs the five canonical plans on top. The Spark side builds
partsupp ONCE per (session, fixture dir) as a DataFrame persisted
through the bounded ``caching.get_or_build`` slot (the same
build-once/reuse contract as the ANN indexes) and binds it, with the
fixture tables, into each query's text as a DataFrame argument
(``catalog.run_sql``); the DuckDB oracle reads the same template with
plain names and re-derives partsupp from scratch with an equivalent
CTE, so the check stays engine-vs-engine with zero shared text
evaluation.

Scale shape (all five): partsupp is one groupBy over lineitem (hash
partial-agg, one shuffle, output bounded by |part|×|supplier|
observed pairs — dimension-scale, far below fact-scale), computed
once and reused. Catalyst rewrites every subquery below into
joins/semi-joins against that aggregate; nothing re-executes per
row:
  - q2:  correlated min subquery → de-correlated per-part min +
         equi-join on (partkey, cost); unique ORDER BY chain makes
         the LIMIT deterministic across engines.
  - q9:  6-way star join; profit accumulated in DECIMAL (exact,
         associative — see money.py) then rounded once.
  - q11: uncorrelated scalar subquery (1-row broadcast threshold)
         over the same grouped aggregate as the main branch.
  - q16: NOT IN over a NULL-free key → left-anti join; distinct
         supplier count is a partial-agg hash aggregate.
  - q20: IN (semi join) over a correlated-scalar filter that
         Catalyst de-correlates into a grouped per-key sum joined
         back on (partkey, suppkey).

Reference parity note: the reference engine's only built-in query is
word count (reference: src/worker/worker.go:270-288); this module
exercises the generic map/shuffle/reduce surface the reference
exposes for arbitrary mapFunc/reduceFunc pairs
(src/worker/worker.go:131-218).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table, plain_sql, run_sql
from dist_map_reduce_spark.registry import query

# Synthetic partsupp as a DuckDB CTE — the oracle-side derivation.
_PS = """
  partsupp AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS ps_availqty,
           min(l_extendedprice) AS ps_supplycost
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
  )
"""


def _with_ps(body: str) -> str:
    """Oracle text: a query template with plain table names, after the
    partsupp CTE."""
    body = plain_sql(body)
    if body.lstrip().startswith("WITH"):
        return body.replace("WITH", f"WITH {_PS},", 1)
    return f"WITH {_PS}\n{body}"


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic partsupp, built once per (session, sf_dir) in the
    bounded slot; later queries reuse the cached aggregate."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        return li.groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        ).agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("ps_availqty"),
            F.min("l_extendedprice").alias("ps_supplycost"),
        )

    return get_or_build(spark, "tpch_partsupp", sf_dir, build)


def _run(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    return run_sql(spark, sf_dir, text, partsupp=_partsupp(spark, sf_dir))


_Q2 = """
SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
       ps.ps_supplycost
FROM {part} p
JOIN {partsupp} ps ON p.p_partkey = ps.ps_partkey
JOIN {supplier} s ON s.s_suppkey = ps.ps_suppkey
JOIN {nation} n ON s.s_nationkey = n.n_nationkey
JOIN {region} r ON n.n_regionkey = r.r_regionkey
WHERE p.p_size <= 15 AND p.p_type = 'ECONOMY' AND r.r_name = 'EUROPE'
  AND ps.ps_supplycost = (
    SELECT min(ps2.ps_supplycost)
    FROM {partsupp} ps2
    JOIN {supplier} s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN {nation} n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN {region} r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""


@query("q2_min_cost_supplier", oracle=_with_ps(_Q2))
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: min-cost supplier per part within a region —
    correlated min subquery de-correlated by Catalyst into a
    per-part aggregate + equi-join. The ORDER BY chain
    (acctbal DESC, nation, supplier, part) is a unique total order,
    so LIMIT 100 selects the same set in both engines."""
    return _run(spark, sf_dir, _Q2)


_Q9 = """
SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
       CAST(round(sum(
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
         - CAST(ps.ps_supplycost AS DECIMAL(18,2))
           * CAST(l.l_quantity AS DECIMAL(18,2))
       ), 2) AS DOUBLE) AS sum_profit
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
JOIN {partsupp} ps
  ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
JOIN {orders} o ON o.o_orderkey = l.l_orderkey
JOIN {nation} n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, year(o.o_orderdate)
"""


@query("q9_product_type_profit", oracle=_with_ps(_Q9))
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by nation and year — 6-way star join
    with a LIKE filter on the part dimension; profit (revenue minus
    supply cost × quantity) accumulated in DECIMAL so the sum is
    exact and engine-independent, rounded to cents once."""
    return _run(spark, sf_dir, _Q9)


_Q11 = """
WITH nation_ps AS (
  SELECT ps.ps_partkey,
         CAST(ps.ps_supplycost AS DECIMAL(18,2))
           * CAST(ps.ps_availqty AS DECIMAL(18,2)) AS stock_value
  FROM {partsupp} ps
  JOIN {supplier} s ON s.s_suppkey = ps.ps_suppkey
  JOIN {nation} n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
)
SELECT ps_partkey,
       CAST(round(sum(stock_value), 2) AS DOUBLE) AS part_value
FROM nation_ps
GROUP BY ps_partkey
HAVING sum(stock_value) > (
  SELECT sum(stock_value) * 2.0 / count(DISTINCT ps_partkey)
  FROM nation_ps
)
ORDER BY part_value DESC
"""


@query("q11_important_stock", oracle=_with_ps(_Q11))
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part stock value within a nation group,
    kept when above 2× the average per-part share — TPC-H's own
    fraction scales as 0.0001/SF precisely because a FIXED fraction
    empties (or floods) as the part count grows; the average-share
    threshold is the scale-invariant equivalent. The Spark side
    computes
    the grouped aggregate ONCE and derives the threshold from it (the
    exact-decimal total of per-part sums equals the oracle's
    ungrouped total by associativity) as a 1-row broadcast scalar —
    the literal SQL form would evaluate the nation_ps CTE twice, one
    full pass per branch."""
    vals = _run(
        spark,
        sf_dir,
        """
        SELECT ps.ps_partkey,
               sum(CAST(ps.ps_supplycost AS DECIMAL(18,2))
                   * CAST(ps.ps_availqty AS DECIMAL(18,2))) AS sv
        FROM {partsupp} ps
        JOIN {supplier} s ON s.s_suppkey = ps.ps_suppkey
        JOIN {nation} n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
        GROUP BY ps.ps_partkey
        """
    )
    total = vals.agg(
        F.sum("sv").alias("tot"), F.count("*").alias("cnt")
    )
    return (
        vals.crossJoin(F.broadcast(total))
        .where(F.col("sv") > F.col("tot") * F.lit(2.0) / F.col("cnt"))
        .select(
            "ps_partkey",
            F.round(F.col("sv"), 2).cast("double").alias("part_value"),
        )
    )


_Q16 = """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT ps.ps_suppkey) AS supplier_cnt
FROM {partsupp} ps
JOIN {part} p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#2'
  AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
  AND ps.ps_suppkey NOT IN (
    SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@query("q16_supplier_part_counts", oracle=_with_ps(_Q16))
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size)
    excluding a supplier blacklist — NOT IN over a NULL-free key
    plans as a left-anti join (the blacklist predicate adapts the
    original's comment-LIKE to s_acctbal < 0, the fixture's only
    supplier-quality column)."""
    return _run(spark, sf_dir, _Q16)


_Q20 = """
SELECT s.s_name, n.n_name
FROM {supplier} s
JOIN {nation} n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4',
                   'NATION_5')
  AND s.s_suppkey IN (
    SELECT ps.ps_suppkey
    FROM {partsupp} ps
    WHERE ps.ps_partkey IN (
        SELECT p_partkey FROM {part} WHERE p_name LIKE 'small%'
      )
      AND ps.ps_availqty > 2 * (
        SELECT CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        FROM {lineitem} l
        WHERE l.l_partkey = ps.ps_partkey
          AND l.l_suppkey = ps.ps_suppkey
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
      )
  )
ORDER BY s.s_name
"""


@query("q20_excess_stock_suppliers", oracle=_with_ps(_Q20))
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding stock above 2× the window
    demand for promoted parts — a nested IN chain whose inner filter
    is a correlated scalar sum; Catalyst de-correlates it into a
    grouped per-(part, supplier) sum joined back, and both INs plan
    as semi joins. (part, supplier) pairs with no shipments in the
    window yield a NULL sum and are excluded — standard TPC-H
    comparison semantics, identical in both engines."""
    return _run(spark, sf_dir, _Q20)
