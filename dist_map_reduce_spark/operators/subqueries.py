"""Subquery forms: scalar, correlated scalar, IN, EXISTS, derived
tables — expressed through the SQL API (Catalyst rewrites correlated
subqueries into joins; EXISTS/IN become semi joins, so the physical
plans stay distributed-safe).

Each query's text is one template shared with its oracle: Spark binds
the ``{table}`` fields as DataFrame arguments (``catalog.run_sql``),
DuckDB reads the plain names (``catalog.plain_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dist_map_reduce_spark.catalog import plain_sql, run_sql
from dist_map_reduce_spark.registry import query

_SCALAR = """
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM {orders}
    WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM {orders})
    """


@query("subquery_scalar_above_avg", oracle=plain_sql(_SCALAR))
def subquery_scalar_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (planned as a broadcast of one
    value; the subquery runs once)."""
    return run_sql(spark, sf_dir, _SCALAR)


_CORRELATED = """
    SELECT o.o_orderkey, o.o_custkey
    FROM {orders} o
    WHERE o.o_totalprice > 1.8 * (
      SELECT avg(i.o_totalprice) FROM {orders} i WHERE i.o_custkey = o.o_custkey
    )
    """


@query("subquery_correlated_above_cust_avg", oracle=plain_sql(_CORRELATED))
def subquery_correlated_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst de-correlates it into an
    aggregate + join, so there is no per-row re-execution."""
    return run_sql(spark, sf_dir, _CORRELATED)


_IN = """
    SELECT p_partkey, p_name
    FROM {part}
    WHERE p_partkey IN (
      SELECT l_partkey FROM {lineitem} WHERE l_quantity >= 49
    )
    """


@query("subquery_in_parts_shipped", oracle=plain_sql(_IN))
def subquery_in_parts_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery (planned as left-semi join)."""
    return run_sql(spark, sf_dir, _IN)


_EXISTS = """
    SELECT s_suppkey, s_name
    FROM {supplier}
    WHERE EXISTS (
      SELECT 1 FROM {lineitem}
      WHERE l_suppkey = s_suppkey AND l_extendedprice > 90000
    )
    AND NOT EXISTS (
      SELECT 1 FROM {lineitem}
      WHERE l_suppkey = s_suppkey AND l_quantity = 1
    )
    """


@query("subquery_exists_multi_supplier", oracle=plain_sql(_EXISTS))
def subquery_exists_multi_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT EXISTS combined (semi join ∧ anti join)."""
    return run_sql(spark, sf_dir, _EXISTS)


_DERIVED = """
    SELECT c.c_mktsegment,
           count(*)                    AS n_big_spenders,
           round(avg(t.spend), 2)      AS avg_spend
    FROM (
      -- spend accumulates in DECIMAL so the > 500000 boundary is
      -- engine-exact (see money.py)
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM {orders} GROUP BY o_custkey
    ) t
    JOIN {customer} c ON c.c_custkey = t.o_custkey
    WHERE t.spend > 500000
    GROUP BY c.c_mktsegment
    """


@query("subquery_derived_table_join", oracle=plain_sql(_DERIVED))
def subquery_derived_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived table (pre-aggregated) joined back to a dimension."""
    return run_sql(spark, sf_dir, _DERIVED)
