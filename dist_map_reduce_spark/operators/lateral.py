"""LATERAL correlated derived table — top-N-per-key as the SQL
surface writes it. Completes the engine's
Spark 4 extension-surface story next to the UDTF
(functions/python_udfs.py), VARIANT (operators/json_ops.py),
WITH RECURSIVE (operators/recursion.py) and the Python Data Source
(operators/python_datasource.py): SPARK-34382's lateral join, the
form every analyst reaches for when "top 2 orders PER customer" must
stay a correlated subquery instead of a hand-rewritten window.

The interesting contract is the PLAN, and it is pinned: Spark
DECORRELATES the correlated LIMIT-2 subquery — the executed plan is
one per-key Window + WindowGroupLimit(Partial/Final) feeding ONE
equi-join (verified in tests/test_lateral.py; no per-outer-row
re-execution exists anywhere in the plan). That is exactly the
machinery a hand-written row_number query would get, so the LATERAL
spelling costs nothing at 100 TB: the orders side is one
WindowGroupLimit pass (per-partition bounded top-2, never a full
per-customer sort — the reservoir.py guarantee), the customer side
one hash join, and AQE picks the join strategy. The tie discipline
is total (o_totalprice DESC, o_orderkey ASC), so top-2 is unique and
both engines agree row-for-row.

The SQL text is shared between engines except the md5-filter
spelling (Spark ``conv(substring(md5(..)))`` vs DuckDB
``('0x' || ..)::BIGINT`` — the dialects' one hex-parse difference,
same single-source-of-truth discipline as recursion.py's integer
division) — the filter keeps the output audit-sized (1 of 16
md5 buckets of customers) without losing any per-key semantics.

Reference parity: the reference has no join surface at all (word
count only, /root/reference/src/worker/worker.go:270-288);
extension surface beside relational.py's join family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

TOP_N = 2
N_BUCKETS = 16  # customer md5 buckets; bucket 0 is the audit slice

_SPARK_HASH = (
    "CAST(conv(substring(md5('lat:' || CAST(c.c_custkey AS STRING)),"
    " 1, 8), 16, 10) AS BIGINT)"
)
_DUCK_HASH = (
    "('0x' || substring(md5('lat:' || CAST(c.c_custkey AS VARCHAR)),"
    " 1, 8))::BIGINT"
)


def _lateral_sql(cust: str, orders: str, hash_expr: str) -> str:
    """Shared text; ``cust``/``orders`` are the relation names and
    ``hash_expr`` the dialect's hex-parse of the customer md5 (the
    ONLY dialect differences)."""
    return f"""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice, t.rk
    FROM {cust} c, LATERAL (
      SELECT o.o_orderkey, o.o_totalprice,
             row_number() OVER (ORDER BY o.o_totalprice DESC,
                                o.o_orderkey ASC) AS rk
      FROM {orders} o WHERE o.o_custkey = c.c_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
      LIMIT {TOP_N}
    ) t
    WHERE {hash_expr} % {N_BUCKETS} = 0
    """


# query-private view names (the recursion.py discipline — never
# shadow the shared fixture view names in a long-lived session)
_CUST_VIEW = "lateral_customer_v"
_ORD_VIEW = "lateral_orders_v"


@query(
    "lateral_topn_orders_per_customer",
    oracle=_lateral_sql("customer", "orders", _DUCK_HASH),
)
def lateral_topn_orders_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(c_custkey, o_orderkey, o_totalprice, rk): each audit-slice
    customer's top-2 orders by price via a correlated LATERAL
    subquery with LIMIT — decorrelated by Spark into WindowGroupLimit
    + one equi-join (plan-pinned)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        _CUST_VIEW
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(_ORD_VIEW)
    return spark.sql(_lateral_sql(_CUST_VIEW, _ORD_VIEW, _SPARK_HASH))
