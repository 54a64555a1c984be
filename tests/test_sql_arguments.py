"""Queries that run SQL text get their tables as DataFrame arguments
(``catalog.run_sql``), so they never create, replace or read a temp
view: a view the caller binds under a fixture name cannot change what
a query reads, and a query leaves no view behind.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from dist_map_reduce_spark import caching, catalog, registry
from dist_map_reduce_spark.parity import compare, duck_views
from tests.conftest import SF_ORACLE

_PKG = Path(catalog.__file__).resolve().parent

# every query whose Spark side runs SQL text over fixture tables
SQL_TEXT_QUERIES = (
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_stock",
    "q16_supplier_part_counts",
    "q20_excess_stock_suppliers",
    "subquery_scalar_above_avg",
    "subquery_correlated_above_cust_avg",
    "subquery_in_parts_shipped",
    "subquery_exists_multi_supplier",
    "subquery_derived_table_join",
    "events_rollup_day_hour",
    "grouping_sets_orders",
    "lateral_topn_orders_per_customer",
    "recursive_order_lineage",
)

_VIEW_METHODS = {
    "createOrReplaceTempView",
    "createTempView",
    "createGlobalTempView",
    "createOrReplaceGlobalTempView",
}
_VIEW_DDL = re.compile(
    r"CREATE\s+(OR\s+REPLACE\s+)?(GLOBAL\s+)?TEMP(ORARY)?\s+VIEW", re.I
)


def _view_writes(tree: ast.AST):
    """(function name or None, line) of each temp-view creation."""
    found = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _VIEW_METHODS
        ) or (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _VIEW_DDL.search(node.value)
        ):
            found.append((fn, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


def test_only_register_views_creates_temp_views():
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        for fn, line in _view_writes(ast.parse(path.read_text())):
            if (path.name, fn) != ("catalog.py", "register_views"):
                offenders.append(f"{path.relative_to(_PKG)}:{line} in {fn}")
    assert not offenders, (
        "temp view created outside catalog.register_views; bind tables "
        "as DataFrame arguments (catalog.run_sql):\n" + "\n".join(offenders)
    )


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_caller_views_neither_shadow_inputs_nor_are_replaced(spark, duck):
    before = _temp_views(spark)
    decoy = spark.range(0)
    try:
        for name in catalog.TABLES:
            decoy.createOrReplaceTempView(name)
        caching.clear()
        duck_views(duck, SF_ORACLE)
        for name in SQL_TEXT_QUERIES:
            got = registry.QUERIES[name](spark, SF_ORACLE).toPandas()
            want = duck.execute(registry.ORACLES[name]).fetchdf()
            problems = compare(got, want)
            assert not problems, f"{name}: " + "\n".join(problems)
        for name in catalog.TABLES:
            assert spark.table(name).columns == ["id"], name
        assert _temp_views(spark) == before | set(catalog.TABLES)
    finally:
        for name in catalog.TABLES:
            spark.catalog.dropTempView(name)
        caching.clear()
