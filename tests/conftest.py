"""Shared pytest fixtures + the oracle-parity harness.

Mirrors the driver's check: run the Spark query and the DuckDB oracle
on the same parquet and compare them with ``parity.compare`` (column
names, row count, order-insensitive values).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dist_map_reduce_spark import registry
# canon_rows is re-exported: perfbench/worker.py loads this file by path
# and reads canon_rows and duck_views from it
from dist_map_reduce_spark.parity import canon_rows, compare, duck_views  # noqa: F401
from dist_map_reduce_spark.session import get_spark

registry.load_all()

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dist_map_reduce_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def assert_parity(spark, duck, name: str, sf_dir: str = SF_ORACLE) -> None:
    """Run Spark query vs DuckDB oracle; assert driver-style equality."""
    spdf = registry.QUERIES[name](spark, sf_dir).toPandas()
    duck_views(duck, sf_dir)
    problems = compare(spdf, duck.execute(registry.ORACLES[name]).fetchdf())
    assert not problems, f"{name}: " + "\n".join(problems)
