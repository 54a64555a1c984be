"""Query registry.

Every implemented operator registers a named query callable
``(spark, sf_dir) -> DataFrame`` and its DuckDB oracle SQL string over
the same fixture views. This is the engine's equivalent of the
reference's pluggable ``mapFunc``/``reduceFunc`` programming surface
(reference: src/worker/worker.go:22-23) — except queries are
declarative plans, not imperative task bodies.

Column-name contract: Spark result and oracle result must have
identical column names (driver compares after sorting columns by
name), so every computed column is aliased on both sides.

Importing this module imports no query module: only ``load_all()``
does, so callers can patch engine layers (``catalog``, ``caching``)
before the query modules bind their names.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# subpackages whose every module may register queries
_PACKAGES = ("functions", "operators", "streaming")


def query(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Register a query with its oracle, DuckDB SQL over the fixture
    views (``parity.duck_views``)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module under ``functions/``, ``operators/`` and
    ``streaming/`` so their registrations run. Idempotent."""
    for sub in _PACKAGES:
        pkg = importlib.import_module(f"{__package__}.{sub}")
        for mod in pkgutil.iter_modules(pkg.__path__):
            importlib.import_module(f"{pkg.__name__}.{mod.name}")


# Compatibility surface for perfbench/worker.py, which predates the
# single registry and still calls these names.
load_staged = load_all
STAGED_QUERIES: dict[str, QueryFn] = {}
STAGED_ORACLES: dict[str, str] = {}


def resolve_oracle(sql: str) -> str:
    return sql
