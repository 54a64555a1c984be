"""Registry contract: unique names, SQL oracles, and the pinned
surface that ``__spark_entry__`` exposes."""

from __future__ import annotations

import hashlib
import json

import __spark_entry__
from dist_map_reduce_spark import registry

registry.load_all()

# sha256 of the sorted queries() names and of the sorted oracle_sql()
# items, so a change to either surface is deliberate
QUERIES_SHA = "93ba565869bc9c2eedc3aed9714b2a29dc60b1b238240cfcd5e20d4a78f2e4bd"
ORACLES_SHA = "6ad3eb220e1ebcdeb1ab65bb0c96332d89d73bbd24cce9a262fa402bf47d6bd2"


def test_every_query_has_unique_name_and_callable():
    assert len(registry.QUERIES) == len(set(registry.QUERIES))
    for name, fn in registry.QUERIES.items():
        assert callable(fn), name
    # every registered query has an oracle, and every oracle a query
    assert set(registry.ORACLES) == set(registry.QUERIES)


def test_every_oracle_resolves_to_sql_text():
    for name, sql in registry.ORACLES.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_entry_contract_is_pinned():
    names = sorted(__spark_entry__.queries())
    assert len(names) == 200
    assert hashlib.sha256("\n".join(names).encode()).hexdigest() == QUERIES_SHA
    oracles = json.dumps(sorted(__spark_entry__.oracle_sql().items()))
    assert hashlib.sha256(oracles.encode()).hexdigest() == ORACLES_SHA
    assert len(registry.QUERIES) == 239
