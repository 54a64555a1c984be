"""Queries that read ``events`` give the oracle's answer on a session
whose zone is not UTC, warm or cold.

``catalog.load_table`` pins the calling session's zone to UTC when it
loads ``events``. A query that loads ``events`` only inside a slot
builder skips that pin on a warm slot hit, and its TIMESTAMP columns
then render in the caller's zone. That pin and the engine session's
builder are the only places the package touches the session zone.
"""

from __future__ import annotations

import ast
from pathlib import Path

from dist_map_reduce_spark import caching
from tests.conftest import assert_parity

LA = "America/Los_Angeles"
_PKG = Path(__file__).resolve().parent.parent / "dist_map_reduce_spark"
# (module, function) whose body may name the session-zone key
_ZONE_SETTERS = {("catalog.py", "load_table"), ("session.py", "get_spark")}


def _allowed_lines(path: Path) -> set[int]:
    return {
        n
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
        and (str(path.relative_to(_PKG)), node.name) in _ZONE_SETTERS
        for n in range(node.lineno, node.end_lineno + 1)
    }


def test_only_load_table_and_get_spark_name_the_session_zone():
    offenders = [
        f"{path.relative_to(_PKG)}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "spark.sql.session.timeZone" in line
        and n not in _allowed_lines(path)
    ]
    assert not offenders, "session zone named elsewhere:\n" + "\n".join(offenders)


def test_resample_pair_ignores_session_zone_on_slot_hit(spark, duck):
    # interp builds the shared obs slot; locf then hits it
    caching.clear()
    try:
        for name in ("events_resample_5m_interp", "events_resample_5m_locf"):
            spark.conf.set("spark.sql.session.timeZone", LA)
            assert_parity(spark, duck, name)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        caching.clear()
