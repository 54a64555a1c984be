"""Fixture-view integrity guard (ADVICE r16, catalog.py item).

``catalog.register_views`` skips re-registration when (session,
sf_dir, stamps) match, which is sound ONLY under a cross-module
invariant: no code ever binds a fixture-table view name (catalog.
TABLES) to anything but a ``load_table`` handle, and never drops one.
This test enforces the invariant statically, so a future
``createOrReplaceTempView("orders", transformed_df)`` — which would
leave every SQL-API query reading transformed data after the skip
path — fails CI instead of silently corrupting results.
"""

from __future__ import annotations

import re
from pathlib import Path

from dist_map_reduce_spark.catalog import TABLES

_PKG = Path(__file__).resolve().parent.parent / "dist_map_reduce_spark"

# statement lookback: createOrReplaceTempView is chained onto its
# DataFrame expression; 3 joined lines cover every in-repo call shape
_LOOKBACK = 3


def _statements(path: Path, needle: str):
    lines = path.read_text().splitlines()
    for i, line in enumerate(lines):
        if needle in line and not line.lstrip().startswith("#"):
            lo = max(0, i - _LOOKBACK)
            yield i + 1, " ".join(
                ln.strip() for ln in lines[lo : i + 1]
            )


def test_fixture_view_names_bind_only_load_table_handles():
    offenders = []
    fixture_literals = {f'"{t}"' for t in TABLES} | {
        f"'{t}'" for t in TABLES
    }
    for path in _PKG.rglob("*.py"):
        for lineno, stmt in _statements(path, "createOrReplaceTempView"):
            m = re.search(
                r"createOrReplaceTempView\(\s*([\"'][a-z_]+[\"'])", stmt
            )
            if m is None or m.group(1) not in fixture_literals:
                continue  # non-fixture or variable view name: free
            if "load_table" not in stmt and "_t(" not in stmt:
                offenders.append(f"{path.name}:{lineno}: {stmt}")
    assert not offenders, (
        "fixture-table view bound to a non-load_table DataFrame "
        "(breaks catalog.register_views' skip-path invariant):\n"
        + "\n".join(offenders)
    )


def test_fixture_views_are_never_dropped():
    offenders = []
    for path in _PKG.rglob("*.py"):
        for lineno, stmt in _statements(path, "dropTempView"):
            m = re.search(r"dropTempView\(\s*([\"'])([a-z_]+)\1", stmt)
            if m and m.group(2) in TABLES:
                offenders.append(f"{path.name}:{lineno}: {stmt}")
    assert not offenders, (
        "fixture-table view dropped (register_views' skip path would "
        "leave it missing):\n" + "\n".join(offenders)
    )
