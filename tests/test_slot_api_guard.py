"""Slot-API guard: query code reaches a cache slot only through
``caching.get_or_build``, so the reuse decision stays in one place
(``caching.peek``) and a warm query never builds a plan only to
discard it. Enforced statically over ``functions/``, ``operators/``
and ``streaming/``.
"""

from __future__ import annotations

import re
from pathlib import Path

_PKG = Path(__file__).resolve().parent.parent / "dist_map_reduce_spark"


def test_query_code_calls_no_peek_or_persist_tracked():
    offenders = [
        f"{path.relative_to(_PKG)}:{n}: {line.strip()}"
        for family in ("functions", "operators", "streaming")
        for path in sorted((_PKG / family).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\b(peek|persist_tracked)\(", line)
    ]
    assert not offenders, "slot used outside get_or_build:\n" + "\n".join(offenders)
