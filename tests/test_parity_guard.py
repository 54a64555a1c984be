"""Parity guard: the oracle comparison lives only in
``dist_map_reduce_spark/parity.py``. No other module defines its
canonicaliser or its DuckDB views, and no tool or test compares
results by stringifying whole frames, the looser rule that once let
an alias mismatch pass. Enforced statically.
"""

from __future__ import annotations

import re
from pathlib import Path

_ROOT = Path(__file__).resolve().parent.parent


def _lines(paths):
    for path in paths:
        for n, line in enumerate(path.read_text().splitlines(), 1):
            yield f"{path.relative_to(_ROOT)}:{n}: {line.strip()}", line


def test_canon_rows_and_duck_views_are_defined_only_in_parity():
    sources = [
        p
        for p in sorted(_ROOT.rglob("*.py"))
        if not any(part.startswith(".") for part in p.relative_to(_ROOT).parts)
    ]
    defs = [
        where
        for where, line in _lines(sources)
        if re.search(r"\bdef (canon_rows|duck_views)\b", line)
    ]
    assert [d.split(":")[0] for d in defs] == ["dist_map_reduce_spark/parity.py"] * 2, defs


def test_no_tool_or_test_stringifies_frames_to_compare():
    sources = sorted((_ROOT / "tools").rglob("*.py")) + sorted(
        (_ROOT / "tests").rglob("*.py")
    )
    offenders = [
        where for where, line in _lines(sources) if re.search(r"astype\(str\)", line)
    ]
    assert not offenders, "compare with parity.compare:\n" + "\n".join(offenders)
