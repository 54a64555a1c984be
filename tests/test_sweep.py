"""Smoke test of ``tools/sweep.py``, the one oracle tool: it checks
the named queries against their oracles under its own foreign session,
and refuses an unknown name before starting Spark."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMOKE

_SWEEP = Path(__file__).resolve().parent.parent / "tools" / "sweep.py"


def _sweep(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(_SWEEP), SF_SMOKE, *args],
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_sweep_matches_named_queries():
    r = _sweep("wordcount", "q1_pricing_summary")
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    matches = [line for line in r.stdout.splitlines() if ": MATCH (" in line]
    assert len(matches) == 2, r.stdout


def test_sweep_exits_2_on_unknown_name():
    r = _sweep("wordcount", "no_such_query")
    assert r.returncode == 2, r.stdout + r.stderr
    assert "no_such_query" in r.stdout
