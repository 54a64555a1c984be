"""Oracle parity: the one comparison of a query's result with its
DuckDB oracle.

The correctness contract of ``__spark_entry__`` runs each query and
its oracle SQL over the same parquet fixture and requires the same row
count, the same column names and the same order-insensitive values.
Tests, ``tools/sweep.py`` and perfbench (through ``tests/conftest.py``)
all check with this module, so a canonicalisation fix lands everywhere
at once.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import pandas as pd

from .catalog import TABLES, table_path

# differing rows listed per side in a mismatch report
_SHOWN = 3


def duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    """One DuckDB view per fixture table in ``sf_dir``. A table whose
    file is absent gets no view (DuckDB raises at ``CREATE VIEW`` on a
    missing file), so a crafted one-table directory works too."""
    for t in TABLES:
        path = table_path(sf_dir, t)
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")


def _canon_cell(v):
    """Canonicalize one value for order-insensitive comparison."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_rows(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(_canon_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    return sorted(rows)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """The problems that keep ``got`` (a query's result) from matching
    ``want`` (its oracle's): column names, then row count, then
    canonical rows with the first few rows found on one side only. An
    empty list means a match."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    problems = []
    if len(got) != len(want):
        problems.append(f"{len(got)} rows != oracle {len(want)}")
    got_rows, want_rows = Counter(canon_rows(got)), Counter(canon_rows(want))
    only_got = sorted((got_rows - want_rows).elements())
    only_want = sorted((want_rows - got_rows).elements())
    if only_got or only_want:
        problems.append(
            f"{len(only_got)} rows only in the result, "
            f"{len(only_want)} only in the oracle"
        )
        problems += [f"result-only: {r}" for r in only_got[:_SHOWN]]
        problems += [f"oracle-only: {r}" for r in only_want[:_SHOWN]]
    return problems
