"""The shared oracle comparison (``parity.compare``) on hand-built
pandas frames, with no Spark session: what it must call a mismatch
and what it must let through."""

from __future__ import annotations

import numpy as np
import pandas as pd

from dist_map_reduce_spark.parity import canon_rows, compare


def test_renamed_column_with_identical_values_is_a_mismatch():
    got = pd.DataFrame({"n_orders": [1, 2]})
    want = pd.DataFrame({"order_count": [1, 2]})
    problems = compare(got, want)
    assert problems and "columns" in problems[0], problems


def test_differing_row_count_is_a_mismatch():
    got = pd.DataFrame({"k": [1, 2, 2]})
    want = pd.DataFrame({"k": [1, 2]})
    problems = compare(got, want)
    assert "3 rows != oracle 2" in problems
    assert "result-only: ('2',)" in problems


def test_null_and_nan_stay_distinct():
    null = pd.DataFrame({"x": pd.Series([None], dtype=object)})
    nan = pd.DataFrame({"x": [float("nan")]})
    assert canon_rows(null) == [("<null>",)]
    assert canon_rows(nan) == [("<nan>",)]
    assert compare(null, nan)


def test_bytes_nested_and_timestamp_cells_canonicalise_alike():
    ts = "2024-03-01 12:30:00"
    got = pd.DataFrame(
        {
            "b": [b"\x00\xff"],
            "arr": pd.Series([[1, 2, 3]], dtype=object),
            "ts": [pd.Timestamp(ts)],
        }
    )
    want = pd.DataFrame(
        {
            "b": [bytes.fromhex("00ff")],
            "arr": pd.Series([np.array([1, 2, 3])], dtype=object),
            "ts": pd.to_datetime([ts]).astype("datetime64[us]"),
        }
    )
    assert canon_rows(got) == [("[1,2,3]", "00ff", "2024-03-01T12:30:00")]
    assert not compare(got, want)


def test_row_and_column_order_do_not_matter():
    got = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    want = pd.DataFrame({"b": ["y", "x"], "a": [2, 1]})
    assert not compare(got, want)
