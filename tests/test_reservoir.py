"""Semantic contracts of the r16 mergeable reservoir sample — what
the cross-engine parity test can't state (parity proves Spark ==
DuckDB; these prove the sample is a CORRECT mergeable reservoir):

- merge certification: the per-source reservoirs merged give the
  direct global bottom-K rank-for-rank (the query's own cert column
  must equal the sample size);
- production closed loop: the zero-shuffle per-Arrow-batch twin
  returns the IDENTICAL sample (the deterministic race makes the
  engine-vs-engine loop exact, no envelope needed);
- plan shape: the per-source reservoir executes as WindowGroupLimit
  (map-side bounded reservoir + merge of survivors — Spark's
  InferWindowGroupLimit), never a full per-group sort, and the two
  global arms are TakeOrderedAndProject;
- uniformity smoke: the sampled prio tags sit far below the 48-bit
  ceiling in the proportion a uniform race implies.
"""

from __future__ import annotations

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _sample(spark):
    return (
        registry.QUERIES["reservoir_merge_sample"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("sample_rank")
        .reset_index(drop=True)
    )


def test_merge_certification_and_shape(spark):
    from dist_map_reduce_spark.functions.reservoir import K

    pdf = _sample(spark)
    n = len(pdf)
    assert 0 < n <= K
    # the cert column IS the contract: merged == direct, rank-aligned
    assert (pdf["merged_matches_direct"] == n).all()
    assert pdf["sample_rank"].tolist() == list(range(1, n + 1))
    # global bottom-K is sorted by the race tag
    assert pdf["prio"].is_monotonic_increasing
    # every sampled row survived its own source's reservoir
    assert (pdf["src_rank"] <= K).all()
    assert (pdf["src_rank"] >= 1).all()
    # scalars are genuine corpus quantities
    assert (pdf["n_strata"] >= pdf["source"].nunique()).all()
    assert (pdf["corpus_rows"] >= n).all()


def test_partition_path_returns_identical_sample(spark):
    """The zero-shuffle mapInPandas build and the certified
    per-source build race the same md5 tags, so their samples must
    be EQUAL — rank for rank, not just as sets."""
    from dist_map_reduce_spark.functions.reservoir import (
        reservoir_partition_path,
    )

    cert = _sample(spark)[["sample_rank", "doc_id", "source", "prio"]]
    prod = (
        reservoir_partition_path(spark, SF_SMOKE)
        .toPandas()
        .sort_values("sample_rank")
        .reset_index(drop=True)[["sample_rank", "doc_id", "source", "prio"]]
    )
    assert cert.equals(prod)


def test_reservoir_plan_windowgrouplimit_no_full_sort(spark):
    """The per-source reservoir must plan as WindowGroupLimit (the
    map-side bounded reservoir + survivor merge), and both global
    bottom-K arms as TakeOrderedAndProject; no Cartesian beyond the
    two sanctioned 1-row scalar broadcasts, no SortAggregate."""
    plan = (
        registry.QUERIES["reservoir_merge_sample"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan


def test_race_tags_uniform_smoke(spark):
    """K smallest of n uniform 48-bit tags should sit near
    (K / n) * 2^48; assert the max sampled tag is within 8x of that
    (md5 scrambling — a gross non-uniformity would blow this)."""
    pdf = _sample(spark)
    n = int(pdf["corpus_rows"].iloc[0])
    k = len(pdf)
    expected_max = k / (n + 1) * float(2**48)
    assert pdf["prio"].max() < 8 * expected_max
    assert pdf["prio"].min() >= 0
