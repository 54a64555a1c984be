"""Semantic contracts of the r16 custom Python Data Source — what
parity can't state (parity proves the generated table matches the
generate_series spec; these prove the source's read contract):

- partition completeness: the 8 InputPartition gid slices union to
  exactly [0, N) — sum of bucket counts equals the footer row count;
- bucket domain: every bucket in [0, 97);
- idempotent registration: running the query twice in one session
  re-registers the source without error and returns the same result.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()

_Q = "python_datasource_synth"


def test_partition_completeness_and_domain(spark):
    pdf = registry.QUERIES[_Q](spark, SF_SMOKE).toPandas()
    total = pq.ParquetFile(
        os.path.join(SF_SMOKE, "events.parquet")
    ).metadata.num_rows
    assert pdf["n_rows"].sum() == total
    assert pdf["bucket"].between(0, 96).all()
    assert pdf["bucket"].is_unique
    assert (pdf["sum_h"] > 0).all()


def test_reregistration_is_idempotent(spark):
    a = (
        registry.QUERIES[_Q](spark, SF_SMOKE)
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    b = (
        registry.QUERIES[_Q](spark, SF_SMOKE)
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    assert a.equals(b)
