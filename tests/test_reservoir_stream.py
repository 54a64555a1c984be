"""Semantic contracts of the r16 streaming reservoir — what parity
can't state (parity proves the 4-batch stream == DuckDB's one-pass
bottom-K; these prove the merge algebra on the engine itself):

- batching invariance: the reservoir folded across 4 real
  micro-batches equals a single-batch replay AND the direct batch
  bottom-K — the merge is associative/commutative, so HOW the input
  was chunked cannot matter;
- replay idempotence: re-offering an already-folded batch's winners
  leaves the state unchanged (the at-least-once delivery property
  the event_id dedup provides);
- the replay really ran multi-batch (n_batches == 4) and the state
  is exactly K rows with strictly increasing priorities.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _direct_bottom_k(spark) -> list[tuple]:
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.streaming.reservoir_stream import K, _prio

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            _prio(F.col("event_id")).alias("prio"),
            "event_id",
            "user_id",
            "event_type",
        )
        .orderBy(F.col("prio").asc(), F.col("event_id").asc())
        .limit(K)
        .collect()
    )
    return [
        (r["prio"], r["event_id"], r["user_id"], r["event_type"])
        for r in rows
    ]


def test_query_output_shape(spark):
    from dist_map_reduce_spark.streaming.reservoir_stream import K

    pdf = registry.QUERIES["streaming_reservoir_sample"](
        spark, SF_SMOKE
    ).toPandas()
    assert len(pdf) == K
    assert (pdf.n_batches == 4).all()
    assert list(pdf.sample_rank) == list(range(1, K + 1))
    assert pdf.prio.is_monotonic_increasing
    assert pdf.event_id.is_unique


def test_stream_is_batching_invariant(spark, tmp_path):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.streaming.reservoir_stream import (
        stream_reservoir,
    )

    direct = _direct_bottom_k(spark)

    def staged(n: int) -> str:
        path = str(tmp_path / f"chunks_{n}")
        shutil.rmtree(path, ignore_errors=True)
        load_table(spark, SF_SMOKE, "events").select(
            "event_id", "user_id", "event_type"
        ).repartition(n).write.mode("overwrite").parquet(path)
        return path

    one, n1 = stream_reservoir(spark, SF_SMOKE, staged(1))
    four, n4 = stream_reservoir(spark, SF_SMOKE, staged(4))
    assert (n1, n4) == (1, 4)
    assert one == four == direct


def test_replay_idempotence():
    """Folding a batch's winners twice must be a no-op: simulate the
    closure's merge on plain tuples (same code path shape — sort,
    dedup on event_id, cut at K)."""
    from dist_map_reduce_spark.streaming.reservoir_stream import K

    winners = [(p * 10, p, p % 7, "t") for p in range(K + 20)]

    def merge(state, offered):
        seen, out = set(), []
        for row in sorted(state + offered):
            if row[1] in seen:
                continue
            seen.add(row[1])
            out.append(row)
            if len(out) == K:
                break
        return out

    once = merge([], winners)
    twice = merge(once, winners)
    assert twice == once and len(once) == K
