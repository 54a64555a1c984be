"""Semantic contracts of the r16 stream-stream LEFT OUTER join —
what cross-engine parity can't state (parity proves Spark == DuckDB
on the single-batch replay; these prove the semantics):

- matched rows are EXACTLY the batch time-bounded inner join (outer
  adds null rows, never changes matches);
- null-row consistency: purchase_id and delay_sec are null together,
  and delays sit inside the [0, 1800 s] join bound;
- replay stability: a TIME-ORDERED 3-chunk maxFilesPerTrigger=1
  replay (each batch a contiguous ts range, mtime-ordered like the
  ingest harness) emits the IDENTICAL final set as the single-batch
  run — outer emission timing moves across batches, the set does
  not. (Out-of-order arrival beyond the watermark is the live-stream
  late-data contract, deliberately not exercised here.)
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()

_Q = "streaming_stream_stream_left_join"


def _canon(pdf: pd.DataFrame) -> list[tuple]:
    return sorted(
        pdf[["user_id", "click_id", "purchase_id", "delay_sec"]]
        .astype("float64")
        .fillna(-1.0)
        .itertuples(index=False, name=None)
    )


def _run_single_batch(spark) -> pd.DataFrame:
    return registry.QUERIES[_Q](spark, SF_SMOKE).toPandas()


def test_matched_rows_equal_batch_join_and_null_consistency(spark):
    from dist_map_reduce_spark.catalog import load_table

    pdf = _run_single_batch(spark)
    assert (pdf["purchase_id"].isna() == pdf["delay_sec"].isna()).all()
    matched = pdf[pdf["purchase_id"].notna()]
    assert matched["delay_sec"].between(0, 1800).all()

    ev = load_table(spark, SF_SMOKE, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    batch = (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (
                F.col("p_ts")
                <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTE")
            ),
        )
        .select("click_id", "purchase_id")
        .toPandas()
    )
    got = sorted(
        matched[["click_id", "purchase_id"]].itertuples(index=False, name=None)
    )
    want = sorted(batch.itertuples(index=False, name=None))
    assert got == want


def test_time_ordered_multibatch_replay_same_final_set(spark, tmp_path):
    """3 contiguous-ts chunks, mtimes strictly increasing (the
    ingest-replay discipline), maxFilesPerTrigger=1 → 3 real data
    batches + the trailing no-data batch. The final set must equal
    the single-batch run's."""
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.streaming.pipelines import (
        FileSource,
        bind,
        use_binding,
    )

    single = _canon(_run_single_batch(spark))

    staged = str(tmp_path / "events_ts_chunks")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartitionByRange(3, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(staged)
    parts = sorted(
        f for f in os.listdir(staged) if f.startswith("part-")
    )
    assert len(parts) == 3
    # range partitions are ascending by part number; pin replay order
    # with explicit strictly-increasing mtimes (ingest_dedup.py:551)
    base = 1_700_000_000
    for i, f in enumerate(parts):
        os.utime(os.path.join(staged, f), (base + 10 * i, base + 10 * i))

    with use_binding(bind(source=FileSource(path=staged, max_files_per_trigger=1))):
        multi = _canon(
            registry.QUERIES[_Q](spark, SF_SMOKE).toPandas()
        )
    assert multi == single
