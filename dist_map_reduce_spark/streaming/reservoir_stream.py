"""Streaming bounded uniform sample: a bottom-K reservoir as
micro-batch state — the second composition of
a mergeable summary with the streaming replay harness (the first is
streaming_hll_merge): "keep a uniform K-row sample of everything
that ever flowed through this stream" with state that NEVER grows.

Why bottom-K-by-deterministic-tag is the right streaming state
(functions/reservoir.py makes the batch-side argument): the merge
(union -> keep K smallest) is associative, commutative and
IDEMPOTENT — a replayed batch re-offers the same (prio, key) pairs
and changes nothing, which is exactly the at-least-once delivery
algebra a recovering stream needs. Classic Vitter reservoirs fail
BOTH requirements (RNG state is order-dependent and replay-fragile).
The certified property is therefore the strongest available: the
stream's final sample is IDENTICAL, row for row, to the one-pass
batch bottom-K the oracle computes — not an error band, an equality
— regardless of how the replay chunks the input (4 real
maxFilesPerTrigger=1 micro-batches here; tests re-run at 1 chunk
and assert the same output).

Per-batch work and state: each micro-batch reduces to its own
bottom-K (TakeOrderedAndProject — per-partition heaps, K rows to
the driver: the sanctioned model-sized read, the reservoir IS the
model and its size is the sample's, not the data's); the closure
folds it into the carried K-row list by a deterministic merge. At
100 TB the same shape runs with the reservoir in a keyed state
store; per-batch shuffle volume is K rows from each partition, and
the carried state is K (prio, key) pairs forever.

Reference parity: the reference has neither streaming nor sampling
(word count only, /root/reference/src/worker/worker.go:270-288);
this composes the engine's sampling and streaming families.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.scratch import scratch_path
from dist_map_reduce_spark.streaming.pipelines import (
    FileSource,
    run_available_now,
    stage_chunks,
)

K = 64  # reservoir size
N_CHUNKS = 4  # staged replay chunks = real micro-batches
_SALT = "sres:"

_PRIO_SQL = (
    f"('0x' || substring(md5('{_SALT}' || CAST(event_id AS VARCHAR)),"
    f" 1, 12))::BIGINT"
)

_ORACLE = f"""
WITH base AS (
  SELECT event_id, user_id, event_type, {_PRIO_SQL} AS prio
  FROM events
),
direct AS (
  SELECT event_id, user_id, event_type, prio,
         row_number() OVER (ORDER BY prio ASC, event_id ASC)
           AS sample_rank
  FROM base
  QUALIFY sample_rank <= {K}
)
SELECT sample_rank, event_id, user_id, event_type, prio,
       CAST({N_CHUNKS} AS BIGINT) AS n_batches
FROM direct
"""


def _prio(event_id: F.Column) -> F.Column:
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_SALT), event_id.cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("long")


def stream_reservoir(
    spark: SparkSession, sf_dir: str, staged: str
) -> tuple[list[tuple], int]:
    """Replay ``staged`` one file per micro-batch; each batch offers
    its own bottom-K and the closure keeps the K smallest (prio,
    event_id, user_id, event_type) seen so far. Returns
    (reservoir rows, n_batches)."""
    stream = FileSource(path=staged, max_files_per_trigger=1).read(
        spark, sf_dir
    )
    state: list[tuple] = []
    batches = [0]

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        winners = (
            batch.select(
                _prio(F.col("event_id")).alias("prio"),
                "event_id",
                "user_id",
                "event_type",
            )
            .orderBy(F.col("prio").asc(), F.col("event_id").asc())
            .limit(K)
            .collect()  # <= K rows — the model-sized read
        )
        merged = state + [
            (r["prio"], r["event_id"], r["user_id"], r["event_type"])
            for r in winners
        ]
        # deterministic merge: sort by (prio, event_id), dedup on
        # event_id (idempotence under replay), keep K
        seen: set[int] = set()
        state.clear()
        for row in sorted(merged):
            if row[1] in seen:
                continue
            seen.add(row[1])
            state.append(row)
            if len(state) == K:
                break
        batches[0] += 1

    run_available_now(
        spark,
        stream.writeStream.outputMode("update")
        .foreachBatch(fold_batch)
        .option("checkpointLocation", os.path.join(staged, "_res_ckpt")),
    )
    return state, batches[0]


@query("streaming_reservoir_sample", oracle=_ORACLE)
def streaming_reservoir_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(sample_rank, event_id, user_id, event_type, prio, n_batches):
    the K-row uniform sample carried as micro-batch state across 4
    real replay batches. The oracle computes the one-pass global
    bottom-K — full value-hash parity IS the mergeability
    certification (stream merge == one-pass, row for row)."""
    staged = stage_chunks(
        load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type"
        ),
        scratch_path(sf_dir, "events_res_chunks"),
        N_CHUNKS,
    )
    state, n_batches = stream_reservoir(spark, sf_dir, staged)
    out = spark.createDataFrame(
        [
            (i + 1, int(eid), int(uid), et, int(prio))
            for i, (prio, eid, uid, et) in enumerate(state)
        ],
        "sample_rank int, event_id long, user_id long, "
        "event_type string, prio long",
    )
    return out.select(
        "sample_rank",
        "event_id",
        "user_id",
        "event_type",
        "prio",
        F.lit(n_batches).cast("long").alias("n_batches"),
    )
