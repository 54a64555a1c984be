"""Streaming HyperLogLog: sketch state merged across micro-batches
 — the composition the mergeable-summaries
family exists FOR. A streaming count-distinct cannot keep the seen
set (state = cardinality); it keeps a mergeable sketch whose state
is CONSTANT-SIZE and whose merge is associative, commutative and
idempotent — exactly the algebra HLL register max gives you. This
query certifies that composition end-to-end: the events table is
staged as 4 parquet chunks and replayed as 4 REAL micro-batches
(maxFilesPerTrigger=1, the streaming_multibatch_counts discipline),
each batch folds its rows into a 64-int register table held by the
foreachBatch closure (element-wise max — the only state the stream
ever carries), and the final estimate is read out of the merged
registers with the SAME transcendental-free estimator the batch
sketch uses (operators/hll_native.py — integer-scaled dyadic
denominator, generated integer-CASE ranks, round-after-ln linear
counting).

Why the result is deterministic REGARDLESS of batching: register
max-merge is order- and partition-independent, and rank insertion is
idempotent (duplicate user_ids re-insert the same rank), so the
final register table equals the one-pass batch build no matter how
the replay chunks the input — the property is certified two ways:
the DuckDB oracle rebuilds the registers from the whole table in one
pass, and tests/test_hll_stream.py re-runs the stream single-batch
and asserts the identical output. No DISTINCT is needed anywhere in
the stream (the batch sketch dedups only to shrink its aggregate;
max-merge makes duplicates free here).

State/scale posture: per-batch work is one map-side-combined
64-group aggregate over the batch; the driver-held state is exactly
64 integers (the 64-row per-batch collect is the sanctioned
model-sized read, quality_model.py discipline — the register table
IS the model, its size fixed by the sketch, not the data). At 100 TB
the same shape runs with the registers in any keyed state store; the
sketch guarantees the state never grows. alpha*m^2*2^43/S and the
linear-counting branch follow hll_native.py bit-for-bit — the
estimate is computed by Spark expressions over a 1-row DataFrame, so
engine-side rounding semantics match the oracle's.

Reference parity: the reference has neither streaming nor
count-distinct (word count only,
/root/reference/src/worker/worker.go:270-288); this composes the
engine's sketch and streaming families.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.operators.hll_native import (
    ALPHA,
    M_REG,
    _POW43,
    _rank_sql,
    rank_col,
)
from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.scratch import scratch_path
from dist_map_reduce_spark.streaming.pipelines import (
    FileSource,
    run_available_now,
    stage_chunks,
)

N_CHUNKS = 4  # staged replay chunks = real micro-batches

_H_SQL = (
    "('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 12))"
    "::BIGINT"
)

# estimator body shared with the oracle text (hll_native's _est_sql
# is per-group; this is its 1-group form over reg(bucket, m_rank))
_S_SQL = (
    f"(sum(1::BIGINT << (43 - m_rank)) + ({M_REG} - count(*)) * {1 << 43})"
)
_RAW_SQL = f"({ALPHA!r}e0 * {M_REG * M_REG} * {_POW43:.0f}e0 / {_S_SQL})"

_ORACLE = f"""
WITH hashed AS (
  SELECT {_H_SQL} AS h FROM events
),
reg AS (
  SELECT h % {M_REG} AS bucket,
         max({_rank_sql(f"(h // {M_REG})")}) AS m_rank
  FROM hashed GROUP BY 1
),
est AS (
  SELECT CASE WHEN ({M_REG} - count(*)) > 0
               AND {_RAW_SQL} < {2.5 * M_REG!r}e0
         THEN round({M_REG} * ln(CAST({M_REG} AS DOUBLE)
                                 / ({M_REG} - count(*))), 6)
         ELSE round({_RAW_SQL}, 6)
         END AS hll_est,
         count(*) AS n_filled_buckets
  FROM reg
),
exact AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
SELECT CAST({N_CHUNKS} AS BIGINT) AS n_batches,
       e.n_filled_buckets, x.n_exact, e.hll_est,
       round(abs(e.hll_est - x.n_exact) / x.n_exact, 6) AS rel_err
FROM est e, exact x
"""


def _estimate_df(spark: SparkSession, registers: dict[int, int]) -> DataFrame:
    """The merged register dict -> (hll_est, n_filled_buckets) via
    Spark expressions, so rounding/branch semantics are the engine's
    own (identical to hll_native's read-out)."""
    reg = spark.createDataFrame(
        [(int(b), int(r)) for b, r in sorted(registers.items())],
        "bucket int, m_rank int",
    )
    agg = reg.agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), 43 - m_rank)")
        ).alias("s_present"),
        F.count("*").alias("n_filled_buckets"),
    )
    s_total = (
        F.col("s_present")
        + (F.lit(M_REG) - F.col("n_filled_buckets")) * F.lit(1 << 43)
    )
    v_empty = F.lit(M_REG) - F.col("n_filled_buckets")
    raw = F.lit(ALPHA) * F.lit(M_REG * M_REG) * F.lit(_POW43) / s_total
    return agg.select(
        F.when(
            (v_empty > 0) & (raw < F.lit(2.5 * M_REG)),
            F.round(
                F.lit(M_REG) * F.log(F.lit(M_REG) * F.lit(1.0) / v_empty), 6
            ),
        )
        .otherwise(F.round(raw, 6))
        .alias("hll_est"),
        F.col("n_filled_buckets").cast("long").alias("n_filled_buckets"),
    )


def stream_hll_registers(
    spark: SparkSession, sf_dir: str, staged: str
) -> tuple[dict[int, int], int]:
    """Replay ``staged`` one parquet file per micro-batch, folding
    each batch into a 64-register max-merge. Returns (registers,
    n_batches)."""
    stream = FileSource(path=staged, max_files_per_trigger=1).read(
        spark, sf_dir
    )
    registers: dict[int, int] = {}
    batches = [0]

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("hll:"), F.col("user_id").cast("string")
                        ).cast("binary")
                    ),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("h")
        )
        reg = (
            batch.select(h)
            .select(
                (F.col("h") % M_REG).alias("bucket"),
                rank_col(F.floor(F.col("h") / M_REG)).alias("r"),
            )
            .groupBy("bucket")
            .agg(F.max("r").alias("m_rank"))
        )
        # <= 64 rows — the sanctioned model-sized read (the register
        # table IS the model; its size is the sketch's, not the data's)
        for row in reg.collect():
            b, r = row["bucket"], row["m_rank"]
            if registers.get(b, 0) < r:
                registers[b] = r
        batches[0] += 1

    run_available_now(
        spark,
        stream.writeStream.outputMode("update")
        .foreachBatch(fold_batch)
        .option("checkpointLocation", os.path.join(staged, "_hll_ckpt")),
    )
    return registers, batches[0]


@query("streaming_hll_merge", oracle=_ORACLE)
def streaming_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_batches, n_filled_buckets, n_exact, hll_est, rel_err) — the
    user-cardinality HLL built by max-merging per-micro-batch
    registers across 4 real replay batches, graded against the exact
    distinct count; the oracle rebuilds the registers in one batch
    pass, certifying merge == one-pass (the mergeability contract)."""
    staged = stage_chunks(
        load_table(spark, sf_dir, "events").select("user_id"),
        scratch_path(sf_dir, "events_hll_chunks"),
        N_CHUNKS,
    )
    registers, n_batches = stream_hll_registers(spark, sf_dir, staged)
    est = _estimate_df(spark, registers)
    exact = (
        load_table(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        est.crossJoin(exact)  # 1-row broadcast scalar (sanctioned)
        .select(
            F.lit(n_batches).cast("long").alias("n_batches"),
            "n_filled_buckets",
            "n_exact",
            "hll_est",
            F.round(
                F.abs(F.col("hll_est") - F.col("n_exact"))
                / F.col("n_exact"),
                6,
            ).alias("rel_err"),
        )
    )
