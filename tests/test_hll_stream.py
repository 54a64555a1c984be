"""Semantic contracts of the r16 streaming HLL — what parity can't
state (parity proves the 4-batch stream == DuckDB's one-pass build;
these prove the mergeability algebra on the engine itself):

- batching invariance: the registers folded across 4 real
  micro-batches equal the registers from a single-batch replay AND
  a direct batch aggregate — max-merge is associative/commutative/
  idempotent, so HOW the input was chunked cannot matter;
- the replay really ran multi-batch (n_batches == 4);
- the state is sketch-sized (<= 64 filled buckets).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _direct_registers(spark) -> dict[int, int]:
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.hll_native import M_REG, rank_col

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
        load_table(spark, SF_SMOKE, "events")
        .select(h)
        .select(
            (F.col("h") % M_REG).alias("bucket"),
            rank_col(F.floor(F.col("h") / M_REG)).alias("r"),
        )
        .groupBy("bucket")
        .agg(F.max("r").alias("m_rank"))
    )
    return {row["bucket"]: row["m_rank"] for row in reg.collect()}


def test_query_output_and_multibatch(spark):
    pdf = registry.QUERIES["streaming_hll_merge"](
        spark, SF_SMOKE
    ).toPandas()
    assert len(pdf) == 1
    row = pdf.iloc[0]
    assert row["n_batches"] == 4
    assert 0 < row["n_filled_buckets"] <= 64
    assert row["n_exact"] > 0
    assert row["rel_err"] < 0.5  # m=64 HLL is coarse; sanity bound


def test_streamed_registers_are_batching_invariant(spark, tmp_path):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.streaming.hll_stream import (
        stream_hll_registers,
    )
    from dist_map_reduce_spark.streaming.pipelines import stage_chunks

    direct = _direct_registers(spark)

    def staged(n: int) -> str:
        return stage_chunks(
            load_table(spark, SF_SMOKE, "events").select("user_id"),
            str(tmp_path / f"chunks_{n}"),
            n,
        )

    one_reg, one_n = stream_hll_registers(spark, SF_SMOKE, staged(1))
    four_reg, four_n = stream_hll_registers(spark, SF_SMOKE, staged(4))
    assert one_n == 1 and four_n == 4
    assert one_reg == four_reg == direct
