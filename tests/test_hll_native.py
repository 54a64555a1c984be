"""Semantic contracts of the r15 native HLL (parity proves
Spark == DuckDB; these prove the sketch itself):

- the merged row's registers are the element-wise max of the group
  registers (the HLL merge identity, checked on the actual register
  tables);
- estimates sit inside the 3-sigma band of the m=64 standard error
  and are honestly lossy somewhere;
- the small-range linear-counting branch (unreachable on the
  fixtures — every bucket is hit) is exercised on a synthetic tiny
  orders table on BOTH engines;
- the integer-CASE rank function is bit-identical across engines on
  a boundary-heavy grid (the transcendental-free claim, checked
  directly like the t-digest scale function).
"""

from __future__ import annotations

from dist_map_reduce_spark import registry
from dist_map_reduce_spark.parity import compare, duck_views
from tests.conftest import SF_SMOKE

registry.load_all()

# 3 * 1.04/sqrt(64) — the HLL paper's standard error, tripled
_REL_BAND = 0.39


def test_hll_merge_identity_and_error_band(spark):
    import pandas as pd

    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.operators.hll_native import (
        M_REG,
        hll_native_customer_cardinality,
        rank_col,
    )
    from pyspark.sql import functions as F

    pdf = hll_native_customer_cardinality(spark, SF_SMOKE).toPandas()
    assert "__merged__" in set(pdf.grp)
    assert (pdf.rel_err <= _REL_BAND).all(), pdf
    assert (pdf.rel_err > 0).any(), "suspiciously exact sketch"

    # recompute the register tables and check the merge identity
    ev = load_table(spark, SF_SMOKE, "orders")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("hll:"), F.col("o_custkey").cast("string")
                ).cast("binary")
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    reg = (
        ev.select(F.col("o_orderpriority").alias("g"), h.alias("h"))
        .distinct()
        .select(
            "g",
            (F.col("h") % M_REG).alias("bucket"),
            rank_col(F.floor(F.col("h") / M_REG)).alias("r"),
        )
        .groupBy("g", "bucket")
        .agg(F.max("r").alias("m_rank"))
        .toPandas()
    )
    # non-tautological merge check (r15 review): recompute the
    # element-wise-max merged registers HERE, push them through the
    # module's estimator formula IN PYTHON, and require the result to
    # equal the hll_est the QUERY's own __merged__ leg produced — a
    # wrong in-plan merge (wrong group key, wrong union leg) now
    # fails this equality instead of slipping under the 3-sigma band
    from dist_map_reduce_spark.operators.hll_native import ALPHA

    merged = reg.groupby("bucket").m_rank.max()
    s_total = int(sum(1 << (43 - int(m)) for m in merged)) + (
        M_REG - len(merged)
    ) * (1 << 43)
    v_empty = M_REG - len(merged)
    raw = ALPHA * M_REG * M_REG * float(1 << 43) / s_total
    if v_empty > 0 and raw < 2.5 * M_REG:
        import math

        expect = round(M_REG * math.log(float(M_REG) / v_empty), 6)
    else:
        expect = round(raw, 6)
    got = float(pdf[pdf.grp == "__merged__"].hll_est.iloc[0])
    assert got == expect, (got, expect)
    # and the per-group estimates recompute the same way (at sf0.001
    # the groups have ~130 distinct keys against 64 buckets, so some
    # buckets ARE empty and the linear-counting branch fires here —
    # this loop covers both estimator branches on real fixture data)
    import math

    for g, sub in reg.groupby("g"):
        s_g = int(sum(1 << (43 - int(m)) for m in sub.m_rank)) + (
            M_REG - len(sub)
        ) * (1 << 43)
        v_g = M_REG - len(sub)
        raw_g = ALPHA * M_REG * M_REG * float(1 << 43) / s_g
        if v_g > 0 and raw_g < 2.5 * M_REG:
            expect_g = round(M_REG * math.log(float(M_REG) / v_g), 6)
        else:
            expect_g = round(raw_g, 6)
        assert float(pdf[pdf.grp == g].hll_est.iloc[0]) == expect_g, g


def test_hll_linear_counting_branch_on_tiny_corpus(tmp_path, spark):
    import os

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    orders = pd.DataFrame(
        {
            "o_orderkey": list(range(1, 11)),
            "o_custkey": [1, 2, 3, 1, 2, 4, 5, 3, 1, 5],
            "o_orderstatus": ["O"] * 10,
            "o_totalprice": [100.0] * 10,
            "o_orderdate": pd.to_datetime(["1997-01-01"] * 10).astype(
                "datetime64[us]"  # Spark rejects parquet TIMESTAMP(NANOS)
            ),
            "o_orderpriority": ["1-URGENT"] * 5 + ["5-LOW"] * 5,
        }
    )
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.Table.from_pandas(orders), os.path.join(sf_dir, "orders.parquet")
    )
    sp = registry.QUERIES["hll_native_customer_cardinality"](
        spark, sf_dir
    ).toPandas()
    con = duckdb.connect()
    duck_views(con, sf_dir)
    od = con.execute(
        registry.ORACLES["hll_native_customer_cardinality"]
    ).fetchdf()
    assert not compare(sp, od), f"\n{sp}\n{od}"
    # with <= 5 distinct keys against 64 buckets, V > 0 everywhere —
    # the linear-counting branch fires and is very accurate there
    assert (sp.rel_err < 0.25).all(), sp


def test_hll_rank_function_cross_engine_identical(spark):
    import duckdb

    from dist_map_reduce_spark.operators.hll_native import (
        _REST_BITS,
        _rank_sql,
    )

    # boundary-heavy grid: 0, 1, every 2^k and 2^k - 1, plus a stride
    vals = sorted(
        {0, 1}
        | {1 << k for k in range(_REST_BITS)}
        | {(1 << k) - 1 for k in range(1, _REST_BITS + 1)}
        | set(range(0, 1 << 20, 37_337))
    )
    expr = _rank_sql("v")
    sp = [
        r.c
        for r in spark.createDataFrame(
            [(v,) for v in vals], "v LONG"
        ).selectExpr(f"{expr} AS c", "v").orderBy("v").collect()
    ]
    dd = [
        r[0]
        for r in duckdb.connect()
        .execute(
            f"SELECT {expr} AS c FROM (SELECT unnest({vals!r}::BIGINT[]) AS v)"
            " ORDER BY v"
        )
        .fetchall()
    ]
    assert sp == dd
    # and the pure-python reference: rank = 1 + leading zeros
    ref = [
        (_REST_BITS + 1) if v == 0 else (_REST_BITS - v.bit_length() + 1)
        for v in vals
    ]
    assert sp == ref
