"""Semantic contracts of the r16 AMS / count-sketch F2 moment
(parity proves Spark == DuckDB; these prove the sketch itself):

- the md5-derived bucket and sign are bit-identical to a pure-Python
  reference (the transcendental-free / integer-only claim, checked
  directly like the HLL rank function);
- the merged grid is the element-wise SUM of the per-source grids
  AND equals the one-pass grid built with the group key dropped —
  the mergeability identity on the actual counter tables;
- a single-token corpus collapses every row estimate to f^2, so the
  median is EXACT — the estimator identity pinned with zero variance;
- on the fixture the estimates sit inside the 3-sigma AMS band for
  B=128, are honestly lossy somewhere, and the merged exact F2
  strictly exceeds the sum of the per-source exact F2s (sources
  share vocabulary — the anti-vacuity check that the merge does
  real work the group rows cannot reconstruct).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()

# 3 * sqrt(2/B) for B=128 — the AMS single-row standard error bound,
# tripled; the median over 5 rows only tightens it
_REL_BAND = 3 * math.sqrt(2 / 128)


def _py_hash(word: str, seed: int) -> int:
    return int(
        hashlib.md5(f"ams{seed}:{word}".encode()).hexdigest()[:12], 16
    )


def test_bucket_and_sign_bit_identity(spark):
    from dist_map_reduce_spark.functions.text_ams import (
        AMS_ROWS,
        AMS_WIDTH,
        bucket_col,
        sign_col,
    )

    words = ["alpha", "Bravo", "x", "the", "zzzz", "Qu", "corpus"]
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    cols = []
    for s in range(AMS_ROWS):
        cols += [
            bucket_col(F.col("word"), s).alias(f"b{s}"),
            sign_col(F.col("word"), s).alias(f"s{s}"),
        ]
    got = {r["word"]: r for r in df.select("word", *cols).collect()}
    for w in words:
        for s in range(AMS_ROWS):
            h = _py_hash(w, s)
            assert got[w][f"b{s}"] == h % AMS_WIDTH
            assert got[w][f"s{s}"] == (1 if (h // AMS_WIDTH) % 2 == 0 else -1)


def test_merge_identity_on_counter_grids(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.text_ams import _counter_grid

    docs = load_table(spark, SF_SMOKE, "documents")
    counts = (
        docs.select(
            F.col("source").alias("g"),
            F.explode(F.split("text", "[^a-zA-Z]+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("g", "word")
        .agg(F.count("*").alias("cnt"))
    )
    per_source = _counter_grid(counts)
    merged = (
        per_source.groupBy("r", "bucket")
        .agg(F.sum("c").alias("c"))
        .toPandas()
        .set_index(["r", "bucket"])
        .sort_index()
    )
    one_pass = (
        _counter_grid(
            counts.groupBy(F.lit("all").alias("g"), "word").agg(
                F.sum("cnt").alias("cnt")
            )
        )
        .select("r", "bucket", "c")
        .toPandas()
        .set_index(["r", "bucket"])
        .sort_index()
    )
    assert merged.c.to_dict() == one_pass.c.to_dict()


def test_single_token_corpus_is_exact(spark):
    from dist_map_reduce_spark.functions import text_ams

    rows = [
        (i, " ".join(["word"] * (3 + i % 4)), "en", f"s{i % 2}", 0)
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        pdf = text_ams.text_ams_f2_moment(spark, d).toPandas()
    # one token everywhere: every row's counter is +/- f in one
    # bucket, every f2_row is f^2, the median is exact
    assert (pdf.f2_est == pdf.f2_exact).all(), pdf
    assert (pdf.rel_err == 0).all()
    assert set(pdf.grp) == {"s0", "s1", "__merged__"}


def test_fixture_band_and_merged_dominance(spark):
    from dist_map_reduce_spark.functions import text_ams

    pdf = text_ams.text_ams_f2_moment(spark, SF_SMOKE).toPandas()
    assert len(pdf) == 21 and "__merged__" in set(pdf.grp)
    assert (pdf.rel_err <= _REL_BAND).all(), pdf
    assert (pdf.rel_err > 0).any(), "suspiciously exact sketch"
    groups = pdf[pdf.grp != "__merged__"]
    merged = pdf[pdf.grp == "__merged__"].iloc[0]
    # (sum_g f_g)^2 >= sum_g f_g^2 per word, strict when sources
    # share vocabulary — the merge computes something no combination
    # of the group outputs can
    assert merged.f2_exact > groups.f2_exact.sum()
