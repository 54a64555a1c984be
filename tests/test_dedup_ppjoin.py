"""Semantic contracts of the r16 PPJoin exact similarity join
(parity proves Spark == DuckDB; these prove the algorithm):

- COMPLETENESS on the fixture: the prefix-filtered answer equals an
  engine-side brute-force all-pairs join (full inverted index, no
  prefix, same integer predicate) — the prefix-filter theorem
  observed, not assumed;
- the prefix index is really a fraction of the postings (~1-t plus
  one per doc), and the safety cap stayed closed (n_capped == 0);
- a hand-built corpus pins the EXACT-threshold boundary: a pair at
  Jaccard exactly 0.8 (5*n == 4*(sz_a+sz_b-n)) is INCLUDED — the
  cross-multiplied integer predicate has no float ulp hole — while
  a pair one shingle short is excluded, and identical-doc clusters
  emit all C(k,2) pairs at jaccard 1.0.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def _brute_force(spark, sf_dir):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.dedup_common import shingles
    from dist_map_reduce_spark.functions.dedup_ppjoin import T_DEN, T_NUM

    sh = shingles(load_table(spark, sf_dir, "documents"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("s"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("s"))
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
        .filter(
            F.lit(T_DEN) * F.col("n_inter")
            >= F.lit(T_NUM) * (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
        )
        .select("doc_a", "doc_b", "n_inter")
    )


def test_completeness_vs_brute_force(spark):
    got = (
        registry.QUERIES["ppjoin_jaccard_pairs"](spark, SF_SMOKE)
        .select("doc_a", "doc_b", "n_inter")
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    want = (
        _brute_force(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    assert got.equals(want[got.columns])
    assert len(got) > 0, "vacuously empty pair set"


def test_prefix_reduction_and_closed_cap(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.dedup_common import shingles
    from dist_map_reduce_spark.functions.dedup_ppjoin import (
        prefix_postings,
    )

    sh = shingles(load_table(spark, SF_SMOKE, "documents"))
    full, pref = sh.count(), prefix_postings(sh).count()
    # p(x) = sz - ceil(0.8 sz) + 1 ~ 0.2 sz + 1
    assert pref < 0.35 * full, (pref, full)

    pdf = registry.QUERIES["ppjoin_jaccard_pairs"](
        spark, SF_SMOKE
    ).toPandas()
    assert (pdf.n_capped_postings == 0).all()


def test_boundary_and_identical_clusters(spark, tmp_path):
    from dist_map_reduce_spark.functions.dedup_ppjoin import (
        ppjoin_jaccard_pairs,
    )

    w = [f"w{i}" for i in range(40)]
    base11 = w[:11]  # 9 shingles
    rows = [
        # docs 0/1: share 8 of 9 shingles -> J = 8/10 = 0.8 EXACTLY
        (0, " ".join(base11), "en", "s", 0),
        (1, " ".join(base11[:10] + [w[20]]), "en", "s", 0),
        # doc 2: shares 7 of 9 with doc 0 -> J = 7/11 < 0.8, excluded
        (2, " ".join(base11[:9] + [w[21], w[22]]), "en", "s", 0),
        # docs 3/4/5: identical -> 3 pairs at jaccard 1.0
        (3, " ".join(w[25:36]), "en", "s", 0),
        (4, " ".join(w[25:36]), "en", "s", 0),
        (5, " ".join(w[25:36]), "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    import os

    d = str(tmp_path / "ppj")
    df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
    pdf = ppjoin_jaccard_pairs(spark, d).toPandas()
    pairs = {(r.doc_a, r.doc_b): r for r in pdf.itertuples()}
    assert (0, 1) in pairs, pdf  # the exact-0.8 boundary pair
    assert pairs[(0, 1)].n_inter == 8 and pairs[(0, 1)].jaccard == 0.8
    assert (0, 2) not in pairs and (1, 2) not in pairs
    assert {(3, 4), (3, 5), (4, 5)} <= set(pairs)
    assert all(pairs[p].jaccard == 1.0 for p in [(3, 4), (3, 5), (4, 5)])
    assert len(pdf) == 4
