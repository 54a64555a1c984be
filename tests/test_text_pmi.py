"""Semantic contracts of the r16 bigram PMI collocations (parity
proves Spark == DuckDB; these prove the statistic):

- n_ab / margins / total / pmi match a pure-Python recomputation
  from the fixture's adjacent-bigram stream (formula identity,
  including that margins are the BIGRAM table's own row/column
  sums, not unigram counts);
- every emitted bigram passes both gates: n_ab ≥ MIN_CO and the
  exact cross-multiplied positivity test n_ab·T > n_a·n_b (so
  pmi > 0 strictly — no emitted pmi is ≤ 0 and no withheld
  qualifying bigram has pmi > 0);
- a doc with < 2 tokens contributes nothing (no null/empty-slice
  artifacts from the explode_outer path).
"""

from __future__ import annotations

import math
from collections import Counter

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_pmi_matches_python_reference(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.text_pmi import (
        MIN_CO,
        text_pmi_bigrams,
    )

    pdf = text_pmi_bigrams(spark, SF_SMOKE).toPandas()
    docs = load_table(spark, SF_SMOKE, "documents").toPandas()

    pair = Counter()
    for text in docs.text:
        toks = text.split(" ")
        pair.update(zip(toks, toks[1:]))
    left = Counter()
    right = Counter()
    for (a, b), n in pair.items():
        left[a] += n
        right[b] += n
    total = sum(pair.values())

    expected = {
        (a, b): n
        for (a, b), n in pair.items()
        if n >= MIN_CO and n * total > left[a] * right[b]
    }
    got = {(r.w1, r.w2): r.n_ab for r in pdf.itertuples()}
    assert got == expected
    assert expected, "fixture must exercise the emission path"

    for r in pdf.itertuples():
        assert r.n_a == left[r.w1]
        assert r.n_b == right[r.w2]
        assert r.n_bigrams == total
        assert r.pmi > 0  # strict positivity survived the round
        assert (
            abs(
                r.pmi
                - round(
                    math.log(
                        (r.n_ab * total) / (left[r.w1] * right[r.w2])
                    ),
                    6,
                )
            )
            < 1e-9
        )

    # no qualifying positive-PMI bigram was withheld (completeness
    # is exactly the expected-set equality above; this asserts the
    # converse direction explicitly for n_ab >= MIN_CO)
    for (a, b), n in pair.items():
        if n >= MIN_CO and (a, b) not in got:
            assert n * total <= left[a] * right[b]


def test_short_docs_contribute_nothing(spark, tmp_path):
    from dist_map_reduce_spark.functions.text_pmi import bigram_counts

    spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "a b a b a b a b a b")],
        "doc_id bigint, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.w1, r.w2): r.n_ab
        for r in bigram_counts(spark, str(tmp_path)).collect()
    }
    assert got == {("a", "b"): 5, ("b", "a"): 4}
