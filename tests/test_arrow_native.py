"""Semantic contracts of the r16 mapInArrow text stats (parity
proves the aggregate == DuckDB; these prove the Arrow stage itself):

- the Arrow-kernel projection equals the pure-JVM twin
  ROW-FOR-ROW (udf-twins discipline: pyarrow.compute's utf8_length /
  count_substring_regex implement the same semantics as F.length /
  F.regexp_count on this corpus);
- structural laws: n_vowels <= n_chars, n_words >= 1 per doc on the
  fixture, one output row per source.
"""

from __future__ import annotations

from dist_map_reduce_spark import registry
from tests.conftest import SF_SMOKE

registry.load_all()


def test_arrow_stage_matches_jvm_twin(spark):
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.arrow_native import (
        arrow_stats_rows,
        jvm_stats_rows,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    key = ["source", "n_chars", "n_vowels", "n_words"]
    a = (
        arrow_stats_rows(docs)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    j = (
        jvm_stats_rows(docs)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert a.equals(j[a.columns])
    assert (a.n_vowels <= a.n_chars).all()
    assert (a.n_words >= 1).all()


def test_query_shape(spark):
    pdf = registry.QUERIES["arrow_text_stats_per_source"](
        spark, SF_SMOKE
    ).toPandas()
    assert len(pdf) == 20
    assert pdf.source.is_unique
    assert (pdf.n_docs > 0).all()
