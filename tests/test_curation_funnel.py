"""Curation funnel invariants (oracle parity is in
tests/test_parity.py — including the composed recursive-CTE
near-dup chain; these pin the funnel-shape properties the count
comparison alone doesn't name)."""

from __future__ import annotations

from dist_map_reduce_spark import registry
from dist_map_reduce_spark.functions.curation_funnel import (
    SAMPLE_K,
    _STAGES,
    funnel_flags,
)
from tests.conftest import SF_SMOKE

registry.load_all()


def test_funnel_monotone_and_named(spark):
    rows = sorted(
        registry.QUERIES["curation_funnel"](spark, SF_SMOKE).collect(),
        key=lambda r: r.stage_no,
    )
    assert [r.stage for r in rows] == list(_STAGES)
    # docs and tokens both non-increasing through the cascade
    for a, b in zip(rows, rows[1:]):
        assert b.docs_out <= a.docs_out, (a, b)
        assert b.tokens_out <= a.tokens_out, (a, b)
    # the sample stage is exactly min(K, survivors)
    assert rows[-1].docs_out == min(SAMPLE_K, rows[-2].docs_out)
    # the cascade actually bites on the fixture (not all stages
    # no-op): strictly fewer docs at the end than the start
    assert rows[-1].docs_out < rows[0].docs_out


def test_semdedup_stage_applies_prune_list_when_aligned(spark):
    """At an embeddings-doc-aligned fixture the funnel's f3 must be
    EXACTLY semdedup_prune_list's keep decision (VERDICT r9 #4) —
    and actually bite, so the stage isn't a vacuous pass-through."""
    from pyspark.sql import functions as F

    flags = funnel_flags(spark, SF_SMOKE)
    sd_drop = {
        r.vec_id
        for r in registry.QUERIES["semdedup_prune_list"](spark, SF_SMOKE)
        .filter(F.col("action") == "drop")
        .collect()
    }
    f3_false = {
        r.doc_id for r in flags.filter(~F.col("f3")).collect()
    }
    assert f3_false == sd_drop
    assert sd_drop, "prune list drops nothing — stage untested"


def test_export_matches_funnel_counts(spark, tmp_path):
    """Exporting the survivors through the deterministic shard
    writer must round-trip exactly the funnel's source_cap-stage docs/tokens
    (a lost or duplicated row anywhere in the write path breaks
    this)."""
    from dist_map_reduce_spark.functions.curation_funnel import (
        export_curated_corpus,
    )

    funnel = {
        r.stage: r
        for r in registry.QUERIES["curation_funnel"](
            spark, SF_SMOKE
        ).collect()
    }
    m = export_curated_corpus(spark, SF_SMOKE, str(tmp_path / "out")).collect()[0]
    assert m.n_docs == funnel["source_cap"].docs_out
    assert m.n_tokens == funnel["source_cap"].tokens_out
    assert m.n_shards >= 1


def test_flags_cover_corpus_once(spark):
    from dist_map_reduce_spark.catalog import load_table

    flags = funnel_flags(spark, SF_SMOKE)
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert flags.count() == n_docs
    assert flags.select("doc_id").distinct().count() == n_docs


def test_selection_rows_on_empty_cascade(spark):
    """If every flag were false the selection stages must report
    (0, 0), not (0, NULL) — the sf0.1 regression class. Simulated by
    capping survivors of an impossible filter."""
    from pyspark.sql import functions as F

    from dist_map_reduce_spark.functions.curation_funnel import (
        capped_survivors,
        funnel_flags,
    )

    flags = funnel_flags(spark, SF_SMOKE).withColumn("f1", F.lit(False))
    capped = capped_survivors(flags)
    row = capped.agg(
        F.count("*").cast("bigint").alias("d"),
        F.coalesce(F.sum("toks"), F.lit(0)).cast("bigint").alias("t"),
    ).collect()[0]
    assert (row.d, row.t) == (0, 0)
