"""Scale probe: synthesize a corpus ABOVE the largest fixture and
measure the headline curation operators on it.

The fixtures top out at sf0.1 (5 000 documents / 2 000 vectors); the
scale claims in SCALE.md are plan-shape arguments. This tool adds a
measured point: it replicates the sf0.1 documents/embeddings tables
REPLICAS× with deterministic perturbations (per-replica id offsets, a
replica tag word appended to text, one embedding coordinate nudged
per replica — so replicas are near- but not exact duplicates, the
realistic hard case for dedup), writes them to the gitignored
.scratch dir, and times the document/embedding-only operators at both
corpus sizes. Near-linear wall-time growth (and the k-cells knob
beating the fixture-pinned k on SemDeDup) is the evidence; results
are recorded in SCALE.md §"Measured scaling".

Usage: python tools/scale_probe.py [replicas]   # default 10
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dist_map_reduce_spark import caching, registry  # noqa: E402
from dist_map_reduce_spark.catalog import load_table  # noqa: E402
from dist_map_reduce_spark.scratch import SCRATCH  # noqa: E402
from dist_map_reduce_spark.session import get_spark  # noqa: E402

registry.load_all()

BASE = "/root/testdata/sf0.1"
ID_STRIDE = 10_000_000

PROBES = [
    "wordcount",
    "minhash_band_candidates",
    "dedup_clusters_logn",
    "text_winnow_fingerprints",
    "text_char_entropy",
    "text_bpe_merge_table",
    "text_bpe_encode_docs",
    "similarity_lsh_buckets",
    "semdedup_prune_list",
    # the full streaming ingest replay (3 micro-batches,
    # growing band index) — documents-only, so the synth corpus
    # covers it; wall time carries the streaming harness's fixed
    # checkpoint/trigger overhead on top of the data-dependent work
    "streaming_ingest_dedup",
    "lm_bigram_doc_scores",
    "corpus_shard_manifest",
    "embedding_gramian",
    "text_winnow_match_pairs",
    "multimodal_image_resize",
    "similarity_ann_ivfadc_topk",
    "streaming_ingest_index_compaction",
    "quality_ccnet_buckets",
    # orders-shaped (synth replicates orders too since r13): the full
    # MERGE tree over a 10× base table with a 10× change set
    "cdc_merge_upsert_orders",
    # compact a copy of the
    # replay-grown index + pre-flag the half-document probe delivery
    # against it (runs after the two streaming rows, so the shared
    # replay is already built and this measures the operator's
    # marginal cost — copy, distinct rewrite, probe banding, one
    # membership semi-join)
    "streaming_postcompaction_neardup_flags",
    # BM25
    # top-k — documents-only; the claim under test is
    # linear-in-corpus (broadcast ≤64-row query-term table onto the
    # (doc, word, tf) corpus table, posting-bounded per term)
    "text_bm25_topk",
    # count-min heavy hitters — documents-only;
    # claim under test: wordcount-shaped (one explode + one combined
    # groupBy), CMS overlay vocabulary-scale
    "text_cms_heavy_hitters",
    # Bloom decontamination pre-filter —
    # documents-only; claim: one corpus scan + one aggregate, eval
    # side broadcast (benchmark-sized)
    "text_bloom_decontaminate",
    # KMV source-overlap — documents-only;
    # claim: one shingle distinct at corpus scale, everything after
    # signature-scale (|sources| x K rows)
    "text_kmv_source_jaccard",
    # t-digest quantile merge — events-shaped
    # (synth replicates events since r15); claim: the per-group
    # rank+aggregate build is the only corpus-scale stage,
    # merge/estimate are centroid-scale (groups x DELTA rows)
    "tdigest_quantile_merge",
    # theta set algebra — documents-only; claim:
    # identical asymptotics to text_kmv (shared shingle subtree +
    # signature-scale algebra), so its ratio should track KMV's
    "text_theta_set_ops",
    # native HLL — orders-shaped; claim: one
    # distinct + one register aggregate at corpus scale, everything
    # after is 64-row register algebra
    "hll_native_customer_cardinality",
    # length-bucket padding waste —
    # documents-only; claim: one scan + one <=10-key combined
    # aggregate, the cheapest shape in the repo
    "length_bucket_padding_waste",
    # mergeable reservoir sampling —
    # documents-only; claim: one scan + WindowGroupLimit (map-side
    # bounded per-source reservoirs, partial -> final), everything
    # after is K-row (K=64) sketch-scale algebra
    "reservoir_merge_sample",
    # EWMA smoothing — events-shaped; claim: one
    # series-keyed window with a bounded 32-row frame, so wall is
    # the per-series sort (linear shuffle + sort, no corpus-scale
    # join anywhere)
    "events_ewma_smooth",
    # recursive CTE traversal — orders-shaped;
    # claim: O(N · depth) total recursive work with depth bounded by
    # log2(max orderkey), i.e. one frontier equi-join per level and
    # the level count grows only logarithmically with the keyspace
    "recursive_order_lineage",
    # stream-stream LEFT OUTER join —
    # events-shaped; claim: same state bound as the inner join
    # (~watermark + join bound of events per side), outer emission
    # changes WHEN rows release, not how much state is held
    "streaming_stream_stream_left_join",
    # streaming HLL — events-shaped; claim:
    # per-batch work is one 64-group map-side-combined aggregate,
    # carried state is exactly 64 integers regardless of corpus size
    "streaming_hll_merge",
    # custom Python Data Source — events-shaped
    # (row count from the events footer); claim: per-partition
    # generation is embarrassingly parallel, the aggregate JVM-side;
    # wall is the per-row Python md5 loop, linear and core-amortized
    "python_datasource_synth",
    # AMS / count-sketch F2 — documents-only;
    # claim: wordcount-shaped (one explode + one combined (source,
    # word) groupBy); the R=5-branch sketch fan-out is vocabulary-
    # scale and the counter/median algebra sketch-scale, so the
    # ratio should track text_cms_heavy_hitters'
    "text_ams_f2_moment",
    # incremental aggregate maintenance —
    # orders-shaped; claim: BOTH arms are single map-side-combined
    # aggregates over the bucketed scan (the recompute arm is the
    # certification and dominates), so the ratio should track
    # cdc_merge's scan-bound profile, not a join blow-up
    "ivm_orders_agg_maintenance",
    # Hamilton stratified sampler —
    # documents-only; claim: the corpus-scale stages are one count
    # aggregate and one WindowGroupLimit bottom-BUDGET (no full
    # per-stratum sort — the reservoir shape); apportionment is
    # |strata|-row arithmetic, free at any scale
    "stratified_hamilton_sample",
    # streaming reservoir — events-shaped;
    # claim: per-batch work is one TakeOrdered bottom-K over the
    # batch, carried state is exactly K rows at any corpus size
    # (the streaming_hll_merge posture with sample-sized state)
    "streaming_reservoir_sample",
    # LATERAL top-N — orders-shaped; claim: the
    # decorrelated plan is one WindowGroupLimit pass over orders +
    # one equi-join, so the ratio should track the reservoir family
    # (bounded per-key top-N, never a full per-key sort)
    "lateral_topn_orders_per_customer",
    # mapInArrow stats — documents-only; claim:
    # a stateless per-batch Arrow projection is scan-bound and
    # core-amortized, with none of mapInPandas' per-string boxing
    "arrow_text_stats_per_source",
    # PSI drift — orders-shaped; claim: two
    # map-side-combined 10-group aggregates over the scan, then
    # 10-row algebra — the flattest possible monitoring shape
    "drift_psi_orders",
    # PPJoin — documents-only. IMPORTANT probe
    # caveat: synth replicas of one base doc differ only in a short
    # suffix, so they are TRUE near-dups of each other (J ~ 0.88 at
    # ~50 shingles) — the correct output grows QUADRATICALLY in
    # replicas (x10: ~880x the base's 256 pairs; x100 would emit
    # ~25M pairs). The probe therefore measures OUTPUT-BOUND
    # behavior, the floor for any exact algorithm; the claim under
    # test is that wall tracks output+input, not candidates^2
    "ppjoin_jaccard_pairs",
    # Misra-Gries heavy hitters — documents-only;
    # claim: wordcount-shaped (one (source, word) groupBy is the only
    # corpus-scale stage), the bucketed tournament keeps the order
    # statistic off any vocabulary-sized partition, everything after
    # is summary-scale (<= sources x k rows)
    "text_mg_heavy_hitters",
    # market-basket rules — lineitem-shaped
    # (synth replicates baskets, item universe fixed); claim: the
    # pair self-join is per-basket-bounded (C(brands_in_order, 2)),
    # margins and rule algebra are <= 625-row tables
    "basket_brand_rules",
    # ordered conversion funnel — events-shaped
    # (synth multiplies events PER USER, user set fixed); claim:
    # corpus-scale work is K pushdown-filtered scans + K user_id
    # shuffles; frontiers/counts stay user-scale/K-row regardless
    "funnel_conversion_events",
    # bigram PMI — documents-shaped; claim: one
    # wordcount-shaped corpus aggregation; margins/joins/certified
    # filter all run at bigram-vocabulary scale (replicas multiply
    # counts, not vocabulary, so downstream is constant-size)
    "text_pmi_bigrams",
    # chi-square independence — orders-shaped
    # (synth replicates orders; customer dim fixed); claim: one
    # custkey join + 25-cell groupBy is the only corpus-scale work;
    # all grid/exp/chi2 algebra is dimension-bounded
    "chisq_segment_priority",
    # Benford audit — orders-shaped; claim: one
    # projection + 9-cell map-side-partial groupBy is the only
    # corpus-scale work; grid/deviation algebra is 9-row
    "benford_order_totals",
    # last-touch attribution — events-shaped
    # (events-per-user replication deepens windows); claim: one
    # user-keyed window shuffle + sort is the only corpus-scale
    # work; channel aggregate is <= |event types| rows
    "attribution_last_touch",
    # funnel time-to-convert — events-shaped;
    # claim: same per-step scans/shuffles as the funnel (shared
    # persist slots), transition joins are user-scale, output 4 rows
    "funnel_time_to_convert",
    # eventually-follows matrix — events-shaped;
    # claim: one (user, type) min/max groupBy is the only
    # corpus-scale stage; follows join is user-scale with <=
    # |types|^2 per-user fan-out, grid/margins are |types|-bounded
    "event_eventually_follows",
    # session path mining — events-shaped;
    # claim: one user-keyed window sort + pure LongType aggregates
    # at corpus scale; decode/strings only on the <= sum|types|^k
    # path table
    "session_path_counts",
    # RFM segmentation — orders-shaped (synth
    # multiplies orders per customer); claim: one custkey rollup is
    # the only corpus-scale stage; cutpoints are 12 scalars over the
    # customer-scale rollup, scoring is map-side, grid <= 125 rows
    "rfm_customer_segments",
    # A/B z-test — events-shaped; claim: one
    # per-user conversion rollup (map-side max) is the only
    # corpus-scale stage; arms table is 2 rows, output 1 row
    "abtest_purchase_conversion",
    # weekly seasonality — events-shaped; claim:
    # one 168-cell map-side-partial groupBy; totals/R2 are 168-row
    # algebra
    "events_seasonality_dow_hour",
    # Lorenz/Gini — orders-shaped; claim: the
    # custkey rollup (shared RFM slot) absorbs the corpus; rank sort
    # is over the constant-size customer table, output 10 rows
    "lorenz_gini_customer_spend",
    # Welch t-test — events-shaped; claim: one
    # pushdown-filtered purchase scan into a 2-row arm aggregate
    "abtest_purchase_value_welch",
    # mutual information — orders-shaped; claim:
    # shares the chisq contingency slot; all MI/entropy algebra is
    # <= 25-row
    "mutual_info_segment_priority",
]


# which synth table each probe reads — synth() replicates only the
# tables the selected probes scan (an explicit 100x subset run must
# not pay a 100x replication of tables it never reads — r15 review;
# r16 closed the gap where documents+embeddings were still always
# built). Default family is documents-shaped; the exceptions:
_TABLE_NEEDS = {
    "basket_brand_rules": "lineitem",
    "cdc_merge_upsert_orders": "orders",
    "ivm_orders_agg_maintenance": "orders",
    "lateral_topn_orders_per_customer": "orders",
    "drift_psi_orders": "orders",
    "chisq_segment_priority": "orders",
    "mutual_info_segment_priority": "orders",
    "benford_order_totals": "orders",
    "rfm_customer_segments": "orders",
    "lorenz_gini_customer_spend": "orders",
    "hll_native_customer_cardinality": "orders",
    "recursive_order_lineage": "orders",
    "tdigest_quantile_merge": "events",
    "funnel_conversion_events": "events",
    "attribution_last_touch": "events",
    "funnel_time_to_convert": "events",
    "event_eventually_follows": "events",
    "session_path_counts": "events",
    "abtest_purchase_conversion": "events",
    "abtest_purchase_value_welch": "events",
    "events_seasonality_dow_hour": "events",
    "events_ewma_smooth": "events",
    "streaming_stream_stream_left_join": "events",
    "streaming_hll_merge": "events",
    "streaming_reservoir_sample": "events",
    "python_datasource_synth": "events",
    "similarity_lsh_buckets": "embeddings",
    "semdedup_prune_list": "embeddings",
    "embedding_gramian": "embeddings",
    "similarity_ann_ivfadc_topk": "embeddings",
}


def _reps(spark, df, replicas: int):
    """df x range(replicas) with the replica index as column ``rep``
    — a broadcast crossJoin, so the replication plan is CONSTANT
    SIZE at any replica count (the original per-replica unionAll
    chain built a `replicas`-branch plan: fine at 10, Catalyst-
    hostile at 1000). Values are identical to the loop form."""
    rng = spark.range(replicas).select(F.col("id").alias("rep"))
    return df.crossJoin(F.broadcast(rng))


def synth(spark, replicas: int, tables: set | None = None) -> str:
    out = os.path.join(SCRATCH, f"sfx{replicas}")
    # lineitem included since r16: without it the default panel's
    # basket_brand_rules row scanned the symlinked BASE-scale table
    # and printed a meaningless ~1.0 ratio as scaling evidence
    tables = tables or {
        "documents", "embeddings", "orders", "events", "lineitem"
    }
    if "documents" in tables:
        docs = load_table(spark, BASE, "documents")
        suffix = F.concat(F.lit(" r"), F.col("rep").cast("string"))
        _reps(spark, docs, replicas).select(
            (F.col("doc_id") + F.col("rep") * ID_STRIDE).alias("doc_id"),
            F.concat("text", suffix).alias("text"),
            "lang",
            "source",
            (F.col("n_chars") + F.length(suffix)).alias("n_chars"),
        ).write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet")
        )
    if "embeddings" in tables:
        emb = load_table(spark, BASE, "embeddings")
        _reps(spark, emb, replicas).select(
            (F.col("vec_id") + F.col("rep") * ID_STRIDE).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, j: F.when(
                    j == 0,
                    x + (F.col("rep") * F.lit(1e-3)).cast("float"),
                ).otherwise(x),
            ).alias("embedding"),
            "label",
        ).write.mode("overwrite").parquet(
            os.path.join(out, "embeddings.parquet")
        )
    # orders for the CDC merge probe (r13): key-offset replicas keep
    # every o_orderkey positive, so delta_merge's reserved negative
    # insert keys stay fresh; the md5 change-set derivation re-buckets
    # each replica independently (replicas land in different buckets —
    # a realistic, not degenerate, 10× change feed)
    if "orders" in tables:
        orders = load_table(spark, BASE, "orders")
        _reps(spark, orders, replicas).select(
            (F.col("o_orderkey") + F.col("rep") * ID_STRIDE).alias(
                "o_orderkey"
            ),
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ).write.mode("overwrite").parquet(
            os.path.join(out, "orders.parquet")
        )
    # events for the t-digest probe (r15): id-offset replicas with a
    # per-replica value nudge (keeps the quantile panel non-trivial);
    # event_type is UNCHANGED so the digest dimension stays 5 groups
    # while per-group row counts scale — exactly the claim under test
    # (build is the only corpus-scale stage; merge/estimate stay
    # centroid-scale)
    if "events" in tables:
        events = load_table(spark, BASE, "events")
        _reps(spark, events, replicas).select(
            (F.col("event_id") + F.col("rep") * ID_STRIDE).alias(
                "event_id"
            ),
            "ts",
            "user_id",
            "event_type",
            (F.col("value") + F.col("rep") * F.lit(1e-3)).alias("value"),
            "props",
        ).write.mode("overwrite").parquet(
            os.path.join(out, "events.parquet")
        )
    # lineitem for the market-basket probe (r16): orderkey-offset
    # replicas multiply the BASKET count while the part/brand item
    # universe stays fixed — exactly the claim under test (pair
    # fan-out is per-basket-bounded; rule table stays <= 625 rows)
    if "lineitem" in tables:
        li = load_table(spark, BASE, "lineitem")
        _reps(spark, li, replicas).select(
            (F.col("l_orderkey") + F.col("rep") * ID_STRIDE).alias(
                "l_orderkey"
            ),
            *[c for c in li.columns if c != "l_orderkey"],
        ).write.mode("overwrite").parquet(
            os.path.join(out, "lineitem.parquet")
        )
    # any fixture table NOT replicated above gets symlinked at BASE
    # scale, so probes that join a replicated fact against an
    # unreplicated dimension (lateral_topn: orders x customer) still
    # resolve every table — dimension stays fixture-sized by design
    # (the realistic shape: facts grow, dimensions don't)
    from dist_map_reduce_spark.catalog import TABLES, table_path

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        dst = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(table_path(BASE, name), dst)
    return out


def run(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    times: dict[str, float] = {}
    for name in names:
        caching.clear()
        if name == "streaming_ingest_dedup":
            # r12: both streaming queries reuse ONE marker-gated
            # replay artifact (ingest_dedup.ensure_shared_replay).
            # The probe's ingest row must measure the REPLAY's
            # data-dependent scaling, so force a cold replay here;
            # the compaction row then deliberately measures the
            # production shape — copy + distinct-rewrite against an
            # EXISTING index (the r11 verdict's point).
            import shutil

            from dist_map_reduce_spark.scratch import scratch_path

            shutil.rmtree(
                scratch_path(sf_dir, "ingest_replay_shared"),
                ignore_errors=True,
            )
        t0 = time.perf_counter()
        registry.QUERIES[name](spark, sf_dir).count()
        times[name] = round(time.perf_counter() - t0, 2)
    return times


def main() -> None:
    """argv: [replicas] [query-name ...] — an explicit name list
    restricts the probe to those rows (the r15 100x runs probe only
    the worst-scaling 10x rows; the full panel at 100x would spend
    most of its wall-clock re-measuring flat rows)."""
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    probes = PROBES
    tables = None
    if len(sys.argv) > 2:
        wanted = set(sys.argv[2:])
        unknown = wanted - set(probes)
        if unknown:
            raise SystemExit(f"unknown probe names: {sorted(unknown)}")
        probes = [n for n in probes if n in wanted]
        tables = {_TABLE_NEEDS.get(n, "documents") for n in probes}
    big = synth(spark, replicas, tables)
    registry.QUERIES["wordcount"](spark, BASE).count()  # JVM warm-up
    base_t = run(spark, BASE, probes)
    big_t = run(spark, big, probes)
    print(f"{'query':34s} {'sf0.1':>8s} {f'x{replicas}':>8s} {'ratio':>7s}")
    for name in probes:
        r = big_t[name] / base_t[name] if base_t[name] else float("nan")
        print(f"{name:34s} {base_t[name]:8.2f} {big_t[name]:8.2f} {r:7.1f}")
    if len(sys.argv) > 2:
        return  # explicit subset run — skip the fixed extras below

    # the k knob: SemDeDup at corpus-sized k vs the fixture pin
    from dist_map_reduce_spark.functions.semdedup import prune_list_scaled

    caching.clear()
    t0 = time.perf_counter()
    n = prune_list_scaled(spark, big, k_cells=64).count()
    print(
        f"{'semdedup prune_list_scaled(k=64)':34s} {'-':>8s}"
        f" {time.perf_counter() - t0:8.2f}   ({n} rows)"
    )

    # per-cell IVFADC (r10): embeddings-only library search — the
    # synth corpus perturbs one coordinate per replica, so the 10×
    # embedding table is a genuine (near-dup-heavy) harder corpus
    from dist_map_reduce_spark.functions.similarity_ivfpq import (
        ivfadc_residual_topk,
    )

    for tag, d in (("sf0.1", BASE), (f"x{replicas}", big)):
        caching.clear()
        t0 = time.perf_counter()
        n = ivfadc_residual_topk(spark, d).count()
        print(
            f"{'ivfadc_residual_topk (' + tag + ')':34s} {'-':>8s}"
            f" {time.perf_counter() - t0:8.2f}   ({n} rows)"
        )


if __name__ == "__main__":
    main()
