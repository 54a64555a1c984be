"""Print the ANN recall@5 table (SCALE.md §ANN recall) for a fixture
dir — run after touching any index build to keep the documented
numbers honest — plus the k-means-IVF nprobe sweep (recall@5 and
wall time at NPROBE ∈ {1, 2, 4, 8}) that measures the recall/latency
trade the IVF docstrings assert.

Usage: python tools/ann_recall_report.py [sf_dir ...]
Defaults to sf0.01 and sf0.1.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dist_map_reduce_spark import registry  # noqa: E402
from dist_map_reduce_spark.session import get_spark  # noqa: E402

registry.load_all()

SWEEP_NPROBES = (1, 2, 4, 8)


def _exact5(spark, sf_dir):
    """Exact cosine top-5 pairs per query (the grading set)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return {
        (r.query_id, r.vec_id)
        for r in registry.QUERIES["similarity_topk_cosine"](spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id")
        .collect()
    }


def nprobe_sweep(spark, sf_dir: str) -> list[tuple[int, int, float, float]]:
    """(nprobe, hits, recall@5, seconds) for the k-means IVF search at
    each sweep point. Wall time covers the full search including the
    (cached) quantizer build amortized out by a warm-up run at the
    default NPROBE."""
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark.functions.similarity_common import (
        KMEANS_IVF_RANKED_SLOT,
        ivf_search,
        kmeans_centroids_shared,
    )

    exact = _exact5(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = kmeans_centroids_shared(emb, sf_dir).select(
        F.col("cell").alias("cand_cell"), F.col("cent").alias("centroid")
    )
    # warm-up: materialize the quantizer-build lineage once so the
    # sweep times the SEARCH, not the shared build
    ivf_search(emb, cent, KMEANS_IVF_RANKED_SLOT, sf_dir).collect()
    out = []
    for np_ in SWEEP_NPROBES:
        t0 = time.time()
        got = {
            (r.query_id, r.vec_id)
            for r in ivf_search(
                emb, cent, KMEANS_IVF_RANKED_SLOT, sf_dir, nprobe=np_
            ).collect()
        }
        dt = time.time() - t0
        hits = len(got & exact)
        out.append((np_, hits, hits / len(exact), dt))
    return out


def main() -> None:
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    spark = get_spark("ann_recall_report")
    for sf_dir in dirs:
        print(f"== {sf_dir} ==")
        rows = (
            registry.QUERIES["similarity_ann_recall"](spark, sf_dir)
            .orderBy("variant")
            .collect()
        )
        # ivfadc rides in the graded panel above
        for r in rows:
            print(f"  {r.variant:<12} hits={r.hits:>3}  recall@5={r.recall:.4f}")
        exact = _exact5(spark, sf_dir)
        from dist_map_reduce_spark.functions.similarity_opq import (
            opq_pq_topk,
        )

        opq = {
            (r.query_id, r.vec_id)
            for r in opq_pq_topk(spark, sf_dir).collect()
        }
        hits = len(opq & exact)
        print(
            f"  {'opq_pq':<12} hits={hits:>3}"
            f"  recall@5={hits / len(exact):.4f}  (library fn)"
        )
        print("  -- kmeans-IVF nprobe sweep --")
        for np_, hits, rec, dt in nprobe_sweep(spark, sf_dir):
            print(
                f"  nprobe={np_}  hits={hits:>3}  recall@5={rec:.4f}"
                f"  search={dt:.2f}s"
            )


if __name__ == "__main__":
    main()
