"""IVF ANN search over a k-means coarse quantizer.

``similarity_ann_ivf_topk`` (functions/similarity.py) builds its IVF
cells from per-label centroids — fine when labels exist, but the
production index build path has no labels: the coarse quantizer is
trained. This module registers the trained variant: the
``kmeans_embedding_cells`` Lloyd's build (similarity_common.
kmeans_fit) supplies the centroid table, and the identical
cell-restricted search (similarity_common.ivf_search) runs against
it; the shared math lives in similarity_common.

The whole pipeline — init, KMEANS_ROUNDS assignment rounds,
6-dp-rounded centroids, NPROBE probe list, top-5 — is deterministic,
so the unrolled-SQL oracle value-hash-matches despite the result
being approximate w.r.t. exact top-k.

Scale posture: identical to the label-IVF path (broadcast K×DIM
centroids, equi-join on cell id, no vector on the driver) plus the
fixed-depth Lloyd loop from the k-means build — at 100 TB the
quantizer trains on a sample and is REUSED across queries; here it
is rebuilt per run because fixtures are small and the build itself
is the thing under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.similarity_common import (
    KMEANS_IVF_RANKED_SLOT,
    ivf_oracle_sql,
    ivf_search,
    kmeans_centroids_shared,
    kmeans_ctes,
)
from dist_map_reduce_spark.registry import query


def _oracle() -> str:
    ctes, final_cent = kmeans_ctes()
    return ivf_oracle_sql(final_cent, ctes)


@query("similarity_ann_ivf_kmeans_topk", oracle=_oracle())
def similarity_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 through an IVF index whose coarse cells come from
    the k-means quantizer (no labels needed): train centroids with
    kmeans_fit, then run the shared cell-restricted multi-probe
    search against them."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # shared quantizer + shared ranking slot: the ivfpq variant ranks
    # the identical (emb, cent, NPROBE) triple, so the recall panel
    # trains the Lloyd and ranks the corpus once for both arms
    cent = kmeans_centroids_shared(emb, sf_dir).select(
        F.col("cell").alias("cand_cell"), F.col("cent").alias("centroid")
    )
    return ivf_search(emb, cent, KMEANS_IVF_RANKED_SLOT, sf_dir)
