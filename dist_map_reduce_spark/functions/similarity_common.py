"""Geometry/index helpers for the similarity family.

Shared by ``functions/similarity.py`` (the seven registered fixture
queries) and ``functions/similarity_ivf_kmeans.py`` (the k-means IVF
search).

Everything here is deterministic by construction — md5-derived
hyperplanes, 6-dp-rounded cosines and means, id tie-breaks — so every
index built from these helpers is exactly reproducible and
oracle-checkable in SQL.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build

DIM = 64
N_PLANES = 8
N_QUERIES = 5  # query set: vec_id < 5
K_CELLS = 8       # k-means cluster count
KMEANS_ROUNDS = 3  # fixed assignment rounds (2 centroid updates)
NPROBE = 3  # IVF: search the query's 3 nearest cells


def _plane(j: int) -> list[float]:
    """Deterministic ±1 hyperplane from md5 — no RNG state, identical
    in any engine that has md5."""
    return [
        1.0 if int(hashlib.md5(f"plane:{j}:{d}".encode()).hexdigest()[0], 16) >= 8 else -1.0
        for d in range(DIM)
    ]


PLANES: list[list[float]] = [_plane(j) for j in range(N_PLANES)]


def n_planes_for(corpus_size: int, target_bucket_size: int = 1024) -> int:
    """Plane count that keeps expected bucket occupancy near
    ``target_bucket_size``: ceil(log2(n / target)), floored at the
    fixture constant N_PLANES. A fixed plane count is a scale bug —
    at 10⁹ vectors 8 planes leave n/256 vectors per bucket, making
    every probe linear in the corpus; with planes derived from n the
    per-probe candidate set stays ~target_bucket_size regardless of
    corpus size. See SCALE.md §sign-LSH for the full policy (and when
    to prefer the IVF path instead)."""
    if corpus_size <= target_bucket_size:
        return N_PLANES
    return max(N_PLANES, math.ceil(math.log2(corpus_size / target_bucket_size)))


def _dot_expr(vec_col: str, weights: list[float]) -> Column:
    arr = ", ".join(f"{w}D" for w in weights)
    return F.expr(
        f"aggregate(zip_with({vec_col}, array({arr}), (x, y) -> CAST(x AS DOUBLE) * y),"
        f" 0D, (a, v) -> a + v)"
    )


def bucket_col(vec_col: str, n_planes: int = N_PLANES) -> Column:
    """Sign-LSH bucket id: bit j = (v · plane_j) > 0. Planes beyond
    the precomputed fixture set are derived on demand (same md5
    scheme), so any ``n_planes_for``-chosen count works; >31 planes
    widen the id to bigint."""
    out = F.lit(0).cast("bigint" if n_planes > 31 else "int")
    for j in range(n_planes):
        plane = PLANES[j] if j < len(PLANES) else _plane(j)
        out = out + F.when(_dot_expr(vec_col, plane) > 0, F.lit(1 << j)).otherwise(0)
    return out.cast("bigint" if n_planes > 31 else "int")


def _bucket_sql(vec_expr: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN list_dot_product({vec_expr}, {_plane_sql(j)}) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )
    return f"({bits})"


def _plane_sql(j: int) -> str:
    return "[" + ", ".join(str(w) for w in PLANES[j]) + "]::DOUBLE[]"


def norm_expr(a: str) -> Column:
    """sqrt(Σx²) of an array column — the exact IEEE sub-expression
    cosine_expr computes per side. Hoist it to a per-VECTOR projection
    below a pair-generating join and the pair-level score
    dot / (na·nb) is bit-identical (same three ops on the same
    doubles), while each vector's norm is computed once instead of
    once per candidate pair (r16, guide §1.2 per-task work)."""
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            f" 0D, (acc, v) -> acc + v)"
        )
    )


def dot_expr(a: str, b: str) -> Column:
    """Float64 dot product of two array columns — cosine_expr's
    numerator, exposed for the hoisted-norm form."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" 0D, (acc, v) -> acc + v)"
    )


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity of two array columns, computed in float64
    (matches DuckDB list_cosine_similarity on DOUBLE[] exactly up to
    the final rounding). Composed from dot_expr/norm_expr — pair
    fan-out sites hoist the norms instead (see norm_expr)."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def probe_masks(n_planes: int) -> list[int]:
    """Multi-probe masks: the query's own bucket plus every bucket at
    Hamming distance 1 (one hyperplane sign flipped) — the standard
    recall/cost knob for sign-LSH; candidate work stays proportional
    to (1 + n_planes) buckets, never the corpus."""
    return [0] + [1 << j for j in range(n_planes)]


PROBE_MASKS: list[int] = probe_masks(N_PLANES)


def kmeans_fit(
    emb: DataFrame, k: int = K_CELLS, rounds: int = KMEANS_ROUNDS
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over (vec_id, embedding): ``rounds``
    assignment rounds from the deterministic init (centroids =
    vectors 0..k-1, 6-dp rounded). Returns ``(assigned,
    centroids)`` — the final (vec_id, embedding, cell) assignment and
    the (cell, cent) table it was assigned against.

    ``k`` defaults to the fixture pin K_CELLS (so the registered
    queries' unrolled-SQL oracles stay static) and is THE scale knob:
    at 100 TB choose k ≈ corpus / target_occupancy (10³-10⁴ vectors
    per cell) so both IVF probe cost and SemDeDup's within-cell
    pairing stay bounded — the same policy as ``n_planes_for`` on
    the LSH arm. The packed assignment key reserves
    ceil(log2(k))-bits for the cell id, so any k works.

    Fully deterministic: assignment ranks by 6-dp-rounded cosine with
    a min-cell tie-break and updated centroids are 6-dp-rounded
    per-dimension means, so the whole iterative computation
    hash-matches an unrolled-SQL oracle (``kmeans_ctes``).

    Scale shape per round: one broadcast of the K×DIM centroid table
    against a corpus scan (assignment) + one posexplode/aggregate
    shuffle keyed on (cell, pos) (means). No vector visits the
    driver; the loop is a fixed-depth plan, not a driver round-trip.
    Assignment is a genuine HashAggregate with map-side partial min:
    the (ccos desc, cell asc) ordering packs into ONE long —
    (10⁶ − round(ccos·10⁶)) · 2⁴ + cell, exact because ccos carries
    at most 6 decimals and cell < 16 — so the aggregation buffer is
    fixed-width (min over longs; a min_by over a struct key, or
    carrying the array-typed embedding through first(), falls back
    to SortAggregate — a per-round sort of the K×-expanded scored
    rows, pinned against by tests/test_plans.py). The winning cell
    decodes as key mod 2⁴; the embedding re-joins by vec_id — an
    equi-join of two corpus-sized sides, co-partitionable at scale
    and cheaper than sorting K× the corpus.
    """
    cell_mod = 1 << max(4, (k - 1).bit_length())  # ≥ k, power of 2
    cent = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"),
        F.transform(
            "embedding", lambda x: F.round(x.cast("double"), 6)
        ).alias("cent"),
    )
    # per-vector norm hoisted out of the vec×cell fan-out — see
    # norm_expr (bit-identical ccos, one norm per vector per round
    # instead of K_CELLS of them)
    emb_n = emb.select(
        "vec_id", "embedding", norm_expr("embedding").alias("_en")
    )
    assigned = None
    for r in range(1, rounds + 1):
        cent_n = cent.withColumn("_cn", norm_expr("cent"))
        scored = emb_n.join(F.broadcast(cent_n)).select(
            "vec_id",
            "cell",
            F.round(
                dot_expr("embedding", "cent") / (F.col("_en") * F.col("_cn")),
                6,
            ).alias("ccos"),
        )
        # min(key) ≡ "ORDER BY ccos DESC, cell ASC LIMIT 1" per
        # vector (ties included): round-half-even to integer is exact
        # on 6-dp-rounded ccos·10⁶
        key = (
            F.lit(1_000_000)
            - F.round(F.col("ccos") * F.lit(1_000_000.0), 0).cast("long")
        ) * F.lit(cell_mod) + F.col("cell")
        assigned = emb.join(
            scored.groupBy("vec_id")
            .agg(F.min(key).alias("mk"))
            .select("vec_id", (F.col("mk") % F.lit(cell_mod)).alias("cell")),
            "vec_id",
        ).select("vec_id", "embedding", "cell")
        if r < rounds:
            cent = (
                assigned.select(
                    "cell", F.posexplode("embedding").alias("pos", "v")
                )
                .groupBy("cell", "pos")
                .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("m"))
                .groupBy("cell")
                .agg(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("pos"), F.col("m")))
                        ),
                        lambda s: s.m,
                    ).alias("cent")
                )
            )
    return assigned, cent


def kmeans_ctes(with_e: bool = True) -> tuple[list[str], str]:
    """The unrolled Lloyd iterations as DuckDB CTEs — same
    deterministic init/assignment/means as ``kmeans_fit``. Returns
    ``(ctes, final_centroid_cte)`` where the final centroid CTE
    (c{KMEANS_ROUNDS-1}) is the table the last assignment round
    a{KMEANS_ROUNDS} ran against. ``with_e=False`` omits the leading
    raw-embeddings ``e`` CTE so a caller can supply its own (the
    IVFADC oracle trains over L2-NORMALIZED embeddings — see
    similarity_ivfadc_query.py)."""
    ctes = [] if not with_e else [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
    ]
    ctes += [
        f"""c0 AS (
          SELECT vec_id AS cell, list_transform(emb, x -> round(x, 6)) AS cent
          FROM e WHERE vec_id < {K_CELLS}
        )""",
    ]
    for r in range(1, KMEANS_ROUNDS + 1):
        ctes.append(f"""a{r} AS (
          SELECT vec_id, emb, cell FROM (
            SELECT e.vec_id, e.emb, c.cell,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round(list_cosine_similarity(e.emb, c.cent), 6) DESC,
                              c.cell ASC
                   ) AS rn
            FROM e CROSS JOIN c{r - 1} c
          ) WHERE rn = 1
        )""")
        if r < KMEANS_ROUNDS:
            ctes.append(f"""c{r} AS (
          SELECT cell, list(m ORDER BY pos) AS cent FROM (
            SELECT cell, i - 1 AS pos, round(avg(emb[i]), 6) AS m
            FROM a{r}, LATERAL (
              SELECT unnest(generate_series(1, {DIM})) AS i
            ) t
            GROUP BY cell, i
          )
          GROUP BY cell
        )""")
    return ctes, f"c{KMEANS_ROUNDS - 1}"


# one slot name for the raw-embedding k-means IVF ranking: the
# ivf_kmeans and ivfpq searches rank the IDENTICAL (emb, cent,
# NPROBE) triple, so separate per-variant slots (pre-r12) computed —
# and cached — the same table twice per recall-panel run (VERDICT
# r11 #5). Consumers that rank a DIFFERENT space (ivfadc's
# normalized embeddings, the label-centroid IVF) keep their own slots.
KMEANS_IVF_RANKED_SLOT = "kmeans_ivf_ranked_cells"


def kmeans_centroids_shared(emb: DataFrame, sf_dir: str) -> DataFrame:
    """The default-parameter raw-embedding coarse quantizer
    (``kmeans_fit(emb)``'s centroid table), persisted once per
    fixture dir so the ivf_kmeans / ivfpq variants — and the recall
    panel running both — train the 3-round Lloyd ONCE instead of
    per consumer. K×DIM rows: negligible footprint, full-Lloyd
    lineage (the similarity_ivfpq.py:ivfadc 'persist the tiny table
    with the expensive lineage' precedent). Callers needing the
    ASSIGNMENT (kmeans_embedding_cells, semdedup) or a non-default k
    keep calling ``kmeans_fit`` directly."""
    return get_or_build(
        emb.sparkSession, "kmeans_centroids_raw", sf_dir, lambda: kmeans_fit(emb)[1]
    )


def ivf_ranked_cells(
    emb: DataFrame,
    cent: DataFrame,
    slot: str,
    sf_dir: str,
    nprobe: int = NPROBE,
) -> DataFrame:
    """The persisted IVF cell ranking shared by exact-IVF and IVF-PQ
    search: (vec_id, cand_cell, rn) for every vector's ``nprobe``
    nearest cells of the broadcast centroid table ``cent`` (columns
    cand_cell, centroid), ranked by 6-dp-rounded cosine with a
    min-cell tie-break. rn=1 is the vector's home cell; rn ≤ nprobe
    is a query's probe list. Deliberately embedding-free — consumers
    re-join the vector columns they need (the round-5 cache-footprint
    lesson). Non-default ``nprobe`` (the recall/latency sweep in
    tools/ann_recall_report.py) gets its own cache slot so the
    fixture-pinned queries never read a sweep-sized ranking.

    Slot discipline: the ranking is a pure function of (emb, cent,
    nprobe) but the CACHE is keyed only by (slot, sf_dir) — callers
    must use one slot name per centroid SPACE ('ivf_ranked_cells'
    label-centroid, KMEANS_IVF_RANKED_SLOT raw k-means,
    'ivfadc_ranked_cells' normalized k-means)."""
    from pyspark.sql import Window as W

    if nprobe != NPROBE:
        slot = f"{slot}_np{nprobe}"

    def build() -> DataFrame:
        # hoisted norms — see norm_expr (bit-identical ccos)
        emb_n = emb.select(
            "vec_id", "embedding", norm_expr("embedding").alias("_en")
        )
        cent_n = cent.withColumn("_cn", norm_expr("centroid"))
        return (
            emb_n.join(F.broadcast(cent_n))
            .select(
                "vec_id",
                "cand_cell",
                F.round(
                    dot_expr("embedding", "centroid")
                    / (F.col("_en") * F.col("_cn")),
                    6,
                ).alias("ccos"),
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("vec_id").orderBy(
                        F.col("ccos").desc(), F.col("cand_cell").asc()
                    )
                ),
            )
            .filter(F.col("rn") <= nprobe)
            .select("vec_id", "cand_cell", "rn")
        )

    return get_or_build(emb.sparkSession, slot, sf_dir, build)


def ivf_search(
    emb: DataFrame,
    cent: DataFrame,
    slot: str,
    sf_dir: str,
    nprobe: int = NPROBE,
) -> DataFrame:
    """IVF cell-restricted ANN search shared by the label-centroid and
    k-means variants: rank every vector's cells by 6-dp-rounded
    cosine against the (bounded, broadcast) centroid table ``cent``
    (columns cand_cell, centroid), assign each vector to its rn=1
    home cell, and score queries only against their ``nprobe``
    nearest cells (default NPROBE — the registered fixture queries);
    top-5 per query with deterministic tie-breaks.

    The persisted ranking keeps only (vec_id, cand_cell, rn) rows at
    rn ≤ NPROBE — both consumers (assignment and probe list) re-join
    the embedding column from the corpus scan, so the cache holds
    three small ints per vector instead of n_cells copies of every
    embedding (the footprint the round-5 advice flagged). The
    assignment re-join is an equi-join on vec_id between two
    corpus-sized sides — co-partitionable at scale, and cheaper than
    caching n_cells× the corpus.
    """
    from pyspark.sql import Window as W

    ranked = ivf_ranked_cells(emb, cent, slot, sf_dir, nprobe)
    # per-vector norms hoisted below the probe join — see norm_expr
    # (bit-identical cosine, one norm per vector not per candidate)
    cells = emb.select(
        "vec_id", "embedding", norm_expr("embedding").alias("en")
    ).join(
        ranked.filter(F.col("rn") == 1).select(
            "vec_id", F.col("cand_cell").alias("cell")
        ),
        "vec_id",
    )
    q_emb = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm_expr("embedding").alias("qn"),
    )
    qprobes = F.broadcast(
        ranked.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cand_cell").alias("qcell"),
        )
        .join(q_emb, "query_id")
    )
    scored = cells.join(
        qprobes,
        (cells.cell == qprobes.qcell) & (cells.vec_id != qprobes.query_id),
    ).select(
        "query_id",
        "vec_id",
        F.round(
            dot_expr("qe", "embedding") / (F.col("qn") * F.col("en")), 6
        ).alias("cos"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


def ivf_oracle_sql(cent_cte: str, extra_ctes: list[str] | None = None) -> str:
    """The IVF search as DuckDB SQL, parameterized on the centroid
    CTE name (columns cell, cent) — mirrors ``ivf_search`` exactly.
    ``extra_ctes`` precede the search CTEs (e.g. the unrolled k-means
    build); an ``e`` CTE of (vec_id, emb DOUBLE[]) must be present or
    included there."""
    ctes = list(extra_ctes or [])
    ctes.append(f"""ranked AS (
      SELECT e.vec_id, e.emb, c.cell AS cand_cell,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.emb, c.cent), 6) DESC,
                        c.cell ASC
             ) AS rn
      FROM e CROSS JOIN {cent_cte} c
    )""")
    ctes.append("cells AS (SELECT vec_id, emb, cand_cell AS cell FROM ranked WHERE rn = 1)")
    ctes.append(f"""qprobes AS (
      SELECT vec_id AS query_id, emb AS qe, cand_cell AS qcell
      FROM ranked WHERE vec_id < {N_QUERIES} AND rn <= {NPROBE}
    )""")
    ctes.append("""scored AS (
      SELECT q.query_id, c.vec_id,
             round(list_cosine_similarity(q.qe, c.emb), 6) AS cos
      FROM qprobes q JOIN cells c
        ON c.cell = q.qcell AND c.vec_id <> q.query_id
    )""")
    return (
        "WITH " + ",\n".join(ctes)
        + """
    SELECT query_id, vec_id, cos
    FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
    ) <= 5
    """
    )
