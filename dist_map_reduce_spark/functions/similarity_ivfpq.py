"""IVF-PQ: probe-restricted compressed-domain ANN search — the
production composition of the two index axes.

IVF (``similarity_common``) restricts WHICH vectors a query scores
(its NPROBE nearest k-means cells); PQ (``similarity_pq``) changes
HOW each candidate is scored (summed codebook lookups over M small
codes instead of a float-vector distance). Composed, a query touches
~nprobe/K of the corpus and reads only bytes — the Faiss-style
``IVFx,PQy`` layout that serves billion-vector corpora. Both index
builds are the already-oracle-checked ones: the k-means coarse
quantizer (``kmeans_fit``) with the shared persisted cell ranking
(``ivf_ranked_cells``), and the composite-key-Lloyd PQ codebook
(``pq_fit``) with its persisted subvector table.

Scale posture: the scored set is codes-of-candidates ⋈ broadcast
LUT — per query O(corpus·nprobe/K) rows of 3 ints, with map-side
partial sums; the cell restriction is an equi-join on the home-cell
id (broadcastable probe list), never a distance filter over the
corpus. Residual encoding (PQ over vector − cell centroid, the full
Faiss IVFADC) would reuse exactly these shapes with a re-centered
``sub`` table.

Determinism: every stage is one of the two deterministic builds plus
equi-joins and a rounded sum — the whole composition value-hash-
matches the composed unrolled-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.similarity_common import (
    KMEANS_IVF_RANKED_SLOT,
    N_QUERIES,
    NPROBE,
    ivf_ranked_cells,
    kmeans_centroids_shared,
    kmeans_ctes,
    kmeans_fit,
)
from dist_map_reduce_spark.functions.similarity_pq import (
    pq_ctes,
    pq_index,
    pq_lut,
    pq_subrows_shared,
    subvector_rows,
)
from dist_map_reduce_spark.registry import query


def _ivfpq_oracle() -> str:
    km, final_cent = kmeans_ctes()
    pq, final_codes, _cb, lut = pq_ctes()
    ctes = km + pq  # km leads with the shared `e` CTE both builds use
    ctes.append(f"""ranked AS (
      SELECT e.vec_id, c.cell AS cand_cell,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.emb, c.cent), 6) DESC,
                        c.cell ASC
             ) AS rn
      FROM e CROSS JOIN {final_cent} c
    )""")
    ctes.append(
        "homes AS (SELECT vec_id, cand_cell AS cell FROM ranked WHERE rn = 1)"
    )
    ctes.append(f"""qprobes AS (
      SELECT vec_id AS query_id, cand_cell AS qcell
      FROM ranked WHERE vec_id < {N_QUERIES} AND rn <= {NPROBE}
    )""")
    ctes.append(f"""adc AS (
      SELECT l.query_id, a.vec_id, round(sum(l.ld), 6) AS adist
      FROM {final_codes} a
      JOIN homes h ON h.vec_id = a.vec_id
      JOIN qprobes p ON p.qcell = h.cell
      JOIN {lut} l ON l.query_id = p.query_id
                  AND l.m = a.m AND l.code = a.code
      WHERE a.vec_id <> p.query_id
      GROUP BY 1, 2
    )""")
    return (
        "WITH " + ",\n".join(ctes)
        + """
    SELECT query_id, vec_id, adist
    FROM adc
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY adist ASC, vec_id ASC
    ) <= 5
    """
    )


@query("similarity_ann_ivfpq_topk", oracle=_ivfpq_oracle())
def similarity_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5: k-means coarse cells restrict candidates to the
    query's NPROBE probes, PQ codes + broadcast LUTs score them in
    the compressed domain."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # PQ side: persisted subvectors -> codes + codebook -> query LUT
    # (slots shared with the PQ-ADC variant — one training for both)
    sub = pq_subrows_shared(emb, sf_dir)
    codes, cb = pq_index(sub, sf_dir)
    lut = pq_lut(sub, cb)
    # IVF side: the quantizer AND the ranking are shared with the
    # ivf_kmeans variant (identical emb/cent/NPROBE) — the recall
    # panel trains and ranks once for both arms
    cent = kmeans_centroids_shared(emb, sf_dir).select(
        F.col("cell").alias("cand_cell"), F.col("cent").alias("centroid")
    )
    ranked = ivf_ranked_cells(emb, cent, KMEANS_IVF_RANKED_SLOT, sf_dir)
    homes = ranked.filter(F.col("rn") == 1).select(
        "vec_id", F.col("cand_cell").alias("cell")
    )
    qprobes = ranked.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("cand_cell").alias("qcell")
    )
    candidates = (
        codes.join(homes, "vec_id")
        .join(
            F.broadcast(qprobes),
            (F.col("cell") == F.col("qcell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", "m", "code")
    )
    adc = (
        candidates.join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("ld"), 6).alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("vec_id").asc()
    )
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


IVFADC_K_CODES = 16  # per-cell codes per subspace (vs K_PQ=8 shared)


def _pq_fit_percell(
    sub: DataFrame, k_codes: int = IVFADC_K_CODES, rounds: int = 2
) -> tuple[DataFrame, DataFrame]:
    """Composite-key Lloyd's PER COARSE CELL over residual subvector
    rows ``(vec_id, m, sub, cell)``: returns ``(codes, codebook)``
    with codes (vec_id, cell, m, code) and codebook (cell, m, code,
    cent). Same packed-bigint HashAggregate assignment as ``pq_fit``
    (d2 carries ≤6 decimals; code < k_codes, so the key
    round(d2·10⁶)·k_codes + code is exact), just grouped by (cell, m)
    instead of m — each cell trains its own k_codes-entry codebook
    per subspace, so total codebook capacity is K_CELLS×k_codes per
    subspace while each candidate still decodes against exactly its
    home cell's book. Seeds: the k_codes lowest vec_ids per cell
    (deterministic, no RNG). Cells with fewer vectors than k_codes
    train smaller books — correct, just less resolution."""
    from pyspark.sql import Window as W

    from dist_map_reduce_spark.functions.similarity_pq import _sq_l2

    seeds = (
        sub.select("cell", "vec_id")
        .distinct()
        .withColumn(
            "rk",
            F.row_number().over(W.partitionBy("cell").orderBy("vec_id")),
        )
        .filter(F.col("rk") <= k_codes)
        .select("cell", "vec_id", (F.col("rk") - 1).alias("code"))
    )
    cb = sub.join(seeds, ["cell", "vec_id"]).select(
        "cell",
        "m",
        "code",
        F.transform("sub", lambda x: F.round(x, 6)).alias("cent"),
    )
    assigned = None
    for r in range(1, rounds + 1):
        scored = sub.join(cb, ["cell", "m"]).select(
            "vec_id",
            "cell",
            "m",
            "code",
            F.round(_sq_l2("sub", "cent"), 6).alias("d2"),
        )
        key = (
            F.round(F.col("d2") * F.lit(1_000_000.0), 0).cast("long")
            * F.lit(k_codes)
            + F.col("code")
        )
        assigned = sub.join(
            scored.groupBy("vec_id", "cell", "m")
            .agg(F.min(key).alias("mk"))
            .select(
                "vec_id",
                "cell",
                "m",
                (F.col("mk") % F.lit(k_codes)).alias("code"),
            ),
            ["vec_id", "cell", "m"],
        ).select("vec_id", "cell", "m", "sub", "code")
        if r < rounds:
            cb = (
                assigned.select(
                    "cell", "m", "code", F.posexplode("sub").alias("pos", "v")
                )
                .groupBy("cell", "m", "code", "pos")
                .agg(F.round(F.avg("v"), 6).alias("mm"))
                .groupBy("cell", "m", "code")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "mm"))),
                        lambda s: s.mm,
                    ).alias("cent")
                )
            )
    return assigned.select("vec_id", "cell", "m", "code"), cb


def ivfadc_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Faiss IVFADC: L2-normalize (so squared-L2 order is cosine
    order), then PQ over RESIDUALS (vector − home-cell centroid) with
    a codebook trained PER COARSE CELL (``_pq_fit_percell``).

    Measured history (SCALE.md §ANN, tools/ann_recall_report.py):
    with the SHARED M=8/K=8 codebook this variant scored recall@5 =
    0.20 at both scales — BELOW raw-vector IVF-PQ's 0.32, because the
    fixture's coarse quantizer absorbs essentially all structure
    (label clusters + isotropic noise) and a tiny shared codebook
    cannot resolve the near-pure-noise residuals. Per-cell codebooks
    (r10, the beat-or-delete directive): K_CELLS × IVFADC_K_CODES=16
    codes per subspace, each candidate decoding against exactly its
    home cell's book — recall@5 = 0.28 / 0.40 / 0.36 at
    sf0.001/0.01/0.1, ABOVE both PQ-ADC (0.20/0.28/0.32) and raw
    IVF-PQ (0.24/0.32/0.32). The capacity went where the distortion
    was: isotropic residual noise needs codes per cell, not a shared
    book stretched across cells. tests/test_similarity.py pins
    ivfadc ≥ pq_adc as an executable gate.

    Library entry point, not a registered query: the per-(query,
    probe-cell) residual LUT makes an unrolled SQL oracle ~K× the
    already-large composed IVF-PQ oracle for no new determinism
    evidence — every stage below is one of the two already-oracle-
    checked builds plus equi-joins, and the recall harness grades
    the search end-to-end against exact top-5.

    Scale shape: identical joins to the raw IVF-PQ plan plus one
    broadcast of the K×DIM centroid table for the residual
    subtraction; the LUT grows to (queries × nprobe × M × K_PQ) rows
    — still broadcast-sized. Candidates reach the ADC sum through
    their home cell only, so each (query, candidate) scores exactly
    once against the matching probe-cell LUT."""
    # warm fast path: with the ranking, the codes and the per-cell
    # LUT all in cache slots, a repeat invocation constructs nothing
    # below the candidate join — not even the normalization plan.
    # Persisting the query-side LUT is sound because the fixture's
    # query set (vec_id < N_QUERIES) is deterministic per sf_dir —
    # the same category as the persisted exact-top5 grading set.
    ranked, codes, lut = get_or_build(
        spark,
        ("ivfadc_ranked_cells", "ivfadc_codes", "ivfadc_lut"),
        sf_dir,
        lambda: _ivfadc_build(spark, sf_dir),
    )
    qprobes = _ivfadc_qprobes(ranked)
    candidates = codes.join(
        F.broadcast(qprobes),
        (F.col("cell") == F.col("qcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "qcell", "vec_id", "m", "code")
    adc = (
        candidates.join(F.broadcast(lut), ["query_id", "qcell", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("ld"), 6).alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("vec_id").asc()
    )
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


def _ivfadc_qprobes(ranked: DataFrame) -> DataFrame:
    """(query_id, qcell): the query set's probe list off the cached
    normalized-space ranking."""
    return ranked.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("cand_cell").alias("qcell"),
    )


def _ivfadc_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Cold-path IVFADC index construction: returns (ranked, codes,
    lut), the first two already in their cache slots. See
    ivfadc_residual_topk's docstring for the geometry."""
    from dist_map_reduce_spark.functions.similarity_pq import _sq_l2

    # L2-normalize first: on the unit sphere squared-L2 order IS
    # cosine order (cos = 1 − ‖q̂−x̂‖²/2), so the ADC ranking targets
    # the same metric the exact top-5 uses — without this the PQ
    # codebook wastes codes modeling norm variation the cosine
    # ground truth ignores. The normalized components are NOT rounded
    # — deliberately (r11, learned the hard way attaching the oracle
    # in similarity_ivfadc_query.py): every cross-engine-compared
    # quantity downstream passes through a round-6 of a GENERIC
    # double, which absorbs the ±ULP the two engines' norm sums can
    # differ by; rounding here instead makes all inputs decimal-
    # aligned, so small-group averages in the per-cell codebook
    # training land EXACTLY on .5e-6 round boundaries where that same
    # ULP noise flips the round (observed: one adist off by 1e-6 at
    # sf0.001).
    raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    nrm = F.sqrt(
        F.expr(
            "aggregate(transform(embedding, x -> CAST(x AS DOUBLE)"
            " * CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v)"
        )
    )
    emb = raw.withColumn("nrm", nrm).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x.cast("double") / F.col("nrm")
        ).alias("embedding"),
    )
    # (cell, cent) — 6-dp-rounded doubles. PERSISTED: the K×DIM table
    # is tiny but its lineage is the full 3-round Lloyd, and cent
    # feeds three consumers here (ranking, corpus residuals, query
    # residuals) — only the first two sit behind persisted slots, so
    # without this the query-side residual join re-trains k-means on
    # every invocation
    cent = get_or_build(spark, "ivfadc_centroids", sf_dir, lambda: kmeans_fit(emb)[1])
    ranked = ivf_ranked_cells(
        emb,
        cent.select(
            F.col("cell").alias("cand_cell"), F.col("cent").alias("centroid")
        ),
        "ivfadc_ranked_cells",  # normalized-space ranking: own slot
        sf_dir,
    )
    homes = ranked.filter(F.col("rn") == 1).select(
        "vec_id", F.col("cand_cell").alias("cell")
    )
    residual = F.expr(
        "zip_with(embedding, cent, (x, c) -> CAST(x AS DOUBLE) - c)"
    )
    # PQ trained PER COARSE CELL on residual subvectors (own cache
    # slots — the codes table is the residual-compressed corpus):
    # each cell's residual distribution gets its own k_codes-entry
    # codebook per subspace instead of sharing one tiny global one
    sub_res = get_or_build(
        spark,
        "ivfadc_subrows",
        sf_dir,
        lambda: subvector_rows(
            emb.join(homes, "vec_id")
            .join(F.broadcast(cent), "cell")
            .select("vec_id", residual.alias("embedding"))
        ).join(homes, "vec_id"),
    )
    # persist BOTH training outputs (the pq_index policy): the LUT
    # side joins cb, and an unpersisted codebook re-runs the whole
    # per-cell Lloyd a second time when the LUT materializes
    codes, cb = get_or_build(
        spark,
        ("ivfadc_codes", "ivfadc_codebook"),
        sf_dir,
        lambda: _pq_fit_percell(sub_res),
    )
    # query-side: one residual PER PROBE CELL, so the LUT is keyed by
    # (query_id, qcell) — a candidate scores against the LUT of the
    # cell it was found in
    qprobes = _ivfadc_qprobes(ranked)
    q_res = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(qprobes), "query_id")
        .join(
            F.broadcast(cent.withColumnRenamed("cell", "qcell")), "qcell"
        )
        .select("query_id", "qcell", residual.alias("embedding"))
    )
    from dist_map_reduce_spark.functions.similarity_pq import M_SUB, SUBDIM

    q_sub = q_res.select(
        "query_id",
        "qcell",
        F.explode(F.sequence(F.lit(0), F.lit(M_SUB - 1))).alias("m"),
        "embedding",
    ).select(
        "query_id",
        "qcell",
        "m",
        F.expr(
            f"transform(slice(embedding, m * {SUBDIM} + 1, {SUBDIM}),"
            f" x -> CAST(x AS DOUBLE))"
        ).alias("sub"),
    )
    # per-cell LUT: a probe cell's residual queries score against
    # THAT cell's codebook (cb is keyed by cell)
    lut = q_sub.join(
        F.broadcast(cb),
        (F.col("qcell") == F.col("cell")) & (q_sub["m"] == cb["m"]),
    ).select(
        "query_id",
        "qcell",
        q_sub["m"].alias("m"),
        "code",
        F.round(_sq_l2("sub", "cent"), 6).alias("ld"),
    )
    return ranked, codes, lut
