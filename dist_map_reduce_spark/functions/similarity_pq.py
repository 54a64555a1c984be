"""Product-quantization ANN: trained sub-codebooks + ADC search.

The third leg of the ANN family (sign-LSH buckets, IVF cells, and
now PQ): split each vector into M contiguous subvectors, train a
small k-means codebook PER SUBSPACE, store every vector as M one-byte
codes, and answer queries by Asymmetric Distance Computation — the
query stays full-precision, each candidate's distance is the sum of
M table lookups. This is the memory-compression path: at 100 TB of
embeddings the corpus no longer fits as floats, but M bytes/vector
does (here 64 floats → 8 codes, 32×), and the scan runs entirely in
the compressed domain.

Spark-first training: instead of M driver-sequenced k-means fits,
the corpus explodes once into (vec_id, m, subvector) rows and ONE
composite-key Lloyd loop — centroids keyed by (m, code) — trains all
M codebooks simultaneously: per round one broadcast of the M·K
codebook against the subvector table (assignment ranked by squared
L2) and one (m, code, pos)-keyed mean shuffle. Fixed-depth plan, no
driver round-trips, no vector on the driver.

Scale posture: the codes table is M small ints per vector; ADC joins
it against a broadcast LUT of M·K per-query entries and aggregates
(query, vector) partial sums — an exhaustive COMPRESSED scan, the
standard PQ trade (combine with the IVF cells of
``similarity_common.ivf_search`` to probe-restrict candidates when
even the compressed scan is too much; the codes/LUT shapes here drop
in unchanged).

Determinism (the oracle contract of the whole similarity family):
init codes = subvectors of vec_id 0..K-1 rounded to 6 dp, squared-L2
scores rounded to 6 dp with min-code/min-id tie-breaks, centroid
means rounded to 6 dp — every stage hash-matches the unrolled DuckDB
SQL regardless of the result being approximate w.r.t. exact search.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.similarity_common import DIM, N_QUERIES
from dist_map_reduce_spark.registry import query

M_SUB = 8                 # subspaces
SUBDIM = DIM // M_SUB     # dims per subspace
K_PQ = 8                  # codes per subspace codebook
PQ_ROUNDS = 2             # assignment rounds (1 centroid update between)


def _sq_l2(a: str, b: str) -> Column:
    """Squared L2 distance of two double-array columns (no sqrt —
    monotone for ranking, and exactly mirrored in SQL)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        f" 0D, (acc, v) -> acc + v)"
    )


def subvector_rows(emb: DataFrame) -> DataFrame:
    """(vec_id, m, sub): the corpus exploded into M double-subvectors
    per vector — the single table every PQ stage runs on."""
    return emb.select(
        "vec_id", F.explode(F.sequence(F.lit(0), F.lit(M_SUB - 1))).alias("m"), "embedding"
    ).select(
        "vec_id",
        "m",
        F.expr(
            f"transform(slice(embedding, m * {SUBDIM} + 1, {SUBDIM}),"
            f" x -> CAST(x AS DOUBLE))"
        ).alias("sub"),
    )


def pq_subrows_shared(emb: DataFrame, sf_dir: str) -> DataFrame:
    """The persisted (vec_id, m, sub) exploded corpus shared by the
    PQ-ADC and IVF-PQ variants — every training round and LUT reads
    it, so the corpus is scanned once."""
    return get_or_build(
        emb.sparkSession, "pq_subrows", sf_dir, lambda: subvector_rows(emb)
    )


def pq_index(sub: DataFrame, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The persisted PQ index: ``pq_fit`` with both outputs in
    tracked cache slots — codes are (vec_id, m, code) ints (the 32×-
    compressed corpus, the whole point of PQ) and the codebook is
    M·K rows, so the footprint is trivial while repeat searches skip
    the Lloyd training entirely (production builds once and serves
    many queries; the IVF ranking slot follows the same policy)."""
    return get_or_build(
        sub.sparkSession, ("pq_codes", "pq_codebook"), sf_dir, lambda: pq_fit(sub)
    )


def pq_fit(sub: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Composite-key Lloyd's over subvector rows: returns ``(codes,
    codebook)`` — the final (vec_id, m, code) assignment and the
    (m, code, cent) codebook it was assigned against."""
    cb = sub.filter(F.col("vec_id") < K_PQ).select(
        "m",
        F.col("vec_id").alias("code"),
        F.transform("sub", lambda x: F.round(x, 6)).alias("cent"),
    )
    assigned = None
    for r in range(1, PQ_ROUNDS + 1):
        # assignment as a GENUINE hash aggregate: the (d2 asc, code
        # asc) ordering packs into one long — round(d2·10⁶)·2⁴ +
        # code, exact because d2 carries at most 6 decimals and
        # code < 16 — so the aggregation buffer is fixed-width
        # (min over longs). A min_by over a struct key, or carrying
        # the array-typed sub through first(), forces the
        # SortAggregate fallback — a per-round sort of the
        # K×-expanded scores (pinned against in tests/test_plans.py,
        # same fix as kmeans_fit). The winning code decodes as
        # key mod 2⁴; sub re-joins by (vec_id, m).
        scored = sub.join(F.broadcast(cb), "m").select(
            "vec_id",
            "m",
            "code",
            F.round(_sq_l2("sub", "cent"), 6).alias("d2"),
        )
        key = (
            F.round(F.col("d2") * F.lit(1_000_000.0), 0).cast("long")
            * F.lit(16)
            + F.col("code")
        )
        assigned = sub.join(
            scored.groupBy("vec_id", "m")
            .agg(F.min(key).alias("mk"))
            .select("vec_id", "m", (F.col("mk") % F.lit(16)).alias("code")),
            ["vec_id", "m"],
        ).select("vec_id", "m", "sub", "code")
        if r < PQ_ROUNDS:
            cb = (
                assigned.select("m", "code", F.posexplode("sub").alias("pos", "v"))
                .groupBy("m", "code", "pos")
                .agg(F.round(F.avg("v"), 6).alias("mm"))
                .groupBy("m", "code")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "mm"))),
                        lambda s: s.mm,
                    ).alias("cent")
                )
            )
    return assigned.select("vec_id", "m", "code"), cb


def pq_lut(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Per-query ADC lookup table: (query_id, m, code, ld) — squared
    L2 from each query subvector to every codebook centroid. M·K
    rows per query; always broadcast-sized."""
    return (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cb), "m")
        .select(
            "query_id",
            "m",
            "code",
            F.round(_sq_l2("sub", "cent"), 6).alias("ld"),
        )
    )


def _d2_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )


def pq_ctes() -> tuple[list[str], str, str, str]:
    """The PQ build + LUT as DuckDB CTEs, composable with other
    index builds (names are collision-free vs ``kmeans_ctes``):
    returns ``(ctes, final_codes_cte, final_codebook_cte, lut_cte)``.
    Requires an ``e`` CTE of (vec_id, emb DOUBLE[]) to precede them;
    ``lut`` has (query_id, m, code, ld) for the N_QUERIES queries."""
    ctes = [
        f"""ps AS (
          SELECT vec_id, m, emb[m * {SUBDIM} + 1 : m * {SUBDIM} + {SUBDIM}] AS sub
          FROM e, LATERAL (
            SELECT unnest(generate_series(0, {M_SUB - 1})) AS m
          ) t
        )""",
        f"""pcb0 AS (
          SELECT m, vec_id AS code, list_transform(sub, x -> round(x, 6)) AS cent
          FROM ps WHERE vec_id < {K_PQ}
        )""",
    ]
    for r in range(1, PQ_ROUNDS + 1):
        ctes.append(f"""pa{r} AS (
          SELECT vec_id, m, sub, code FROM (
            SELECT s.vec_id, s.m, s.sub, c.code,
                   row_number() OVER (
                     PARTITION BY s.vec_id, s.m
                     ORDER BY round({_d2_sql('s.sub', 'c.cent')}, 6) ASC,
                              c.code ASC
                   ) AS rn
            FROM ps s JOIN pcb{r - 1} c ON c.m = s.m
          ) WHERE rn = 1
        )""")
        if r < PQ_ROUNDS:
            ctes.append(f"""pcb{r} AS (
          SELECT m, code, list(mm ORDER BY pos) AS cent FROM (
            SELECT m, code, i - 1 AS pos, round(avg(sub[i]), 6) AS mm
            FROM pa{r}, LATERAL (
              SELECT unnest(generate_series(1, {SUBDIM})) AS i
            ) t
            GROUP BY m, code, i
          )
          GROUP BY m, code
        )""")
    final_a, final_cb = f"pa{PQ_ROUNDS}", f"pcb{PQ_ROUNDS - 1}"
    ctes.append(f"""lut AS (
      SELECT q.vec_id AS query_id, q.m, c.code,
             round({_d2_sql('q.sub', 'c.cent')}, 6) AS ld
      FROM ps q JOIN {final_cb} c ON c.m = q.m
      WHERE q.vec_id < {N_QUERIES}
    )""")
    return ctes, final_a, final_cb, "lut"


def _pq_oracle() -> str:
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)"
    ]
    pq, final_a, _final_cb, lut = pq_ctes()
    ctes += pq
    ctes.append(f"""adc AS (
      SELECT l.query_id, a.vec_id, round(sum(l.ld), 6) AS adist
      FROM {final_a} a JOIN {lut} l ON l.m = a.m AND l.code = a.code
      WHERE a.vec_id <> l.query_id
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


@query("similarity_ann_pq_adc_topk", oracle=_pq_oracle())
def similarity_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-5: train the M sub-codebooks (one composite-key
    Lloyd loop), encode the corpus as (vec_id, m, code), build each
    query's M·K lookup table, and rank candidates by the summed
    table lookups (squared L2 in the compressed domain)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sub = pq_subrows_shared(emb, sf_dir)
    codes, cb = pq_index(sub, sf_dir)
    lut = pq_lut(sub, cb)
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
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
