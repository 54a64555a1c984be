"""Count-min sketch heavy hitters.

The approximate-aggregates family (operators/approx.py: HLL distinct,
GK quantiles) lacks the third classic streaming sketch: the count-min
sketch (Cormode & Muthukrishnan 2005), the standard answer to "top
words in a 100 TB corpus with bounded memory". This query builds a
D=4 × W=64 CMS over the corpus's word frequencies and reports, for
the top-10 words by exact count, the exact count next to the CMS
estimate and its (always ≥ 0) overcount — making the sketch's error
behavior itself the certified output, the same grade-the-contract
move as ``histogram_equidepth_approx``.

Reference parity note: word frequency is the reference's ONE query
(/root/reference/src/worker/worker.go:270-288); this is its
bounded-memory approximation arm.

Determinism / portability: every hash is an md5 slice parsed to
BIGINT (the repo-wide idiom — functions/dedup_common.py), so Spark
and DuckDB compute bit-identical buckets; estimates are integer
arithmetic end-to-end, so no float canonicalization is needed.

Why the sketch is built FROM the exact per-word counts: CMS cell
updates are associative sums, so folding per-word pre-aggregated
counts into the D×W grid is bit-identical to streaming the raw
tokens — it IS the map-side-combine form of the stream fold (the
same legitimization as partial aggregation anywhere else). The
exact-count groupBy is the one corpus-scale shuffle and is needed
for the certified output anyway; everything downstream is
vocabulary-scale.

Scale posture (SCALE.md §Text analysis): one token explode + one
word groupBy (map-side combined) — identical to wordcount; the CMS
overlay (4 unions of a narrow select, a 256-cell aggregate, one
broadcast join back) is vocabulary-scale, i.e. free at any corpus
size. No Generate beyond the tokenizer explode, no Window, no
Cartesian: the seed fan-out is a union of 4 narrow selects (the
banding idiom — stack()/Generate breaks whole-stage codegen), and
the cell-sum join back is an explicit broadcast (≤ D·W = 256 rows).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

CMS_DEPTH = 4  # independent hash rows (md5-salted)
CMS_WIDTH = 64  # buckets per row
TOP_K = 10


def _bucket(word: F.Column, seed: int) -> F.Column:
    """CMS bucket of ``word`` under hash row ``seed``: the first 8 hex
    chars of md5('cms<seed>:' + word) as a BIGINT, mod CMS_WIDTH —
    bit-identical in Spark and DuckDB (non-negative, so ``%`` agrees
    across engines)."""
    digest = F.md5(
        F.concat(F.lit(f"cms{seed}:"), word).cast("binary")
    )
    return (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("bigint")
        % CMS_WIDTH
    )


def _bucket_sql(seed: int) -> str:
    return (
        f"('0x' || substring(md5('cms{seed}:' || word), 1, 8))::BIGINT"
        f" % {CMS_WIDTH}"
    )


@query(
    "text_cms_heavy_hitters",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split_regex(text, '[^a-zA-Z]+')) AS word
      FROM documents
    ),
    counts AS (
      SELECT word, count(*) AS n_exact
      FROM words WHERE word <> '' GROUP BY word
    ),
    cells AS (
      {" UNION ALL ".join(
        f"SELECT word, n_exact, {s} AS seed, {_bucket_sql(s)} AS bucket"
        f" FROM counts"
        for s in range(CMS_DEPTH)
      )}
    ),
    grid AS (
      SELECT seed, bucket, sum(n_exact) AS cell_sum
      FROM cells GROUP BY seed, bucket
    ),
    est AS (
      SELECT c.word, c.n_exact, min(g.cell_sum) AS n_cms
      FROM cells c JOIN grid g USING (seed, bucket)
      GROUP BY c.word, c.n_exact
    )
    SELECT word, n_exact,
           CAST(n_cms AS BIGINT) AS n_cms,
           CAST(n_cms - n_exact AS BIGINT) AS overcount
    FROM est
    ORDER BY n_exact DESC, word
    LIMIT {TOP_K}
    """,
)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n_exact, n_cms, overcount) for the top-10 words by
    exact corpus frequency: the CMS estimate is min over D=4 md5-
    salted rows of W=64-bucket cell sums, so ``n_cms >= n_exact``
    always and ``overcount`` measures the sketch's collision error
    on exactly the words a heavy-hitter report would serve."""
    # the one corpus-scale subtree; persisted because the CMS grid
    # and the estimate join both hang off it (4 union branches × 2
    # consumers would otherwise rescan the corpus 8×) — vocabulary-
    # scale rows, so the cache is tiny
    counts = get_or_build(
        spark,
        "cms_word_counts",
        sf_dir,
        lambda: load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", "[^a-zA-Z]+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n_exact")),
    )
    # seed fan-out as a union of narrow selects (the banding idiom;
    # no Generate), one branch per CMS hash row
    cells = reduce(
        DataFrame.unionAll,
        [
            counts.select(
                "word",
                "n_exact",
                F.lit(s).alias("seed"),
                _bucket(F.col("word"), s).alias("bucket"),
            )
            for s in range(CMS_DEPTH)
        ],
    )
    grid = cells.groupBy("seed", "bucket").agg(
        F.sum("n_exact").alias("cell_sum")
    )
    est = (
        cells.join(F.broadcast(grid), ["seed", "bucket"])
        .groupBy("word", "n_exact")
        .agg(F.min("cell_sum").alias("n_cms"))
    )
    return (
        est.orderBy(F.col("n_exact").desc(), F.col("word"))
        .limit(TOP_K)
        .select(
            "word",
            "n_exact",
            "n_cms",
            (F.col("n_cms") - F.col("n_exact")).alias("overcount"),
        )
    )
