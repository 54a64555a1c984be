"""AMS / count-sketch second frequency moment.

The mergeable-summaries family covers frequency point queries (CMS),
membership (Bloom), cardinality (KMV / theta / native HLL), quantiles
(t-digest) and uniform samples (reservoir). The remaining classic is
the FREQUENCY-MOMENT sketch: Alon-Matias-Szegedy (1996) F2 = sum_t
f_t^2, the second moment of the token frequency vector — the quantity
a planner reads as the SELF-JOIN SIZE of the token table and a
curation pipeline reads as corpus repetitiveness (F2 / F1^2 is a
Herfindahl-style concentration index; boilerplate-heavy sources
spike it). Estimated here with the count-sketch form of AMS
(Charikar, Chen & Farach-Colton 2002): R independent hash rows of B
signed counters; each row's sum of squared counters is an unbiased
F2 estimate; the median over rows tames the variance.

Construction, all INTEGER so parity is exact cross-engine:
  h_r(w)    = 48-bit md5-slice of 'ams<r>:' + word  (repo hash idiom)
  bucket    = h % B          sign = +1 if (h // B) even else -1
  C[g,r,b]  = sum over words in bucket of sign * count(w in g)
  f2_row    = sum_b C[g,r,b]^2          (unbiased per row)
  f2_est    = exact median over the R=5 rows — row_number ordered by
              (f2_row, r), rank 3 of 5; no interpolation, no float
Folding per-(group, word) PRE-AGGREGATED counts into the counters is
bit-identical to streaming raw tokens (counter updates are
associative sums — the same map-side-combine legitimization as
text_cms.py). BIGINT headroom: f2_row sums B=64 squares of counters
bounded by per-bucket token mass; safe through ~3e9 tokens per
(group, row, bucket) — beyond that the squares cast to DECIMAL(38,0)
(noted, not needed at any certified scale).

MERGE is the point: counters build PER SOURCE with one map-side-
combined aggregate, and the corpus sketch is the ELEMENT-WISE SUM of
the source counter grids — demonstrated in-plan by a second tiny
aggregate over the |sources| x R x B counter rows, exactly the HLL
register-max shape with sum in place of max. The '__merged__' row is
the anti-vacuity check done right: its exact F2 exceeds the sum of
the per-source F2s whenever sources share vocabulary ((sum_g f_g)^2
>= sum_g f_g^2 per word), so merged != any reconstruction from the
group outputs — the sketch merge is doing real work, certified by
the oracle recomputing both ways.

Scale posture (SCALE.md §Text analysis): one token explode + one
(source, word) groupBy (map-side combined) — wordcount-shaped; the
sketch overlay (R=5 unions of a narrow select, a |sources|·R·B-cell
aggregate, the merged sum, a ≤(21·5)-row median window) is
vocabulary- then sketch-scale, i.e. free at any corpus size. At
100 TB this is the classic one-pass tree: per-partition signed
counter grids (R·B = 320 ints each) merge by element-wise sum up the
tree; nothing data-scale moves after the first combine.

Reference parity: the reference's one query is word count
(/root/reference/src/worker/worker.go:270-288); F2 is the second
moment of exactly that output vector — extension surface.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import persist_tracked
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

AMS_ROWS = 5  # independent hash rows (odd -> exact median at rank 3)
AMS_WIDTH = 128  # signed counters per row (std/row ~ sqrt(2/B) ~ 12.5%)
_MEDIAN_RANK = (AMS_ROWS + 1) // 2


def _hash(word: F.Column, seed: int) -> F.Column:
    """48-bit md5 slice of 'ams<seed>:' + word as BIGINT —
    bit-identical in Spark and DuckDB (non-negative)."""
    digest = F.md5(F.concat(F.lit(f"ams{seed}:"), word).cast("binary"))
    return F.conv(F.substring(digest, 1, 12), 16, 10).cast("bigint")


def bucket_col(word: F.Column, seed: int) -> F.Column:
    return _hash(word, seed) % AMS_WIDTH


def sign_col(word: F.Column, seed: int) -> F.Column:
    """+1 / -1 from the hash bits ABOVE the bucket bits (independent
    of the bucket). h < 2^48, so h / 64.0 is exact in a double and
    floor() is the integer quotient in both engines."""
    parity = F.floor(_hash(word, seed) / AMS_WIDTH) % 2
    return F.when(parity == 0, F.lit(1)).otherwise(F.lit(-1))


def _hash_sql(seed: int) -> str:
    return f"('0x' || substring(md5('ams{seed}:' || word), 1, 12))::BIGINT"


def _bucket_sql(seed: int) -> str:
    return f"{_hash_sql(seed)} % {AMS_WIDTH}"


def _sign_sql(seed: int) -> str:
    return (
        f"CASE WHEN ({_hash_sql(seed)} // {AMS_WIDTH}) % 2 = 0"
        f" THEN 1 ELSE -1 END"
    )


_ORACLE = f"""
WITH words AS (
  SELECT source AS g,
         unnest(string_split_regex(text, '[^a-zA-Z]+')) AS word
  FROM documents
),
counts AS (
  SELECT g, word, count(*) AS cnt
  FROM words WHERE word <> '' GROUP BY g, word
),
cells AS (
  {" UNION ALL ".join(
    f"SELECT g, {s} AS r, {_bucket_sql(s)} AS bucket,"
    f" {_sign_sql(s)} * cnt AS sc FROM counts"
    for s in range(AMS_ROWS)
  )}
),
grid AS (
  SELECT g, r, bucket, CAST(sum(sc) AS BIGINT) AS c
  FROM cells GROUP BY g, r, bucket
),
merged AS (
  SELECT '__merged__' AS g, r, bucket, CAST(sum(c) AS BIGINT) AS c
  FROM grid GROUP BY r, bucket
),
all_grid AS (SELECT * FROM grid UNION ALL SELECT * FROM merged),
row_est AS (
  SELECT g, r, CAST(sum(c * c) AS BIGINT) AS f2_row
  FROM all_grid GROUP BY g, r
),
med AS (
  SELECT g, f2_row,
         row_number() OVER (PARTITION BY g ORDER BY f2_row, r) AS rn
  FROM row_est
),
est AS (SELECT g, f2_row AS f2_est FROM med WHERE rn = {_MEDIAN_RANK}),
exact_g AS (
  SELECT g, CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact
  FROM counts GROUP BY g
),
totals AS (SELECT word, CAST(sum(cnt) AS BIGINT) AS cnt
           FROM counts GROUP BY word),
exact_m AS (
  SELECT '__merged__' AS g, CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact
  FROM totals
),
exact AS (SELECT * FROM exact_g UNION ALL SELECT * FROM exact_m)
SELECT e.g AS grp, x.f2_exact, e.f2_est,
       round(abs(e.f2_est - x.f2_exact)
             / CAST(x.f2_exact AS DOUBLE), 6) AS rel_err
FROM est e JOIN exact x ON e.g = x.g
"""


def _counter_grid(counts: DataFrame) -> DataFrame:
    """(g, r, bucket, c) signed counter grid over per-(g, word)
    counts — seed fan-out as a union of R narrow selects (the banding
    idiom; no Generate), then one sketch-scale aggregate."""
    cells = reduce(
        DataFrame.unionAll,
        [
            counts.select(
                "g",
                F.lit(s).alias("r"),
                bucket_col(F.col("word"), s).alias("bucket"),
                (sign_col(F.col("word"), s) * F.col("cnt")).alias("sc"),
            )
            for s in range(AMS_ROWS)
        ],
    )
    return cells.groupBy("g", "r", "bucket").agg(F.sum("sc").alias("c"))


def _median_f2(all_grid: DataFrame) -> DataFrame:
    """(g, f2_est): per-row sum of squared counters, exact median by
    rank over (f2_row, r) — integer end-to-end."""
    row_est = all_grid.groupBy("g", "r").agg(
        F.sum(F.col("c") * F.col("c")).alias("f2_row")
    )
    w = Window.partitionBy("g").orderBy("f2_row", "r")
    return (
        row_est.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _MEDIAN_RANK)
        .select("g", F.col("f2_row").alias("f2_est"))
    )


@query("text_ams_f2_moment", oracle=_ORACLE)
def text_ams_f2_moment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, f2_exact, f2_est, rel_err) per documents.source plus the
    '__merged__' corpus row whose counters are the element-wise SUM
    of the source grids — the AMS merge certified in-plan, graded
    against the exact second moment both per source and merged."""
    docs = load_table(spark, sf_dir, "documents")
    # NO pre-explode repartition, deliberately (the curation_ext /
    # text_winnow precedent was tested and did NOT reproduce here):
    # profiling at sf0.1 shows the wall is per-stage fixed overhead,
    # not tokenization — the word-split is ~50x cheaper than winnow's
    # per-doc md5 windows, so the extra corpus-scale shuffle buys
    # nothing and the minimize-shuffles rule wins.
    # the one corpus-scale subtree; persisted because the R sketch
    # branches, the per-source exact arm and the merged exact arm all
    # hang off it — vocabulary-scale rows, so the cache is tiny
    counts = persist_tracked(
        docs.select(
            F.col("source").alias("g"),
            F.explode(F.split("text", "[^a-zA-Z]+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("g", "word")
        .agg(F.count("*").alias("cnt")),
        "ams_source_word_counts",
        sf_dir,
    )
    # the counter grid feeds TWO consumers (the merged element-wise
    # sum and the per-source estimate rows) — unslotted, each re-ran
    # the R-way fan-out + grid aggregate over the vocabulary-scale
    # counts; the grid itself is |sources|·R·B cells, sketch-sized
    from dist_map_reduce_spark.caching import get_or_build

    grid = get_or_build(
        "ams_counter_grid",
        sf_dir,
        lambda: _counter_grid(counts),
        session=spark,
    )
    merged = (
        grid.groupBy("r", "bucket")
        .agg(F.sum("c").alias("c"))
        .select(F.lit("__merged__").alias("g"), "r", "bucket", "c")
    )
    est = _median_f2(grid.unionByName(merged))

    exact_g = counts.groupBy("g").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("f2_exact")
    )
    exact_m = (
        counts.groupBy("word")
        .agg(F.sum("cnt").alias("cnt"))
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("f2_exact"))
        .select(F.lit("__merged__").alias("g"), "f2_exact")
    )
    exact = exact_g.unionByName(exact_m)

    return est.join(exact, "g").select(
        F.col("g").alias("grp"),
        "f2_exact",
        "f2_est",
        F.round(
            F.abs(F.col("f2_est") - F.col("f2_exact"))
            / F.col("f2_exact").cast("double"),
            6,
        ).alias("rel_err"),
    )
