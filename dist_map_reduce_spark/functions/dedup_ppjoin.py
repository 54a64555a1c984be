"""Exact set-similarity join via prefix filtering — the All-Pairs /
PPJoin family. Bayardo, Ma & Srikant (WWW '07)
"Scaling Up All Pairs Similarity Search"; Xiao et al. (WWW '08)
PPJoin. The dedup family's pair generators are all APPROXIMATE
recalls (MinHash-LSH bands, SimHash radius, the frequency-CAPPED
n-gram inverted index — the cap can drop true pairs that share only
hot shingles). This operator is the missing EXACT arm: every pair
with shingle Jaccard >= t, provably complete, built from an index
that holds only each document's PREFIX.

The prefix-filter theorem: order the universe of tokens canonically
(here: document frequency ASC, shingle ASC — rarest first, fully
deterministic) and sort each doc's tokens by that order. Two sets x,
y with |x ∩ y| / |x ∪ y| >= t must share at least one token among
the first  p(x) = |x| - ceil(t·|x|) + 1  tokens of x (and of y):
if they shared none, the intersection would fit inside the suffix,
|x ∩ y| <= |x| - p(x) = ceil(t·|x|) - 1 < t·|x| <= t·|x ∪ y|. So
indexing only prefixes loses nothing, and because the canonical
order puts FREQUENT shingles last, hot shingles almost never enter a
prefix — the quadratic hot-key blow-up the other detectors cap away
is avoided here BY CONSTRUCTION, losslessly.

Everything is integer so parity is exact: t = 4/5, so
ceil(t·sz) = (4·sz + 4) DIV 5 (true integer div on both engines) and
the final threshold test is cross-multiplied —
5·n_inter >= 4·(sz_a + sz_b - n_inter) — no float compare at the
boundary (a pair can sit EXACTLY at 0.8). The reported ``jaccard``
is display-only (round 6dp of an exact-integer ratio).

Safety valve, CLAUDE.md cap discipline: prefix postings longer than
MAX_KEY_DOCS are dropped (adversarial corpora can still make a RARE
shingle hot — e.g. the same document pasted a million times, where
the true pair count is itself quadratic and no exact algorithm can
emit less than its output). The certified output carries
``n_capped_postings`` on every row; it is 0 at every fixture scale
(asserted in tests), so the fixture answer is PROVABLY complete —
pinned against an engine-side brute-force all-pairs join in
tests/test_dedup_ppjoin.py, along with the prefix-index reduction
ratio (~t of the postings dropped).

Scale posture (SCALE.md §Dedup): the corpus-scale stages are the
shingle explode (shared expression, one persist slot), one
document-frequency aggregate, one per-doc rank window (partitioned
by doc_id — bounded ~|doc| rows per partition, never a global
sort), and the prefix self-join whose posting lists are
prefix-bounded; verification joins touch only candidate-pair docs.

Reference parity: the reference has no similarity surface (word
count only, /root/reference/src/worker/worker.go:270-288) —
extension surface beside dedup.py's approximate recalls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import persist_tracked
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.dedup_common import (
    MAX_KEY_DOCS,
    _shingle_sql,
    shingles,
)
from dist_map_reduce_spark.registry import query

T_NUM, T_DEN = 4, 5  # threshold t = 4/5 = 0.8, kept rational

_ORACLE = f"""
WITH sh AS ({_shingle_sql()}),
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
ranked AS (
  SELECT s.doc_id, s.shingle, z.sz,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY d.df ASC, s.shingle ASC) AS rn
  FROM sh s JOIN dfreq d USING (shingle) JOIN sizes z USING (doc_id)
),
pref AS (
  SELECT doc_id, shingle, sz FROM ranked
  WHERE rn <= sz - (({T_NUM} * sz + {T_DEN - 1}) // {T_DEN}) + 1
),
pref_df AS (SELECT shingle, count(*) AS pdocs FROM pref GROUP BY shingle),
capped AS (
  SELECT CAST(count(*) AS BIGINT) AS n_capped_postings
  FROM pref_df WHERE pdocs > {MAX_KEY_DOCS}
),
pref_ok AS (
  SELECT p.doc_id, p.shingle, p.sz
  FROM pref p JOIN pref_df f USING (shingle)
  WHERE f.pdocs <= {MAX_KEY_DOCS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref_ok a JOIN pref_ok b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
   AND {T_DEN} * LEAST(a.sz, b.sz) >= {T_NUM} * GREATEST(a.sz, b.sz)
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
pairs AS (
  SELECT i.doc_a, i.doc_b, i.n_inter, sa.sz AS sz_a, sb.sz AS sz_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE {T_DEN} * i.n_inter
        >= {T_NUM} * (sa.sz + sb.sz - i.n_inter)
)
SELECT p.doc_a, p.doc_b, p.n_inter, p.sz_a, p.sz_b,
       round(p.n_inter * 1.0 / (p.sz_a + p.sz_b - p.n_inter), 6)
         AS jaccard,
       c.n_capped_postings
FROM pairs p, capped c
"""


def prefix_postings(sh: DataFrame) -> DataFrame:
    """(doc_id, shingle, sz) restricted to each document's prefix
    under the canonical (df ASC, shingle ASC) order — the lossless
    index. ``sz`` rides along for the LENGTH filter: J(x,y) >= t
    forces t·|x| <= |y| <= |x|/t, so candidate pairs whose sizes
    disagree beyond t are pruned IN the index join (All-Pairs'
    second filter, integer form 5·min_sz >= 4·max_sz)."""
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc()
    )
    return (
        sh.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("sz")
            - F.expr(f"({T_NUM} * sz + {T_DEN - 1}) DIV {T_DEN}")
            + 1
        )
        .select("doc_id", "shingle", "sz")
    )


@query("ppjoin_jaccard_pairs", oracle=_ORACLE)
def ppjoin_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_inter, sz_a, sz_b, jaccard, n_capped_postings)
    — every document pair with shingle Jaccard >= 0.8, found through
    the prefix-filtered inverted index and verified exactly with the
    cross-multiplied integer predicate. n_capped_postings certifies
    the safety valve stayed closed (0 => provably complete answer)."""
    docs = load_table(spark, sf_dir, "documents")
    # the shingle table feeds five consumers (df counts, sizes, rank,
    # and both verification arms) — one tracked persist slot
    sh = persist_tracked(
        shingles(docs), "ppjoin_shingles", sf_dir
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))

    # the prefix index feeds THREE consumers (pref_df, and both sides
    # of the candidate self-join through pref_ok) — without a persist
    # the whole sh⋈dfreq⋈sizes + per-doc rank window subtree is
    # re-evaluated per consumer (r16 plan capture: 78 Exchange nodes;
    # guide §2.4 — share one exchange instead of repeating it). Both
    # intermediates are prefix-bounded (~1/5 of the postings), far
    # smaller than the already-persisted shingle table.
    pref = persist_tracked(prefix_postings(sh), "ppjoin_pref", sf_dir)
    pref_df = pref.groupBy("shingle").agg(F.count("*").alias("pdocs"))
    capped = (
        pref_df.filter(F.col("pdocs") > MAX_KEY_DOCS)
        .agg(F.count("*").cast("bigint").alias("n_capped_postings"))
    )
    pref_ok = persist_tracked(
        pref.join(
            pref_df.filter(F.col("pdocs") <= MAX_KEY_DOCS).select(
                "shingle"
            ),
            "shingle",
        ),
        "ppjoin_pref_ok",
        sf_dir,
    )

    a = pref_ok.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingle").alias("s"),
        F.col("sz").alias("a_sz"),
    )
    b = pref_ok.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingle").alias("s"),
        F.col("sz").alias("b_sz"),
    )
    cand = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: J >= t forces the sizes within a factor t
        .filter(
            (F.lit(T_DEN) * F.least("a_sz", "b_sz"))
            >= (F.lit(T_NUM) * F.greatest("a_sz", "b_sz"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )

    sh_a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingle").alias("s")
    )
    sh_b = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingle").alias("s")
    )
    inter = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    pairs = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")
            ),
            "doc_b",
        )
        .filter(
            F.lit(T_DEN) * F.col("n_inter")
            >= F.lit(T_NUM)
            * (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
        )
    )
    return pairs.crossJoin(capped).select(  # 1-row broadcast scalar
        "doc_a",
        "doc_b",
        "n_inter",
        "sz_a",
        "sz_b",
        F.round(
            F.col("n_inter")
            * 1.0
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
            6,
        ).alias("jaccard"),
        "n_capped_postings",
    )
