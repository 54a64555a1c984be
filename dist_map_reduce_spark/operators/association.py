"""Market-basket association rules.

The classic retail-analytics family (Agrawal, Imielinski & Swami,
SIGMOD 1993) the relational surface lacked: frequent itemset PAIRS
over order baskets with support / confidence / lift, the level-2
slice of Apriori that covers the overwhelming share of production
"bought-together" workloads. Baskets are orders; items are part
BRANDS (the bounded 25-value dimension), so the rule universe is
≤ 25·24 directed pairs — audit-sized output at any corpus scale —
while the basket scan is full-corpus.

Semantics: for each directed rule a→b over distinct-brand baskets,
  support    = n_both / n_baskets
  confidence = n_both / n_ante
  lift       = n_both · n_baskets / (n_ante · n_cons)
kept when n_both ≥ MIN_CO and lift > 1 — and the lift filter is the
PPJoin discipline: cross-multiplied INTEGER comparison
(n_both · N > n_a · n_b as BIGINTs), so a rule at exactly lift 1.0
is excluded on both engines with no float-ulp hole. The emitted
ratios are single IEEE divisions/multiplications of exactly-cast
integers (every count < 2^53), identical expression shape on both
engines, rounded at 6 dp at the output seam only.

Scale posture (100 TB): items = lineitem ⋈ part on partkey (the
standard dimension join — broadcast at tested scales, shuffle-hash
at extreme part cardinality), then the basket set is a 64-bit
BITMASK: brand → dense bit index (broadcast ≤63-row dim), basket =
bit_or(1 << idx) — a pure LongType HashAggregate — and a second
LongType aggregate collapses masks into the (mask, count)
COMPOSITION table (≤ distinct basket shapes, orders of magnitude
below basket count). Pairs and margins explode set-bit pairs over
compositions only, weighted by count. Measured at the ×100 probe
(60M lineitems): the first-cut distinct + self-join-on-orderkey
shape ran 25.7× base wall; a collect_set(string) array shape 20.8×
(the var-length ObjectHashAggregate buffer cost — the CLAUDE.md
SortAggregate lesson); this all-integer two-HashAggregate form runs
5.5× (30 s) — the win is exactly "never aggregate var-length
buffers at corpus scale; pack the set into a bigint".

Bounds: the mask needs items-per-dimension ≤ 63 (brands: 25; a
wider item dimension would shard the mask or fall back to the array
form); n_a · n_b < 2^63 holds to ~3·10^9 baskets (beyond 100 TB
TPC-H's 1.5·10^9 orders) — past that, promote the lift
cross-multiplication to DECIMAL(38,0).

Reference parity note: the reference has no join surface at all
(word count only, /root/reference/src/worker/worker.go:270-288);
this extends the engine the way tpch_full.py does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import get_or_build
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

MIN_CO = 2  # minimum co-occurrence count for a rule

_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT count(DISTINCT o) AS n_baskets FROM items),
margin AS (
  SELECT brand, count(*) AS n_brand FROM items GROUP BY brand
),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_both
  FROM items a JOIN items b ON a.o = b.o AND a.brand < b.brand
  GROUP BY a.brand, b.brand
),
directed AS (
  SELECT brand_a AS ante, brand_b AS cons, n_both FROM pairs
  UNION ALL
  SELECT brand_b AS ante, brand_a AS cons, n_both FROM pairs
),
scored AS (
  SELECT d.ante, d.cons,
         CAST(ma.n_brand AS BIGINT) AS n_ante,
         CAST(mc.n_brand AS BIGINT) AS n_cons,
         CAST(d.n_both AS BIGINT) AS n_both,
         CAST(n.n_baskets AS BIGINT) AS n_baskets
  FROM directed d
  JOIN margin ma ON ma.brand = d.ante
  JOIN margin mc ON mc.brand = d.cons, n
  WHERE d.n_both >= {MIN_CO}
    AND d.n_both * n.n_baskets > ma.n_brand * mc.n_brand
)
SELECT ante, cons, n_ante, n_cons, n_both, n_baskets,
       round(CAST(n_both AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6)
         AS support,
       round(CAST(n_both AS DOUBLE) / CAST(n_ante AS DOUBLE), 6)
         AS confidence,
       round((CAST(n_both AS DOUBLE) * CAST(n_baskets AS DOUBLE))
             / (CAST(n_ante AS DOUBLE) * CAST(n_cons AS DOUBLE)), 6)
         AS lift
FROM scored
"""


def brand_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand, idx) — dense 0-based bit position per distinct brand,
    rank order = lexicographic. The window runs on the ≤ 63-row
    brand dimension (domain-bounded; a >63-value item dimension
    would need a wider mask type — see module docstring)."""
    from pyspark.sql.window import Window

    # four consumers per rules build (compositions, margin, both pair
    # sides) each re-ran the part scan + distinct exchange + the
    # single-partition rank window — persist the ≤63-row dimension
    # once instead (r16: 4 duplicate subtrees out of the plan's 88
    # Exchanges; guide §2.4)
    return get_or_build(
        spark,
        "basket_brand_dim",
        sf_dir,
        lambda: load_table(spark, sf_dir, "part")
        .select("p_brand")
        .distinct()
        .select(
            F.col("p_brand").alias("brand"),
            (
                F.row_number().over(Window.orderBy("p_brand")) - 1
            ).alias("idx"),
        ),
    )


def compositions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(mask, cnt): distinct basket brand-sets as 64-bit masks with
    their basket counts. Two corpus-scale stages, both pure LongType
    HashAggregates: orderkey → bit_or mask, mask → count. Every
    margin and pair count derives from this composition-scale table
    (one persist slot, three consumers)."""

    def build() -> DataFrame:
        lineitem = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        part = load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_brand"
        )
        dim = brand_dim(spark, sf_dir)
        items = (
            # part scales with sf — no broadcast hint (AQE picks
            # broadcast at tested scales, shuffle-hash at extreme part
            # cardinality; the catalog.py bounded-dims-only rule)
            lineitem.join(part, lineitem.l_partkey == part.p_partkey)
            .join(F.broadcast(dim), part.p_brand == dim.brand)
            .select(
                F.col("l_orderkey").alias("o"),
                F.expr("shiftleft(CAST(1 AS BIGINT), idx)").alias("bit"),
            )
        )
        masks = items.groupBy("o").agg(F.bit_or("bit").alias("mask"))
        return masks.groupBy("mask").agg(F.count("*").alias("cnt"))

    return get_or_build(spark, "basket_brand_compositions", sf_dir, build)


_BITS = (
    "filter(sequence(0, 62), i -> (shiftright(mask, i) & 1) = 1)"
)


@query("basket_brand_rules", oracle=_ORACLE)
def basket_brand_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ante, cons, n_ante, n_cons, n_both, n_baskets, support,
    confidence, lift) for every directed brand rule with
    n_both ≥ MIN_CO and integer-certified lift > 1."""
    comps = compositions(spark, sf_dir)
    dim = brand_dim(spark, sf_dir)
    n = comps.agg(F.sum("cnt").cast("bigint").alias("n_baskets"))
    # margins and pairs explode over the composition-scale table
    # only, weighted by basket count
    # consumed twice (the ante and cons margin arms) — persist the
    # ≤63-row margin so the composition-scale explode+agg runs once
    margin = get_or_build(
        spark,
        "basket_brand_margin",
        sf_dir,
        lambda: comps.select(F.explode(F.expr(_BITS)).alias("idx"), "cnt")
        .groupBy("idx")
        .agg(F.sum("cnt").cast("bigint").alias("n_brand"))
        .join(F.broadcast(dim), "idx")
        .select("brand", "n_brand"),
    )
    # materialize the bits array ONCE per composition row: inlining
    # _BITS into the nested transform re-evaluates the 63-element
    # sequence+filter per lambda element (no CSE inside lambda
    # bodies — the session.py InferFiltersFromGenerate lesson, here
    # as plain interpreted-HOF cost: ~2 s of executor time over the
    # 55k cached masks at sf0.1, guide §1.2 per-task work). Slicing
    # the materialized ~popcount-length array is O(k²) per row with
    # k = set bits, not O(63·k).
    pair_expr = F.expr(
        "flatten(transform(bits, (x, i) -> "
        "transform(slice(bits, i + 2, 63), "
        "y -> struct(x AS ia, y AS ib))))"
    )
    # consumed twice (both arms of the directed union) — persist the
    # ≤ C(63,2)-row undirected pair table so the composition-scale
    # pair explode runs once per corpus
    pairs = get_or_build(
        spark,
        "basket_brand_pairs",
        sf_dir,
        lambda: comps.select(F.expr(_BITS).alias("bits"), "cnt")
        .select(F.explode(pair_expr).alias("p"), "cnt")
        .groupBy(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
        .agg(F.sum("cnt").cast("bigint").alias("n_both"))
        .join(
            F.broadcast(dim.select(F.col("idx").alias("ia"),
                                   F.col("brand").alias("brand_a"))),
            "ia",
        )
        .join(
            F.broadcast(dim.select(F.col("idx").alias("ib"),
                                   F.col("brand").alias("brand_b"))),
            "ib",
        )
        .select("brand_a", "brand_b", "n_both"),
    )
    directed = pairs.select(
        F.col("brand_a").alias("ante"),
        F.col("brand_b").alias("cons"),
        "n_both",
    ).unionAll(
        pairs.select(
            F.col("brand_b").alias("ante"),
            F.col("brand_a").alias("cons"),
            "n_both",
        )
    )
    ma = margin.select(
        F.col("brand").alias("ante"), F.col("n_brand").alias("n_ante")
    )
    mc = margin.select(
        F.col("brand").alias("cons"), F.col("n_brand").alias("n_cons")
    )
    scored = (
        directed.join(F.broadcast(ma), "ante")
        .join(F.broadcast(mc), "cons")
        .crossJoin(n)  # 1-row broadcast scalar (sanctioned)
        .filter(
            (F.col("n_both") >= MIN_CO)
            & (
                F.col("n_both") * F.col("n_baskets")
                > F.col("n_ante") * F.col("n_cons")
            )
        )
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return scored.select(
        "ante",
        "cons",
        "n_ante",
        "n_cons",
        "n_both",
        "n_baskets",
        F.round(dbl("n_both") / dbl("n_baskets"), 6).alias("support"),
        F.round(dbl("n_both") / dbl("n_ante"), 6).alias("confidence"),
        F.round(
            (dbl("n_both") * dbl("n_baskets"))
            / (dbl("n_ante") * dbl("n_cons")),
            6,
        ).alias("lift"),
    )
