"""Chi-square test of independence over a contingency table
.

The categorical-association statistic (Pearson 1900; the workhorse
of warehouse A/B dashboards and of feature selection for text
classifiers, Manning IR ch. 13.5) the stats family lacked: the full
contingency table of customer market segment × order priority with
per-cell expected counts and chi-square contributions, plus the
table-level statistic and degrees of freedom.

Semantics: over orders ⋈ customer, obs(s,p) = order count per
(segment, priority) cell ON THE COMPLETE GRID — zero cells are
materialized (segments × priorities via a constant-key equi-join of
the two ≤|dim|-row margin tables, NOT a crossJoin — the plan stays
a hash join and the CLAUDE.md crossJoin rule stays 1-row-only) —
exp(s,p) = n_seg · n_prio / N, contribution = (obs − exp)² / exp.

Determinism: every count is an exact BIGINT; exp and contribution
are fixed-shape IEEE expressions over exactly-cast doubles
(identical operand bits and operation order on both engines),
rounded 6 dp at the seam. chi2_total is the one order-sensitive
sum (≤ |segments|·|priorities| = 25 addends, magnitude ≤ ~N) where
the 6-dp round absorbs association-order ULPs — the established
sum discipline (lm_score.py). df = (|segments|−1)(|priorities|−1)
from exact distinct counts.

Scale posture (100 TB): ONE corpus-scale stage — the orders ⋈
customer join (custkey-keyed shuffle at scale, broadcast at fixture
scale) feeding a (segment, priority) groupBy whose output is
dimension-bounded (≤25 cells, map-side partial agg). Margins, the
grid, exp/contribution algebra, and the total all run on ≤25-row
tables; the total and df ride as sanctioned 1-row crossJoin
scalars. Output is audit-sized at any corpus scale.

Reference parity note: the reference's only query is word count
(/root/reference/src/worker/worker.go:270-288); this extends the
stats family (stats.py, drift.py) with the independence test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.caching import persist_tracked
from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.registry import query

_ORACLE = """
WITH joined AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
obs AS (
  SELECT seg, prio, CAST(count(*) AS BIGINT) AS n_obs
  FROM joined GROUP BY seg, prio
),
segm AS (SELECT seg, CAST(sum(n_obs) AS BIGINT) AS n_seg FROM obs GROUP BY seg),
priom AS (SELECT prio, CAST(sum(n_obs) AS BIGINT) AS n_prio FROM obs GROUP BY prio),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs),
grid AS (SELECT s.seg, s.n_seg, p.prio, p.n_prio FROM segm s CROSS JOIN priom p),
cells AS (
  SELECT g.seg, g.prio, COALESCE(o.n_obs, 0) AS n_obs,
         g.n_seg, g.n_prio, tot.n_total,
         (CAST(g.n_seg AS DOUBLE) * CAST(g.n_prio AS DOUBLE))
           / CAST(tot.n_total AS DOUBLE) AS exp_raw,
         CAST(COALESCE(o.n_obs, 0) AS DOUBLE) AS obs_d
  FROM grid g
  LEFT JOIN obs o ON o.seg = g.seg AND o.prio = g.prio, tot
),
scored AS (
  SELECT seg, prio, n_obs, n_seg, n_prio, n_total, exp_raw,
         (obs_d - exp_raw) * (obs_d - exp_raw) / exp_raw AS contrib_raw
  FROM cells
),
summary AS (
  SELECT round(sum(contrib_raw), 6) AS chi2_total,
         CAST((count(DISTINCT seg) - 1) * (count(DISTINCT prio) - 1)
              AS BIGINT) AS df
  FROM scored
)
SELECT s.seg, s.prio, s.n_obs, s.n_seg, s.n_prio, s.n_total,
       round(s.exp_raw, 6) AS expected,
       round(s.contrib_raw, 6) AS contribution,
       m.chi2_total, m.df
FROM scored s, summary m
"""


def contingency_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete (seg, prio) grid with exact observed counts and
    margins — zero cells materialized via the constant-key grid
    join. ≤25 rows; persisted (cell output + total both consume)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    obs = (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    segm = obs.groupBy("seg").agg(
        F.sum("n_obs").cast("bigint").alias("n_seg")
    )
    priom = obs.groupBy("prio").agg(
        F.sum("n_obs").cast("bigint").alias("n_prio")
    )
    grid = segm.withColumn("k", F.lit(1)).join(
        priom.withColumn("k", F.lit(1)), "k"
    )
    cells = (
        grid.join(obs, ["seg", "prio"], "left")
        .withColumn("n_obs", F.coalesce("n_obs", F.lit(0).cast("bigint")))
        .select("seg", "prio", "n_obs", "n_seg", "n_prio")
    )
    return persist_tracked(
        cells, "chisq_contingency_cells", sf_dir
    )


_MI_ORACLE = """
WITH joined AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
obs AS (
  SELECT seg, prio, CAST(count(*) AS BIGINT) AS n_obs
  FROM joined GROUP BY seg, prio
),
segm AS (SELECT seg, CAST(sum(n_obs) AS BIGINT) AS n_seg FROM obs GROUP BY seg),
priom AS (SELECT prio, CAST(sum(n_obs) AS BIGINT) AS n_prio FROM obs GROUP BY prio),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs),
mi AS (
  SELECT sum((CAST(o.n_obs AS DOUBLE) / CAST(t.n_total AS DOUBLE))
             * ln((CAST(o.n_obs AS DOUBLE) * CAST(t.n_total AS DOUBLE))
                  / (CAST(s.n_seg AS DOUBLE) * CAST(p.n_prio AS DOUBLE))))
           AS mi_raw
  FROM obs o JOIN segm s ON s.seg = o.seg
             JOIN priom p ON p.prio = o.prio, tot t
),
hs AS (
  SELECT -sum((CAST(n_seg AS DOUBLE) / CAST(t.n_total AS DOUBLE))
              * ln(CAST(n_seg AS DOUBLE) / CAST(t.n_total AS DOUBLE)))
           AS h_seg
  FROM segm, tot t
),
hp AS (
  SELECT -sum((CAST(n_prio AS DOUBLE) / CAST(t.n_total AS DOUBLE))
              * ln(CAST(n_prio AS DOUBLE) / CAST(t.n_total AS DOUBLE)))
           AS h_prio
  FROM priom, tot t
)
SELECT t.n_total,
       round(mi.mi_raw, 6) AS mi,
       round(hs.h_seg, 6) AS h_seg,
       round(hp.h_prio, 6) AS h_prio,
       CASE WHEN hs.h_seg * hp.h_prio > 0 THEN
         round(mi.mi_raw / sqrt(hs.h_seg * hp.h_prio), 6) END AS nmi
FROM tot t, mi, hs, hp
"""


@query("mutual_info_segment_priority", oracle=_MI_ORACLE)
def mutual_info_segment_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_total, mi, h_seg, h_prio, nmi) — mutual information of
    the same segment × priority contingency table the chi-square
    query certifies, with marginal entropies and the
    sqrt-normalized NMI (Strehl & Ghosh). Chi-square measures
    DEVIATION from independence in count units; MI measures the
    DEPENDENCE in nats — the feature-selection/clustering-agreement
    statistic. Reuses contingency_cells' persist slot, so running
    both queries builds the corpus-scale join + groupBy once.
    Zero-observation cells contribute 0 by the p·ln(p) → 0
    convention (the filter drops them — ln of 0 never evaluates);
    ln-only per the lm_score identical-ln precedent; ≤25-addend
    sums under the seam round; zero entropy NULL-guards nmi."""
    cells = contingency_cells(spark, sf_dir).filter(
        F.col("n_obs") > 0
    )
    tot = cells.agg(
        F.sum("n_obs").cast("bigint").alias("n_total")
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    with_t = cells.crossJoin(tot)  # 1-row broadcast scalar
    mi = with_t.agg(
        F.sum(
            (dbl("n_obs") / dbl("n_total"))
            * F.log(
                (dbl("n_obs") * dbl("n_total"))
                / (dbl("n_seg") * dbl("n_prio"))
            )
        ).alias("mi_raw")
    )
    margin_entropy = lambda key, cnt, out: (  # noqa: E731
        with_t.select(key, cnt, "n_total")
        .distinct()
        .agg(
            (
                -F.sum(
                    (dbl(cnt) / dbl("n_total"))
                    * F.log(dbl(cnt) / dbl("n_total"))
                )
            ).alias(out)
        )
    )
    hs = margin_entropy("seg", "n_seg", "h_seg")
    hp = margin_entropy("prio", "n_prio", "h_prio")
    joined = tot.crossJoin(mi).crossJoin(hs).crossJoin(hp)
    return joined.select(
        "n_total",
        F.round("mi_raw", 6).alias("mi"),
        F.round("h_seg", 6).alias("h_seg"),
        F.round("h_prio", 6).alias("h_prio"),
        F.when(
            F.col("h_seg") * F.col("h_prio") > 0,
            F.round(
                F.col("mi_raw")
                / F.sqrt(F.col("h_seg") * F.col("h_prio")),
                6,
            ),
        ).alias("nmi"),
    )


@query("chisq_segment_priority", oracle=_ORACLE)
def chisq_segment_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(seg, prio, n_obs, n_seg, n_prio, n_total, expected,
    contribution, chi2_total, df) — one row per contingency cell on
    the complete grid."""
    cells = contingency_cells(spark, sf_dir)
    tot = cells.agg(
        F.sum("n_obs").cast("bigint").alias("n_total")
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    scored = (
        cells.crossJoin(tot)  # 1-row broadcast scalar (sanctioned)
        .withColumn(
            "exp_raw",
            (dbl("n_seg") * dbl("n_prio")) / dbl("n_total"),
        )
        .withColumn(
            "contrib_raw",
            (dbl("n_obs") - F.col("exp_raw"))
            * (dbl("n_obs") - F.col("exp_raw"))
            / F.col("exp_raw"),
        )
    )
    summary = scored.agg(
        F.round(F.sum("contrib_raw"), 6).alias("chi2_total"),
        (
            (F.countDistinct("seg") - 1)
            * (F.countDistinct("prio") - 1)
        )
        .cast("bigint")
        .alias("df"),
    )
    return scored.crossJoin(summary).select(  # 1-row scalar
        "seg",
        "prio",
        "n_obs",
        "n_seg",
        "n_prio",
        "n_total",
        F.round("exp_raw", 6).alias("expected"),
        F.round("contrib_raw", 6).alias("contribution"),
        "chi2_total",
        "df",
    )
