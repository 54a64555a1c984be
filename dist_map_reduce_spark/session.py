"""SparkSession factory with scale-aware defaults.

Local test posture is ``local[N]`` (single JVM), but every config here
is chosen to also be the right default on a large multi-executor
cluster: Arrow for the Python boundary, UTC so results are
oracle-comparable, and a shuffle-partition count sized to the data
rather than Spark's legacy 200. AQE (coalescing small post-shuffle
partitions, splitting skewed ones) is on by Spark's own default; the
session sets only confs that differ from Spark's defaults
(tests/test_session_conf.py).

Spark's cache of compiled whole-stage-codegen classes holds 100
entries by default. The registry's working set is far larger: one
pass over all 239 queries at sf0.001 compiles 3 346 distinct classes,
and the 7 serve_warm queries need about 170. With the default, a warm
call recompiles whatever was evicted since its last run, so the
session sizes the cache to 4096 entries (``tools/time_one.py`` prints
the compiles of each run as ``compiles=``).

The reference hard-codes 4 reduce partitions and has no AQE analogue
(reference: src/master/master.go:341); we let AQE pick post-shuffle
parallelism instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def iter_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize one round of an iterative loop AND truncate its
    lineage (a loop whose round references ≥2 previous-round
    DataFrames otherwise grows the lazy plan multiplicatively — see
    functions/graph.py).

    Checkpoint storage is conf-driven through Spark's standard knob:
    if the application set a reliable checkpoint directory
    (``sc.setCheckpointDir`` — an HDFS/object-store path on a real
    cluster, surviving executor loss), rounds use ``checkpoint``;
    otherwise ``localCheckpoint`` (executor-local blocks — right for
    local[N], and acceptable on clusters that tolerate
    recompute-on-executor-loss). Both are eager, so each round is
    materialized exactly once."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def get_spark(
    app_name: str = "dist_map_reduce_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    ``shuffle_partitions`` defaults to the core count — right for the
    local fixtures; a real cluster deployment would size it to
    ~2-3x total executor cores or rely on AQE coalescing from a
    higher initial value.

    Session-config contract: the session timezone is UTC, and
    ``catalog.load_table`` re-pins UTC on the CALLING session when
    reading the events table — its naive timestamp[us] column is
    normalized to TIMESTAMP (ltz), whose wall-clock reading is
    timezone-dependent otherwise. A caller-owned session with a
    non-UTC timezone will observe that change; run engine queries on
    a session from this factory (or one already pinned to UTC).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cpus}]"
    n_shuffle = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # let AQE re-plan partitioning for persisted subtrees too
        # (dedup/similarity persist small intermediates; without this
        # their shuffles keep the raw shuffle-partition count)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # InferFiltersFromGenerate rewrites explode(expr) into
        # Filter(size(expr) > 0 AND isnotnull(expr)) + explode(expr)
        # and the filter is then pushed below the projections with
        # the FULL generator expression inlined. Spark performs no
        # common-subexpression elimination inside lambda bodies, so
        # when expr is a higher-order function over an aliased array
        # (shingles, winnowing windows, bigram pairs), every lambda
        # reference re-evaluates the whole upstream array: word
        # n-grams go O(words) -> O(words²) per document. Measured on
        # the winnowing index: 550 s -> 4 s at sf0.001 (!) with the
        # rule excluded; shingle explode on 4 000-word docs: 6x. The
        # rule's only benefit is pre-filtering rows whose arrays are
        # empty — rare-to-impossible in these pipelines and never
        # worth a quadratic. Pinned by tests/test_winnow_explode_plan.py.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Whole-stage codegen's compiled-class cache (static; default
        # 100 entries). One pass over all 239 queries at sf0.001
        # compiles 3 346 distinct classes and a warm serve_warm pass
        # needs ~170; at the default, 90-110 of those are evicted and
        # recompiled on every warm pass.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
