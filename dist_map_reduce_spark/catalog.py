"""Fixture-table catalog.

The reference's "dataset = a directory of files" model (reference:
src/master/master.go:327-339) generalizes here to self-describing
Parquet tables (FIXTURES.md). Spark's FileSourceScanExec handles
split planning, predicate pushdown, and column pruning — the
per-file map-task enumeration the reference does by hand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark import registry

# The ten driver fixture tables (TESTDATA.md / FIXTURES.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor the
# schema supports (region=5 rows, nation=25 — bounded by geography,
# not sf). customer/supplier/part grow with sf but stay far below
# fact-table size; at 100 TB lineitem they may exceed the broadcast
# threshold, which is why joins below use F.broadcast only for the
# bounded dims and let AQE decide for the scaling ones.
BOUNDED_DIMS: tuple[str, ...] = ("region", "nation")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# DataFrame-HANDLE memo (r16 optimization, guide §1.2 per-task —
# here per-QUERY — work): `spark.read.parquet` eagerly reads the
# footer for schema (~75 ms measured per call on this container),
# and bench queries re-load the same immutable fixture tables on
# every invocation. The memo returns the same lazy DataFrame plan —
# NO data is cached (execution still scans parquet every run); it
# only skips re-deriving an identical plan. Guards: the entry is
# bound to the owning SparkSession (identity check — a foreign or
# restarted session rebuilds) and to the file's mtime/size (a
# rewritten synthesized table — scale probes — rebuilds).
_DF_MEMO: dict[tuple[str, str], tuple[object, tuple, DataFrame]] = {}


def _path_stamp(path: str) -> tuple:
    import os

    try:
        if os.path.isdir(path):
            st = os.stat(path)
            return (st.st_mtime_ns, -1)
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (0, 0)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is stored as NAIVE parquet timestamp[us] (verified
        # with pyarrow at all three fixture scales), which Spark reads
        # as TIMESTAMP_NTZ. Normalize to TIMESTAMP (ltz): event-time
        # operators (withWatermark, window state) require it, and
        # under a pinned-UTC session the wall-clock reading is
        # identical to the stored value and to DuckDB's naive read.
        # NOTE: pinning UTC mutates the CALLING session's config — a
        # documented side effect of reading this table (see
        # session.get_spark docstring); engine-owned sessions are
        # already UTC so only foreign non-UTC sessions observe it.
        # The conf pin runs on EVERY call, memo hit or not.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = table_path(sf_dir, name)
    stamp = _path_stamp(path)
    hit = _DF_MEMO.get((sf_dir, name))
    if hit is not None and hit[0] is spark and hit[1] == stamp:
        df = hit[2]
    else:
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        _DF_MEMO[(sf_dir, name)] = (spark, stamp, df)
    registry.note_table(sf_dir, name, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


# last (session, sf_dir) whose fixture views were registered — view
# re-registration is skipped only when BOTH match and every memo'd
# handle is current (same staleness contract as _DF_MEMO)
_VIEWS_FOR: list = [None, None]


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each fixture table as a temp view (for the SQL API).
    Re-registration for the same (session, fixture dir, file stamps)
    is a no-op: every in-repo createOrReplaceTempView of a
    fixture-table NAME registers exactly a load_table handle, so the
    existing views are already the ones this call would create. A
    rewritten table (stamp change — scale-probe synthesis) forces
    re-registration because the memo'd handles rebuilt."""
    dfs = load_tables(spark, sf_dir)
    key = (sf_dir, tuple(_path_stamp(table_path(sf_dir, n)) for n in TABLES))
    if _VIEWS_FOR[0] is spark and _VIEWS_FOR[1] == key:
        return dfs
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    _VIEWS_FOR[0] = spark
    _VIEWS_FOR[1] = key
    return dfs
