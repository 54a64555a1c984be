"""Fixture-table catalog.

The reference's "dataset = a directory of files" model (reference:
src/master/master.go:327-339) generalizes here to self-describing
Parquet tables (FIXTURES.md). Spark's FileSourceScanExec handles
split planning, predicate pushdown, and column pruning — the
per-file map-task enumeration the reference does by hand.

Like the reference, which hands every task its input files
explicitly (``mapf(filename, contents)``), a query's SQL text gets
its tables as DataFrame arguments (``run_sql``): no query creates,
replaces or reads a temp view, so nothing a caller binds in its own
session can change a query's input. ``register_views`` binds the
fixture views for a caller's own SQL only.
"""

from __future__ import annotations

import string

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
        # the footer read's schema job is the memo entry's, like a
        # slot build's: replaying load_table covers what it read
        with registry.memo_build(spark):
            df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        _DF_MEMO[(sf_dir, name)] = (spark, stamp, df)
    registry.note_table(sf_dir, name, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Bind each fixture table as a temp view under its own name, for
    a caller's own SQL. No engine query reads these views."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def _fields(text: str) -> set[str]:
    return {f for _, f, _, _ in string.Formatter().parse(text) if f}


def run_sql(spark: SparkSession, sf_dir: str, text: str, **frames) -> DataFrame:
    """Run SQL ``text`` whose ``{name}`` fields are its relations: each
    binds the DataFrame in ``frames``, or else fixture table ``name``.
    PySpark binds DataFrame arguments as ``_pyspark_<uuid>`` views and
    drops them once the query is analyzed, so no view outlives the
    call and none of the caller's views can shadow an input."""
    for name in _fields(text) - frames.keys():
        frames[name] = load_table(spark, sf_dir, name)
    return spark.sql(text, **frames)


def plain_sql(text: str) -> str:
    """``text`` with every field spelled as its name: the oracle's
    spelling of a ``run_sql`` template."""
    return text.format(**{n: n for n in _fields(text)})
