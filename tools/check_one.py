"""Check a single registered query against its DuckDB oracle.

Usage:
    python tools/check_one.py <query_name> [sf_dir]

Same canonicalization as tools/sweep.py, but one query — the fast
inner loop while developing a new oracle entry.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.sweep import TABLES  # noqa: E402


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from dist_map_reduce_spark import registry

    registry.load_all()
    fn = registry.QUERIES.get(name)
    if fn is None:
        print(f"unknown query name: {name!r}. Known names:")
        for n in sorted(registry.QUERIES):
            print(f"  {n}")
        return 2
    sp = fn(spark, sf_dir).toPandas()
    osql = registry.ORACLES.get(name)
    if osql is None:
        print(f"{name}: rows-only ({len(sp)} rows)")
        return 0
    od = con.execute(osql).fetchdf()
    a = sp[sorted(sp.columns)].astype(str).apply(tuple, axis=1).sort_values().tolist()
    b = od[sorted(od.columns)].astype(str).apply(tuple, axis=1).sort_values().tolist()
    ok = a == b
    print(f"{name}: {'MATCH' if ok else 'MISMATCH'} ({len(sp)} vs {len(od)} rows)")
    if not ok:
        sa, sb = set(a), set(b)
        for t in list(sa - sb)[:5]:
            print("  spark-only:", t)
        for t in list(sb - sa)[:5]:
            print("  oracle-only:", t)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
