"""Oracle sweep: run registered queries on Spark AND their DuckDB
oracles on the same fixture dir, and compare them with
``parity.compare`` (column names, row count, canonical rows).

Usage:
    python tools/sweep.py [sf_dir] [name ...]   # sf_dir defaults to the sf0.01 fixtures

With names it checks only those queries (the one-query loop while
developing an oracle) and exits 2 on a name it does not know; with
none it checks all of them.

This is the repo-local replica of the driver's correctness gate,
runnable at ANY scale factor — run it at sf0.1 after touching any
rounded/float output path (two real boundary bugs — pandas
half-even rounding, DuckDB -0.0 — only materialized above the
driver's sf0.01).

Each line carries the query's Spark wall-time UNDER THIS FOREIGN
SESSION, first-run-cold — exactly what the driver pays — and the
sweep ends with the ten slowest. Two distinct signals hide in
these numbers: (a) one-time plan/codegen compile cost (iterative
queries like dedup_clusters or text_bpe_encode_docs spend 3-8 s
cold and <0.5 s on a second run — benign, data-independent), and
(b) genuine execution blowups that bench.py's warm engine session
masks (the r8 ingest band-index case: 15 s vs 1.1 s WARM and
interleaved, from InferFiltersFromGenerate inlining the signature).
To tell them apart, re-run the suspect twice in one process: only
(b) stays slow.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import duckdb
    from pyspark.sql import SparkSession

    from dist_map_reduce_spark import registry
    from dist_map_reduce_spark.parity import compare, duck_views

    registry.load_all()
    names = sys.argv[2:] or sorted(registry.QUERIES)
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        print(f"unknown query names: {unknown}")
        return 2
    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    duck_views(con, sf_dir)

    bad: list[str] = []
    times: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        sp = registry.QUERIES[name](spark, sf_dir).toPandas()
        times[name] = time.perf_counter() - t0
        problems = compare(sp, con.execute(registry.ORACLES[name]).fetchdf())
        if problems:
            bad.append(name)
        print(
            f"{name}: {'MISMATCH' if problems else 'MATCH'}"
            f" ({len(sp)} rows) {times[name]:.2f}s"
        )
        for p in problems:
            print("  " + p)

    print("\nslowest under the foreign session:")
    for name, t in sorted(times.items(), key=lambda x: -x[1])[:10]:
        print(f"  {t:7.2f}s  {name}")
    print(f"\nchecked {len(names)} oracles at {sf_dir}; mismatches: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
