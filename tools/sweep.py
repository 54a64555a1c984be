"""Full oracle sweep: run every registered query on Spark AND its
DuckDB oracle on the same fixture dir, compare canonicalized rows.

Usage:
    python tools/sweep.py [sf_dir]     # default /root/testdata/sf0.01

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

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(pdf) -> list[tuple]:
    """Driver-style canonical rows: sorted columns, stringified cells,
    sorted tuples — ONE implementation so a future canonicalization
    fix (pandas half-even rounding, -0.0) lands everywhere at once."""
    return (
        pdf[sorted(pdf.columns)].astype(str)
        .apply(tuple, axis=1).sort_values().tolist()
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import duckdb
    from pyspark.sql import SparkSession

    from dist_map_reduce_spark import registry

    registry.load_all()
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

    bad: list[str] = []
    times: dict[str, float] = {}
    n = 0
    for name, fn in sorted(registry.QUERIES.items()):
        t0 = time.perf_counter()
        sp = fn(spark, sf_dir).toPandas()
        times[name] = time.perf_counter() - t0
        osql = registry.ORACLES.get(name)
        if osql is None:
            print(f"{name}: rows-only ({len(sp)} rows) {times[name]:.2f}s")
            continue
        n += 1
        od = con.execute(osql).fetchdf()
        ok = _canon(sp) == _canon(od)
        if not ok:
            bad.append(name)
        print(
            f"{name}: {'MATCH' if ok else 'MISMATCH'}"
            f" ({len(sp)} rows) {times[name]:.2f}s"
        )

    print("\nslowest under the foreign session:")
    for name, t in sorted(times.items(), key=lambda x: -x[1])[:10]:
        print(f"  {t:7.2f}s  {name}")
    print(f"\nchecked {n} oracles at {sf_dir}; mismatches: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
