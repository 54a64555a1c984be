"""Time one query in isolation and capture its physical plan.

Usage:
    python tools/time_one.py <name>[,<name>...] [sf_dir] [--runs N]
        [--noop] [--explain DIR]

Methodology follows the optimization guide (§1): the timed action is
``count()`` by default — the SAME action bench.py times, so numbers
here are comparable to BENCH_r*.json — or the noop sink with
``--noop`` (computes every column of every row; use it to check a
query whose cost hides in pruned columns). Jobs are labelled via
setJobDescription. ``--explain DIR`` writes ``DIR/<name>.txt`` with
the ``explain('formatted')`` output of the query's DataFrame.

Runs on the ENGINE session (session.get_spark), like bench.py.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dist_map_reduce_spark import registry  # noqa: E402
from dist_map_reduce_spark.session import get_spark  # noqa: E402

registry.load_all()


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    names = args[0].split(",")
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    runs = 3
    explain_dir = None
    use_noop = "--noop" in flags
    for f in flags:
        if f.startswith("--runs="):
            runs = int(f.split("=", 1)[1])
        if f.startswith("--explain="):
            explain_dir = f.split("=", 1)[1]

    import bench  # noqa: E402  (EXTRA entries: skew twins etc.)

    spark = get_spark("time_one")
    # same warm-up as bench.py so first-run numbers mean the same
    registry.QUERIES["wordcount"](spark, sf_dir).count()

    for name in names:
        fn = registry.QUERIES.get(name) or bench.EXTRA.get(name)
        if fn is None:
            print(f"unknown query: {name}")
            return 2
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        samples = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.perf_counter()
            d = fn(spark, sf_dir)
            if use_noop:
                d.write.format("noop").mode("overwrite").save()
            else:
                d.count()
            samples.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        best = min(samples)
        print(
            f"{name}: best={best:.3f}s runs="
            + ",".join(f"{s:.3f}" for s in samples)
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
