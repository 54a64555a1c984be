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

On Linux each run also reports the processes forked machine-wide
(the delta of ``processes`` in ``/proc/stat``) and the CPU seconds of
the driver JVM's reaped children (``cutime + cstime`` of
``/proc/<jvm>/stat``): Hadoop shell-outs (``readlink``, ``chmod``)
cost CPU that no Spark task metric sees.

Each run also prints ``compiles=``: the classes whole-stage codegen
compiled during it (the delta of Spark's ``CodegenMetrics``
compilation-time histogram count; in local mode tasks compile in the
driver JVM too). A warm repeat that still compiles missed Spark's
compiled-class cache, which ``session.get_spark`` sizes to the
registry's working set.

And ``memo=``: ``hit`` when the call reused the query's stored plan
from the registry's plan cache (no plan construction, the action
still runs in full), ``miss`` when it constructed the plan. A warm
number is a plan-cache hit unless the query is never stored.

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


def fork_counters(jvm_pid: int) -> tuple[int, float] | None:
    """(processes forked since boot, reaped-child CPU seconds of
    ``jvm_pid``), or None where ``/proc`` does not provide them."""
    try:
        with open("/proc/stat") as fh:
            forks = next(
                int(line.split()[1]) for line in fh if line.startswith("processes ")
            )
        with open(f"/proc/{jvm_pid}/stat") as fh:
            # fields after the ")" closing comm start at field 3;
            # cutime and cstime are fields 16 and 17
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, StopIteration):
        return None
    ticks = int(fields[13]) + int(fields[14])
    return forks, ticks / os.sysconf("SC_CLK_TCK")


def compile_count(spark) -> int:
    """Classes compiled by whole-stage codegen in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


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
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
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
        forks: list[int] = []
        child_cpu: list[float] = []
        compiles: list[int] = []
        memo: list[str] = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            before = fork_counters(jvm_pid)
            compiled = compile_count(spark)
            stored = registry.PLANS.get(name)
            t0 = time.perf_counter()
            d = fn(spark, sf_dir)
            hit = stored is not None and registry.PLANS.get(name) is stored
            memo.append("hit" if hit else "miss")
            if use_noop:
                d.write.format("noop").mode("overwrite").save()
            else:
                d.count()
            samples.append(time.perf_counter() - t0)
            compiles.append(compile_count(spark) - compiled)
            after = fork_counters(jvm_pid)
            if before is not None and after is not None:
                forks.append(after[0] - before[0])
                child_cpu.append(after[1] - before[1])
            spark.sparkContext.setJobDescription(None)
        best = min(samples)
        line = f"{name}: best={best:.3f}s runs=" + ",".join(
            f"{s:.3f}" for s in samples
        )
        if forks:
            line += " forks=" + ",".join(map(str, forks))
            line += " child_cpu=" + ",".join(f"{c:.2f}s" for c in child_cpu)
        line += " compiles=" + ",".join(map(str, compiles))
        line += " memo=" + ",".join(memo)
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
