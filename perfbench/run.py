"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_warm --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's input from the
seed, runs the workload in a child process (``worker.py``) with the
environment pinned, and prints as its last stdout line one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``. A line before it records the cpus, the
Spark, Java and Python versions, the pass and sample counts, the
wall-clock figures and ``error_frac``. Every file the run writes lives under
``.perfbench_work/`` and the engine's ``.scratch/<workload>-s<seed>/``
in the repository root, and is removed at the end. Exits non-zero,
printing no result, if the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# the engine's own artifact directory (scratch.SCRATCH)
ENGINE_SCRATCH = os.path.join(ROOT, ".scratch")
TIMEOUT_S = 170
# driver JVM heap (session.get_spark reads SPARK_GRAFT_DRIVER_MEM)
DRIVER_MEM = "1g"


def unit(name: str) -> str:
    """A metric's unit, from its name's suffix."""
    suffix = name.rsplit("_", 1)[-1]
    if suffix in ("s", "mb"):
        return suffix.replace("mb", "MB")
    return "ratio" if suffix == "frac" else "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "dist_map_reduce_spark")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2

    # the engine keys on-disk artifacts by the input directory's
    # basename, so each (workload, seed) gets its own
    tag = f"{args.workload}-s{args.seed}"
    run_dir = os.path.join(WORK, tag)
    data_dir = os.path.join(run_dir, "data", tag)
    engine_dir = os.path.join(ENGINE_SCRATCH, tag)
    for d in (run_dir, engine_dir):
        shutil.rmtree(d, ignore_errors=True)
    try:
        return _run(args, run_dir, data_dir)
    finally:
        for d in (run_dir, engine_dir):
            shutil.rmtree(d, ignore_errors=True)


def _run(args, run_dir: str, data_dir: str) -> int:
    import gen

    gen.write(data_dir, args.seed)
    tmp = os.path.join(run_dir, "tmp")
    event_dir = os.path.join(run_dir, "events")
    for d in (tmp, event_dir):
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # Python workers unpickle engine functions by module path
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    )
    result_path = os.path.join(run_dir, "result.json")
    cfg = {
        "root": ROOT,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "data_dir": data_dir,
        "event_dir": event_dir,
        "result_path": result_path,
        "spark_conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # a fixed set of JIT compiler threads, so the CPU clock can
            # leave their time out (worker.CpuClock)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
        "t_spawn": time.time(),
    }
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
        cwd=run_dir,
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = -1
    finally:
        _stop_group(proc)
    if code != 0 or not os.path.exists(result_path):
        print(f"worker failed with code {code}", file=sys.stderr)
        return 1

    with open(result_path, encoding="utf-8") as f:
        out = json.load(f)
    for err in out["errors"]:
        print(err, file=sys.stderr)
    values = out["layers"] if args.trace else out["e2e"]
    metrics = {
        k: {"value": v, "unit": unit(k)}
        for k, v in sorted(values.items())
    }
    info = {k: out[k] for k in (
        "env", "passes", "samples", "oracle_checked", "wall",
        "pass_cpu", "pass_wall",
    )}
    # also in the result line as failed / attempted
    info["error_frac"] = {
        "value": out["failed"] / out["attempted"],
        "unit": "ratio",
        "base": "query executions attempted, untimed pass included",
    }
    if args.trace:
        info["slot_builds_per_pass"] = out["slot_builds_per_pass"]
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left running (the Spark JVM, Python
    workers), wait for the worker itself, then until its process group
    is gone (bounded, since orphans are reaped by init, not by us)."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 5.0
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main())
