"""One benchmark run, in its own process (started by ``run.py``).

Set-up: registry import, SparkSession start, input registration and
one untimed pass that collects every query's full result.
Then the workload's minimum number of timed passes, and more while the
next one is expected to end within ``seconds``. Each query is measured
over plan construction plus a full-result action (a ``noop`` write,
which unlike ``count()`` lets Catalyst prune no column), its row count
pinned to the collected result's. After the timed passes the collected
results are checked against each query's DuckDB oracle.

The end-to-end times are CPU seconds (``CpuClock``); the wall-clock
figures are reported beside them.

Writes one JSON object to the result path given in the config.
"""

from __future__ import annotations

import importlib.util
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F

from workloads import WORKLOADS

# timed passes at least, however long they take: their median is
# steadier than any one pass, and on a loaded host two are all that fit
# in a run of about a minute
MIN_PASSES = 2


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _steal_s() -> float:
    """CPU time the hypervisor gave other guests, summed over cpus."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / _TICKS


_TICKS = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads, by their (truncated) thread name
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuClock:
    """CPU seconds the program has used so far: every process in this
    session (this driver, the Spark JVM, its Python workers; exited
    children included), less the JVM's JIT compiler threads.

    On a shared host the hypervisor steals a large and changing share of
    each busy vCPU's time, and the kernel charges stolen time to no
    process, so CPU time swings far less with the neighbours' load than
    wall time does. The JIT is
    left out because it compiles in the background for many passes;
    the JVM runs with a fixed set of compiler threads, so their time
    stays visible until it exits."""

    def __init__(self) -> None:
        self.sid = os.getsid(0)
        self.jit: list[str] = []

    def watch_jit(self, jvm_pid: int) -> None:
        task_dir = f"/proc/{jvm_pid}/task"
        for tid in os.listdir(task_dir):
            with open(f"{task_dir}/{tid}/comm", encoding="utf-8") as f:
                if f.read().startswith(_JIT_THREADS):
                    self.jit.append(f"{task_dir}/{tid}/stat")
        if not self.jit:
            raise RuntimeError("no JIT compiler threads found in the JVM")

    def __call__(self) -> float:
        total = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                fields = _stat_fields(f"/proc/{pid}/stat")
            except OSError:  # exited meanwhile
                continue
            if int(fields[3]) == self.sid:
                # utime stime cutime cstime
                total += sum(int(x) for x in fields[11:15])
        for path in self.jit:
            fields = _stat_fields(path)
            total -= int(fields[11]) + int(fields[12])
        return total / _TICKS


def _stat_fields(path: str) -> list[str]:
    """The fields of a ``stat`` file after the command name:
    state ppid pgrp session ... utime stime cutime cstime ..."""
    with open(path, encoding="utf-8") as f:
        stat = f.read()
    return stat[stat.rindex(")") + 2 :].split()


def _load_canon_rows(root: str):
    """``canon_rows`` from the test suite's parity harness, loaded by path
    (no package named ``tests`` is assumed importable)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(root, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_rows, mod.duck_views


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.workload = WORKLOADS[cfg["workload"]]
        self.data_dir = cfg["data_dir"]
        self.tracer = None
        self.attempted = 0
        self.errors: list[str] = []
        # per pass: family -> action wall, and total construction wall
        self.action_s: dict[int, dict[str, float]] = {}
        self.build_s: dict[int, float] = {}

    def setup(self) -> None:
        from dist_map_reduce_spark import caching, catalog, registry, scratch

        self.caching, self.scratch = caching, scratch
        if self.cfg["trace"]:
            from tracing import Tracer, event_log_conf

            self.tracer = Tracer(self.cfg["event_dir"])
            self.tracer.install()
            conf = event_log_conf(self.cfg["event_dir"])
        else:
            conf = {}
        conf.update(self.cfg["spark_conf"])

        t0 = time.perf_counter()
        registry.load_all()
        registry.load_staged()
        self.import_s = time.perf_counter() - t0

        from dist_map_reduce_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        if self.tracer:
            self.tracer.attach(self.spark)

        self.fns = {**registry.QUERIES, **registry.STAGED_QUERIES}
        self.oracles = {**registry.ORACLES, **registry.STAGED_ORACLES}
        self.resolve_oracle = registry.resolve_oracle
        missing = [q for q in self.workload.queries if q not in self.fns]
        if missing:
            raise RuntimeError(f"unknown queries: {missing}")
        self.family = {
            q: self.fns[q].__module__.split(".")[1] for q in self.workload.queries
        }
        catalog.register_views(self.spark, self.data_dir)

    def reset_cold(self) -> None:
        """Drop every cached slot and the engine's on-disk artifacts for
        this input (sink outputs, streaming checkpoints, replays)."""
        self.caching.clear()
        shutil.rmtree(self.scratch.scratch_path(self.data_dir, ""), ignore_errors=True)

    def query(self, pass_no: int, name: str, collect: bool):
        """Construct and execute one query; returns the pandas frame
        (collect) or the row count."""
        fn, spark, tr = self.fns[name], self.spark, self.tracer
        self.attempted += 1
        t0 = time.perf_counter()
        if tr:
            tr.label(spark, pass_no, name, "build")
        df = fn(spark, self.data_dir)
        t1 = time.perf_counter()
        if tr:
            tr.label(spark, pass_no, name, "action")
        if collect:
            result = df.toPandas()
        else:
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                "noop"
            ).mode("overwrite").save()
            result = obs.get["rows"]
        t2 = time.perf_counter()
        if tr:
            tr.label(spark, pass_no, name, None)
        fam = self.family[name]
        acts = self.action_s.setdefault(pass_no, {})
        acts[fam] = acts.get(fam, 0.0) + (t2 - t1)
        self.build_s[pass_no] = self.build_s.get(pass_no, 0.0) + (t1 - t0)
        return result

    def order(self, pass_no: int) -> list[str]:
        names = list(self.workload.queries)
        random.Random(f"{self.cfg['seed']}/{pass_no}").shuffle(names)
        return names

    def run_pass(self, p: int) -> tuple[float, float]:
        """One timed pass over the workload; returns its wall and CPU
        seconds, and keeps each query's latency, CPU time and row count."""
        if self.workload.cold:
            self.reset_cold()
        t0, c0 = time.perf_counter(), self.cpu()
        for name in self.order(p):
            t, c = time.perf_counter(), self.cpu()
            try:
                rows = self.query(p, name, collect=False)
            except Exception:
                self.errors.append(f"pass {p} {name}: {traceback.format_exc(limit=3)}")
                rows = None
            # a failed query's time counts too, so a run whose queries
            # all fail still reports
            self.latency.append(time.perf_counter() - t)
            self.query_cpu.append(self.cpu() - c)
            self.rows.append((p, name, rows))
        if self.tracer:
            self.tracer.end_pass(self.spark)
        return time.perf_counter() - t0, self.cpu() - c0

    def execute(self) -> dict:
        cfg = self.cfg
        self.cpu = CpuClock()
        self.latency: list[float] = []
        self.query_cpu: list[float] = []
        self.rows: list[tuple[int, str, int | None]] = []
        self.setup()
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.cpu.watch_jit(jvm_pid)
        # one untimed pass that collects every query's full result, for
        # the oracle check; it fills the cache slots, loads classes and
        # starts the JIT
        results = {}
        for name in self.order(0):
            try:
                results[name] = self.query(0, name, collect=True)
            except Exception:
                self.errors.append(f"collect {name}: {traceback.format_exc(limit=3)}")
        if self.tracer:
            self.tracer.end_pass(self.spark)
        setup_wall = time.time() - cfg["t_spawn"]
        setup_cpu = self.cpu()

        pass_s, pass_cpu, passes = [], [], []
        steal0, t_begin = _steal_s(), time.perf_counter()
        while len(passes) < MIN_PASSES or (
            time.perf_counter() - t_begin + statistics.mean(pass_s) <= cfg["seconds"]
        ):
            p = len(passes) + 1
            wall, cpu = self.run_pass(p)
            pass_s.append(wall)
            pass_cpu.append(cpu)
            passes.append(p)
        # share of the busy vCPUs' time the host stole during the passes
        steal = _steal_s() - steal0
        steal_frac = steal / (steal + sum(pass_cpu))

        for p, name, rows in self.rows:
            if rows is not None and name in results and rows != len(results[name]):
                self.errors.append(
                    f"pass {p} {name}: {rows} rows, the collected result had "
                    f"{len(results[name])}"
                )

        peak_rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb(os.getpid())
        env = {
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "spark": self.spark.version,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
        self.spark.stop()
        checked = self.check(results)

        out = {
            "attempted": self.attempted,
            "failed": len(self.errors),
            "errors": self.errors,
            "env": env,
            "samples": len(self.latency),
            "passes": len(passes),
            "oracle_checked": checked,
            "e2e": {
                "setup_s": setup_cpu,
                "pass_cpu_s": statistics.median(pass_cpu),
                "query_cpu_p50_s": statistics.median(self.query_cpu),
                "peak_rss_mb": peak_rss_mb,
            },
            "wall": {
                "setup_s": setup_wall,
                "pass_s": statistics.median(pass_s),
                "query_p50_s": statistics.median(self.latency),
                "steal_frac": steal_frac,
            },
            "pass_cpu": pass_cpu,
            "pass_wall": pass_s,
        }
        if self.tracer:
            layers = self.tracer.metrics(
                passes, self.family, self.action_s, self.build_s, env["cpus"]
            )
            layers["session.start_s"] = self.start_s
            layers["registry.import_s"] = self.import_s
            layers["trace.pass_cpu_s"] = out["e2e"]["pass_cpu_s"]
            layers["trace.pass_s"] = out["wall"]["pass_s"]
            out["layers"] = layers
            out["slot_builds_per_pass"] = [
                self.tracer.counts[p]["caching.slot_builds"] for p in passes
            ]
        return out

    def check(self, results: dict) -> int:
        """Compare each collected result with the query's DuckDB oracle;
        a mismatch is an error. Returns how many queries had an oracle."""
        canon_rows, duck_views = _load_canon_rows(self.cfg["root"])
        con = duckdb.connect()
        duck_views(con, self.data_dir)
        checked = 0
        for name, pdf in results.items():
            oracle = self.oracles.get(name)
            if oracle is None:
                continue
            checked += 1
            try:
                want = con.execute(self.resolve_oracle(oracle)).fetchdf()
            except Exception:
                self.errors.append(f"oracle {name}: {traceback.format_exc(limit=3)}")
                continue
            if sorted(pdf.columns) != sorted(want.columns):
                self.errors.append(
                    f"check {name}: columns {sorted(pdf.columns)} != {sorted(want.columns)}"
                )
            elif canon_rows(pdf) != canon_rows(want):
                self.errors.append(
                    f"check {name}: {len(pdf)} rows differ from the oracle's {len(want)}"
                )
        con.close()
        return checked


def main() -> None:
    cfg = json.loads(sys.argv[1])
    out = Run(cfg).execute()
    with open(cfg["result_path"], "w", encoding="utf-8") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
