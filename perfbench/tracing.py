"""Per-layer tracing for a benchmark run.

Everything here observes the engine from outside: it wraps the public
functions of the ``catalog`` and ``caching`` layers, labels Spark jobs
with ``setJobDescription``, listens to streaming progress through a
``StreamingQueryListener`` and reads Spark's own event log after the
session stops. No engine source is changed.

Counters are kept per pass (pass 0 is the untimed pass that collects every result) and
reported as means over the timed passes.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import time

from pyspark.sql.streaming import StreamingQueryListener

FAMILIES = ("operators", "functions", "streaming")
MB = float(1 << 20)
LABEL = "perfbench"
PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")
STREAM_METRICS = (
    "batches",
    "input_rows",
    "add_batch_s",
    "planning_s",
    "commit_s",
    "state_rows",
    "state_mb",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an uncompressed, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class _Progress(StreamingQueryListener):
    """Maps each streaming query run to the benchmark query that started
    it and keeps every progress report. Runs, not query ids: a query
    restarted from its checkpoint keeps its id."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.owner: dict[str, tuple[int, str]] = {}
        self.progress: list[tuple[tuple[int, str], object]] = []

    def onQueryStarted(self, event):
        self.owner[str(event.runId)] = (self.tracer.pass_no, self.tracer.query)

    def onQueryProgress(self, event):
        p = event.progress
        owner = self.owner.get(str(p.runId))
        if owner is not None:
            self.progress.append((owner, p))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Collects the per-layer counters of one traced run."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self.pass_no = 0
        self.query = ""
        self.counts = collections.defaultdict(collections.Counter)
        self._slot_last: dict[str, object] = {}
        self._table_last: dict[tuple[str, str], object] = {}
        self.listener = _Progress(self)

    # -- layer wrappers (install before registry.load_all) ----------------
    def install(self) -> None:
        """Wrap ``catalog.load_table`` and the ``caching`` slot functions.

        Query modules bind ``load_table`` / ``persist_tracked`` by name at
        import time, so this must run before ``registry.load_all()``.
        ``caching.get_or_build`` reaches ``peek`` and ``persist_tracked``
        through module globals and is covered by their wrappers."""
        from dist_map_reduce_spark import caching, catalog

        load_table, persist, peek = (
            catalog.load_table,
            caching.persist_tracked,
            caching.peek,
        )

        def traced_load_table(spark, sf_dir, name):
            t0 = time.perf_counter()
            df = load_table(spark, sf_dir, name)
            c = self.counts[self.pass_no]
            c["catalog.load_s"] += time.perf_counter() - t0
            c["catalog.load_calls"] += 1
            c["catalog.memo_hits"] += df is self._table_last.get((sf_dir, name))
            self._table_last[(sf_dir, name)] = df
            return df

        def traced_persist(df, slot, key):
            t0 = time.perf_counter()
            out = persist(df, slot, key)
            c = self.counts[self.pass_no]
            if out is self._slot_last.get(slot):
                c["caching.slot_hits"] += 1
            else:
                c["caching.slot_builds"] += 1
                c["caching.build_s"] += time.perf_counter() - t0
            self._slot_last[slot] = out
            return out

        def traced_peek(slot, key, session=None):
            out = peek(slot, key, session=session)
            if out is not None:
                self.counts[self.pass_no]["caching.slot_hits"] += 1
            return out

        catalog.load_table = traced_load_table
        caching.persist_tracked = traced_persist
        caching.peek = traced_peek

    def attach(self, spark) -> None:
        spark.streams.addListener(self.listener)

    # -- per-query labels ------------------------------------------------
    def label(self, spark, pass_no: int, query: str, phase: str | None) -> None:
        """Tag the Spark jobs the calling thread launches next."""
        self.pass_no, self.query = pass_no, query
        desc = None if phase is None else f"{LABEL}|{pass_no}|{query}|{phase}"
        spark.sparkContext.setJobDescription(desc)

    def end_pass(self, spark) -> None:
        """Record live slot storage at the end of a pass."""
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        self.counts[self.pass_no]["caching.slot_mb"] += size / MB

    # -- report ----------------------------------------------------------
    def metrics(
        self,
        passes: list[int],
        family_of: dict[str, str],
        action_s: dict[int, dict[str, float]],
        build_s: dict[int, float],
        cores: int,
    ) -> dict[str, float]:
        """Per-layer metrics, each a mean over the timed ``passes``.

        ``action_s[pass][family]`` and ``build_s[pass]`` are the wall
        times the run measured around each query's action and plan
        construction. Call after the session has stopped, so the event
        log is complete."""
        n = len(passes)
        c = collections.Counter()
        for p in passes:
            c.update(self.counts[p])
        out = {k: c[k] / n for k in (
            "catalog.load_calls",
            "catalog.load_s",
            "caching.slot_builds",
            "caching.slot_hits",
            "caching.build_s",
            "caching.slot_mb",
        )}
        out["catalog.memo_hit_frac"] = _frac(c["catalog.memo_hits"], c["catalog.load_calls"])
        out["caching.hit_frac"] = _frac(
            c["caching.slot_hits"], c["caching.slot_hits"] + c["caching.slot_builds"]
        )
        timed = set(passes)
        # A streaming query runs its micro-batches inside plan
        # construction (trigger availableNow, then awaitTermination).
        # Their trigger time and jobs count as the query family's
        # execution, not as registry construction.
        pass_stream_s, family_stream_s = collections.Counter(), collections.Counter()
        for (pass_no, query), p in self.listener.progress:
            if pass_no in timed:
                t = (p.durationMs or {}).get("triggerExecution", 0) / 1000.0
                pass_stream_s[pass_no] += t
                family_stream_s[family_of.get(query)] += t
        out["registry.build_s"] = sum(
            build_s.get(p, 0.0) - pass_stream_s[p] for p in passes
        ) / n

        log = _EventLog(self.log_dir, self.listener.owner)
        out["registry.build_jobs"] = sum(
            1 for j in log.jobs.values()
            if j.pass_no in timed and j.phase == "build"
        ) / n
        for fam in FAMILIES:
            jobs = [
                j for j in log.jobs.values()
                if j.pass_no in timed and j.phase in ("action", "stream")
                and family_of.get(j.query) == fam
            ]
            wall = (
                sum(action_s.get(p, {}).get(fam, 0.0) for p in passes)
                + family_stream_s[fam]
            )
            out.update(
                {f"{fam}.{k}": v / n for k, v in log.family(jobs, wall, cores).items()}
            )
            # fractions are ratios of totals, not per-pass sums
            out[f"{fam}.core_busy_frac"] *= n
        out["functions.python_mb"] = log.python_mb(
            [
                j for j in log.jobs.values()
                if j.pass_no in timed and family_of.get(j.query) == "functions"
            ]
        ) / n
        out.update(self._streaming(timed, n))
        return out

    def _streaming(self, timed: set[int], n: int) -> dict[str, float]:
        s = collections.Counter()
        peak_rows: dict[str, float] = {}
        peak_mem: dict[str, float] = {}
        for (pass_no, _), p in self.listener.progress:
            if pass_no not in timed:
                continue
            d = p.durationMs or {}
            s["batches"] += 1
            s["input_rows"] += p.numInputRows
            s["add_batch_s"] += d.get("addBatch", 0) / 1000.0
            s["planning_s"] += d.get("queryPlanning", 0) / 1000.0
            s["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            run = str(p.runId)
            rows = sum(op.numRowsTotal for op in p.stateOperators)
            mem = sum(op.memoryUsedBytes for op in p.stateOperators)
            peak_rows[run] = max(peak_rows.get(run, 0), rows)
            peak_mem[run] = max(peak_mem.get(run, 0), mem)
        s["state_rows"] = sum(peak_rows.values())
        s["state_mb"] = sum(peak_mem.values()) / MB
        return {f"streaming.{k}": s[k] / n for k in STREAM_METRICS}


def _frac(num: float, den: float) -> float:
    return num / den if den else 0.0


class _Job:
    __slots__ = ("pass_no", "query", "phase", "stages", "failed")

    def __init__(self, pass_no, query, phase, stages):
        self.pass_no, self.query, self.phase = pass_no, query, phase
        self.stages = stages
        self.failed = False


class _EventLog:
    """The jobs, stages and tasks of one Spark event log, with each job
    attributed to (pass, query, phase) by its description or, for
    streaming micro-batches, by its streaming query run."""

    def __init__(self, log_dir: str, stream_owner: dict[str, tuple[int, str]]):
        files = glob.glob(os.path.join(log_dir, "*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, _Job] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_span: dict[tuple[int, int], tuple[int, int]] = {}
        self.tasks: dict[int, list[dict]] = collections.defaultdict(list)
        self.python_accums: set[int] = set()
        with open(files[0], encoding="utf-8") as f:
            for line in f:
                self._event(json.loads(line), stream_owner)

    def _event(self, e: dict, stream_owner) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            run_id = props.get("sql.streaming.runId")
            if run_id is not None:
                if run_id not in stream_owner:
                    return
                pass_no, query = stream_owner[run_id]
                phase = "stream"
            else:
                parts = (props.get("spark.job.description") or "").split("|")
                if len(parts) != 4 or parts[0] != LABEL:
                    return
                pass_no, query, phase = int(parts[1]), parts[2], parts[3]
            job = _Job(pass_no, query, phase, e["Stage IDs"])
            self.jobs[e["Job ID"]] = job
            for s in job.stages:
                self.stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                key = (info["Stage ID"], info["Stage Attempt ID"])
                self.stage_span[key] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            job = self.stage_job.get(e["Stage ID"])
            if job is not None:
                self.tasks[job].append(e)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            self._python_nodes(e["sparkPlanInfo"])

    def _python_nodes(self, node: dict) -> None:
        for m in node.get("metrics", ()):
            if m["name"] in PYTHON_METRICS:
                self.python_accums.add(m["accumulatorId"])
        for child in node.get("children", ()):
            self._python_nodes(child)

    def family(self, jobs: list[_Job], wall: float, cores: int) -> dict[str, float]:
        ids = {id(j) for j in jobs}
        job_ids = [k for k, j in self.jobs.items() if id(j) in ids]
        tasks = [t for k in job_ids for t in self.tasks[k]]
        spans = [
            span for (stage, _), span in self.stage_span.items()
            if self.stage_job.get(stage) in job_ids
        ]
        busy = _union_s(spans)
        run_s = sum(_m(t, "Executor Run Time") for t in tasks) / 1000.0
        return {
            "action_s": wall,
            "jobs": len(job_ids),
            "tasks": len(tasks),
            "failed_tasks": sum(1 for t in tasks if t["Task Info"].get("Failed")),
            "stage_busy_s": busy,
            "driver_gap_s": wall - busy,
            "core_busy_frac": _frac(run_s, wall * cores),
            "executor_cpu_s": sum(_m(t, "Executor CPU Time") for t in tasks) / 1e9,
            "gc_s": sum(_m(t, "JVM GC Time") for t in tasks) / 1000.0,
            "shuffle_write_mb": sum(
                _m(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks
            ) / MB,
            "shuffle_read_mb": sum(
                _m(t, "Shuffle Read Metrics", "Remote Bytes Read")
                + _m(t, "Shuffle Read Metrics", "Local Bytes Read")
                for t in tasks
            ) / MB,
            "spill_mb": sum(_m(t, "Disk Bytes Spilled") for t in tasks) / MB,
            "output_mb": sum(_m(t, "Output Metrics", "Bytes Written") for t in tasks) / MB,
        }

    def python_mb(self, jobs: list[_Job]) -> float:
        ids = {id(j) for j in jobs}
        total = 0
        for k, j in self.jobs.items():
            if id(j) not in ids:
                continue
            for t in self.tasks[k]:
                for acc in t["Task Info"].get("Accumulables", ()):
                    if acc.get("ID") in self.python_accums:
                        total += int(acc.get("Update", 0))
        return total / MB


def _m(task: dict, *path: str) -> float:
    v = task.get("Task Metrics") or {}
    for k in path:
        v = v.get(k, 0) if isinstance(v, dict) else 0
    return float(v or 0)


def _union_s(spans: list[tuple[int, int]]) -> float:
    """Total length in seconds of the union of [start, end] ms spans."""
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0
