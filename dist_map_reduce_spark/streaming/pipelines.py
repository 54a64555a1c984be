"""Structured Streaming pipelines over the events table.

The reference is strictly batch (job ends at its Shutdown phase,
reference: src/master/master.go:206-213); streaming is part of the
engine's extended surface (SURVEY.md §2.2).

Pipelines are defined against a SOURCE/SINK BINDING, not a concrete
endpoint: every pipeline reads through ``read_events_stream`` and
emits through ``run_sink``, which dispatch to the active ``Binding``.
Every bounded stream, bound or not, drains through
``run_available_now`` — the one place a stream is started. It sizes
the state shuffle from the file sources in the stream's own plan and
pins the checkpoint manager, for that stream only; the module keeps
no other state than the active binding. Available bindings:

- ``FileSource`` (default): bounded replay of a fixture table, with
  the catalog's schema — deterministic, which is what makes the
  oracle comparison possible. In production the same binding tails a
  landing directory.
- ``MemorySink`` (default): the TEST adapter. Complete/update state
  is materialized on the driver, which is exactly what the oracle
  contract needs on bounded fixtures and exactly wrong at production
  key-cardinality — production uses the two sinks below.
- ``ParquetAppendSink``: append-mode results written by executors to
  files + checkpoint; scales with output size, no driver state.
- ``ForeachBatchMergeSink``: complete/update-mode results MERGEd
  per micro-batch into a keyed target table (the streaming-CDC
  pattern; with Delta/Iceberg the body becomes MERGE INTO).

``tests/test_streaming.py`` runs the same pipelines through the
scalable sinks and asserts they agree with the memory-sink answer,
so the production code path is exercised, not just documented.
Watermarked variants (append mode) drop nothing on replay only
because the bounded replay processes all input in order.

API note: arbitrary per-key state is covered via
``applyInPandasWithState`` (``streaming_stateful_user_totals``).
Its Spark 4 successor ``transformWithStateInPandas``
(StatefulProcessor + typed state handles) cannot run in this
container: its state-server protocol requires ``google.protobuf``,
which is not importable here (verified: the streaming Python runner
crashes with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). On an
environment with protobuf, the legacy query's state function ports
to a StatefulProcessor with one ValueState holding the same
(n, total_micro) tuple — same semantics, same oracle.
"""

from __future__ import annotations

import contextlib
import fnmatch
import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from dist_map_reduce_spark import registry
from dist_map_reduce_spark.catalog import load_table, table_path
from dist_map_reduce_spark.money import sum_money
from dist_map_reduce_spark.registry import query
from dist_map_reduce_spark.scratch import scratch_path

# --- scale-adaptive state partitioning (optimization guide §2.2) ---
#
# Stateful streaming shuffles cannot be AQE-coalesced (AQE is
# disabled for stateful workloads), so the state-store partition
# count is pinned from spark.sql.shuffle.partitions at query start.
# Inheriting the session default (the core count) over-partitions
# small state: each state partition carries a FIXED per-batch cost
# (store open + version load + delta-file commit, ~60 ms/partition/
# batch measured for the symmetric hash join at sf0.1, 4 vCPUs), so
# the stream-stream left join at sf0.1 ran 5.9 s at 32 partitions vs
# 2.4 s at 8 with identical rows (OPTIMIZATION_r16.md has the full
# 1/2/4/8/32 curve). Size the state shuffle to the DATA instead:
# one partition per ~32 MB of source input, floored by a small
# parallelism constant (keep multi-core nodes busy without
# scattering tiny state across dozens of stores) and capped at 4x
# the cluster's default parallelism — all three terms scale with
# deployment, nothing is tuned to local[32]. ``run_available_now``
# applies it from the stream's own plan: the largest file source
# sizes the stream (a stream-stream join's symmetric state follows
# its larger input), and a source whose stream never starts sizes
# nothing.
_STATE_PART_BYTES = 32 << 20


def _glob_bytes(path: str, glob: str | None) -> int:
    """Total bytes a file stream over the directory ``path`` replays:
    the data files under it whose names match ``glob`` (the stream's
    ``pathGlobFilter``; None matches all)."""
    total = 0
    for dp, dirs, fs in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        total += sum(
            os.path.getsize(os.path.join(dp, f))
            for f in fs
            if not f.startswith(("_", "."))
            and (glob is None or fnmatch.fnmatch(f, glob))
        )
    return total


def _file_source_bytes(df: DataFrame) -> list[int]:
    """Bytes of each file source the streaming ``df`` replays: one
    entry per ``StreamingRelation`` leaf of its plan that carries a
    ``path`` option, none for a stream without a file source."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    sizes = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            continue
        options = leaf.dataSource().options()
        path, glob = options.get("path"), options.get("pathGlobFilter")
        if path.isDefined():
            sizes.append(
                _glob_bytes(path.get(), glob.get() if glob.isDefined() else None)
            )
    return sizes


def state_partitions(spark: SparkSession, nbytes: int) -> int:
    """Scale-adaptive state-store partition count: bytes-derived,
    parallelism-floored, cluster-capped (see block comment above)."""
    cores = spark.sparkContext.defaultParallelism
    need = max(1, -(-nbytes // _STATE_PART_BYTES))
    return max(min(cores, 8), min(need, 4 * cores))


@contextlib.contextmanager
def _conf_scope(spark: SparkSession, settings: dict[str, str]):
    """Set each of ``settings`` on the session for the scope, then put
    back the value each key had before — unsetting a key that was
    unset — also when the body raises. The one set-and-restore path
    for stream-scoped confs: a stream clones the session conf at
    ``start()``, so a scope around start-and-drain reaches the
    driver's offset/commit logs and the executors' state stores."""
    prev = {key: spark.conf.get(key, None) for key in settings}
    try:
        for key, value in settings.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


# --- checkpoint file manager on local roots ---
#
# Offsets, commits and state-store deltas are written through Spark's
# checkpoint file manager. Its default goes through Hadoop's
# FileContext, and without the native libhadoop every FileContext
# link-status call forks a `readlink` child (FileUtil.readLink ->
# Shell.execCommand): ~1 650 forks and 2.2 CPU s of reaped-child time
# per stream-stream join run on 4 vCPUs, none of it in Spark's task
# metrics. On a `file:` root, rename(2) is already atomic, so the
# FileSystem manager (Spark's own fallback when FileContext is
# unavailable) commits the same files without the forks. Other
# schemes keep Spark's default, which gives HDFS an atomic
# overwrite-rename. A caller-set manager always wins.
#
# On the same roots Spark 4.1's own checkpoint checksum is switched
# off: Hadoop's LocalFileSystem already writes and verifies a `.crc`
# for every checkpoint file, and Spark's extra `<v>.delta.crc` (with
# its own `.crc`) doubled every state-store write, each create one
# more `chmod` fork. A corrupted delta still fails its next read with
# Hadoop's checksum error. A caller-set value wins here too.
_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_CKPT_CHECKSUM_KEY = "spark.sql.streaming.checkpoint.fileChecksum.enabled"


def is_local_fs(default_fs: str) -> bool:
    """Whether a default-filesystem URI (``fs.defaultFS``) names the
    local filesystem, where checkpoints use the FileSystem manager."""
    return urlparse(default_fs).scheme == "file"


def _checkpoint_manager_settings(spark: SparkSession) -> dict[str, str]:
    if spark.conf.get(_CKPT_MANAGER_KEY, None) is not None:
        return {}
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    if not is_local_fs(hadoop_conf.get("fs.defaultFS")):
        return {}
    settings = {_CKPT_MANAGER_KEY: _FS_CKPT_MANAGER}
    if not spark._jsparkSession.sessionState().conf().contains(_CKPT_CHECKSUM_KEY):
        settings[_CKPT_CHECKSUM_KEY] = "false"
    return settings


def run_available_now(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Drain a bounded stream: start the caller-configured ``writer``
    (format, mode, options, foreachBatch) with an availableNow
    trigger and block until every input present at start is
    processed. For the start-and-drain only, the state shuffle is
    sized by ``state_partitions`` from the largest file source in the
    writer's plan (a stream with no file source keeps the session
    value) and, on a local default filesystem, the FileSystem
    checkpoint manager is pinned and Spark's checkpoint checksum
    switched off. The only place a stream is started
    (tests/test_stream_drain_guard.py), so a query construction that
    drains a stream is never plan-cached (``registry``)."""
    registry.note_unstorable()
    settings = _checkpoint_manager_settings(spark)
    # writer._df: the streaming DataFrame PySpark's writer was built on
    sizes = _file_source_bytes(writer._df)
    if sizes:
        settings["spark.sql.shuffle.partitions"] = str(
            state_partitions(spark, max(sizes))
        )
    with _conf_scope(spark, settings):
        writer.trigger(availableNow=True).start().awaitTermination()


def stage_chunks(df: DataFrame, path: str, n: int) -> str:
    """Rewrite ``path`` as ``n`` parquet files of ``df`` and return
    it: a replay landing dir that a ``max_files_per_trigger=1``
    stream drains in ``n`` real micro-batches. Rewritten on every
    call — a kept dir would replay stale chunks after the source
    changed, or a partial write after a crash, and a checkpoint kept
    inside it would mark every chunk committed."""
    shutil.rmtree(path, ignore_errors=True)
    df.repartition(n).write.parquet(path)
    return path


def drain_versioned(
    df: DataFrame,
    base: str,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
    empty_schema,
) -> DataFrame:
    """Drain ``df`` in update mode into a versioned parquet target
    under ``base`` (cleared first): each micro-batch writes
    ``merge(batch, target)`` as ``v{batch_id}``, where ``target`` is
    the latest version (None before the first batch), then deletes
    the superseded version — the write fully materialized the merge.
    Plain parquet ping-pong; with Delta/Iceberg the batch body
    becomes MERGE INTO and the dataflow is unchanged. Returns the
    final version, or an empty ``empty_schema`` frame if no batch
    ran."""
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    versions: list[str] = []

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        target = spark.read.parquet(versions[-1]) if versions else None
        out = os.path.join(base, f"v{batch_id}")
        merge(batch, target).write.mode("overwrite").parquet(out)
        versions.append(out)
        for old in versions[:-1]:
            shutil.rmtree(old, ignore_errors=True)
        del versions[:-1]

    spark = df.sparkSession
    run_available_now(
        spark,
        df.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(base, "_ckpt")),
    )
    if not versions:
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(versions[-1])


@dataclass(frozen=True)
class FileSource:
    """Bounded file stream of the fixture table ``table`` (in
    production, a landing directory files arrive into), with the
    schema of the catalog's handle: ``events.ts`` arrives as
    TIMESTAMP, which ``withWatermark`` requires. ``path`` overrides
    the table with a directory of parquet files (e.g. a staged
    multi-chunk landing dir), whose schema is read from its files."""

    table: str = "events"
    max_files_per_trigger: int | None = None
    path: str | None = None

    def read(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        if self.path is not None:
            path, schema = self.path, spark.read.parquet(self.path).schema
        else:
            path = table_path(sf_dir, self.table)
            schema = load_table(spark, sf_dir, self.table).schema
        reader = spark.readStream.schema(schema).format("parquet")
        if self.max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", str(self.max_files_per_trigger)
            )
        if os.path.isdir(path):
            return reader.load(path)
        # the file-stream source requires a directory: a single-file
        # table streams its directory with a filter picking the file
        return reader.option("pathGlobFilter", os.path.basename(path)).load(
            os.path.dirname(path)
        )


class MemorySink:
    """TEST adapter: drain the stream into a memory sink and return
    the materialized result. State lives on the driver — right for
    bounded oracle fixtures, a driver OOM at production
    key-cardinality (use ForeachBatchMergeSink / ParquetAppendSink
    there)."""

    def run(self, df: DataFrame, name: str, output_mode: str) -> DataFrame:
        # the sink table is named after the pipeline: a rerun replaces
        # the view, so a session keeps one sink table per pipeline,
        # while a DataFrame read from an earlier run keeps its rows
        sink = re.sub("[^a-zA-Z0-9_]", "_", name)
        spark = df.sparkSession
        run_available_now(
            spark,
            df.writeStream.outputMode(output_mode).format("memory").queryName(sink),
        )
        return spark.table(sink)


@dataclass(frozen=True)
class ParquetAppendSink:
    """Scalable append-mode sink: executors write result files under
    ``base_dir/<name>`` with a streaming checkpoint for exactly-once
    file commits. No driver-side state — output cost scales with the
    emitted rows, not the keyspace.

    ``resume=True`` keeps the existing output/checkpoint pair, so the
    run continues from the committed offsets (the production
    restart-after-crash path: only uncommitted input is processed,
    and the read-back sees each input row's output exactly once via
    the file sink's _spark_metadata commit log). The default is a
    fresh replay — fixture pipelines are rerun on identical input,
    where a surviving checkpoint would mark everything committed and
    emit nothing into the freshly-cleared output dir."""

    base_dir: str
    resume: bool = False

    def run(self, df: DataFrame, name: str, output_mode: str) -> DataFrame:
        if output_mode != "append":
            raise ValueError(
                "ParquetAppendSink is append-only; complete/update "
                "pipelines bind ForeachBatchMergeSink"
            )
        path = os.path.join(self.base_dir, name)
        if not self.resume:
            # drop output AND checkpoint together: a surviving
            # checkpoint marks the source offsets committed, so a
            # rerun would emit nothing into the freshly-cleared
            # output dir
            shutil.rmtree(path, ignore_errors=True)
            shutil.rmtree(path + "_ckpt", ignore_errors=True)
        spark = df.sparkSession
        run_available_now(
            spark,
            df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", path)
            .option("checkpointLocation", path + "_ckpt"),
        )
        # a watermarked append stream can legitimately emit ZERO rows
        # (input span shorter than one window ⇒ every window withheld
        # when the replay drains): no parquet files exist then, and a
        # bare read would raise PATH_NOT_FOUND instead of an empty result
        wrote_files = os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        )
        if not wrote_files:
            return spark.createDataFrame([], df.schema)
        return spark.read.schema(df.schema).parquet(path)


@dataclass(frozen=True)
class ForeachBatchMergeSink:
    """Scalable complete/update-mode sink: each micro-batch's updated
    aggregate rows are MERGEd by ``keys`` into a keyed target table
    (parquet ping-pong here; MERGE INTO with Delta/Iceberg — the
    dataflow is unchanged). Update-mode rows carry cumulative values,
    so last-write-wins per key reproduces the final state without
    ever materializing it on the driver."""

    base_dir: str
    keys: tuple[str, ...]

    def run(self, df: DataFrame, name: str, output_mode: str) -> DataFrame:
        """Drive ``df`` to completion, merging each micro-batch into
        the keyed target.

        CONTRACT: the stream always runs in 'update' mode and the
        merge is last-write-wins per ``keys`` — correct exactly when
        emitted rows carry CUMULATIVE values keyed by ``keys`` (i.e.
        ``keys`` equals the pipeline's grouping columns, the shape of
        every registered complete/update pipeline). A pipeline whose
        'complete' result is not a keyed cumulative aggregate, or
        whose grouping differs from the bound ``keys``, must bind a
        different sink — the guard below rejects batches whose key
        columns are not all present."""
        if output_mode not in ("complete", "update"):
            raise ValueError(
                "ForeachBatchMergeSink serves complete/update modes; "
                "append pipelines bind ParquetAppendSink"
            )
        missing = [k for k in self.keys if k not in df.columns]
        if missing:
            raise ValueError(
                f"ForeachBatchMergeSink keys {missing} absent from the "
                f"pipeline's output columns {df.columns} — the merge "
                "would not be keyed by the aggregate's grouping"
            )
        keys = list(self.keys)

        def merge(batch: DataFrame, target: DataFrame | None) -> DataFrame:
            if target is None:
                return batch
            # the batch's rows supersede the target's for their keys
            return target.join(
                batch.select(keys), on=keys, how="left_anti"
            ).unionByName(batch)

        return drain_versioned(
            df, os.path.join(self.base_dir, name), merge, df.schema
        )


@dataclass(frozen=True)
class Binding:
    """A (source, sink) pair pipelines run against."""

    source: object
    sink: object


def bind(source: object | None = None, sink: object | None = None) -> Binding:
    return Binding(source or FileSource(), sink or MemorySink())


_ACTIVE_BINDING: Binding | None = None


@contextlib.contextmanager
def use_binding(binding: Binding):
    """Run registered pipelines against a non-default binding (tests
    bind the scalable sinks; a deployment binds a landing-dir source
    to the merge/append sinks)."""
    global _ACTIVE_BINDING
    prev = _ACTIVE_BINDING
    _ACTIVE_BINDING = binding
    try:
        yield
    finally:
        _ACTIVE_BINDING = prev


def active_binding() -> Binding:
    return _ACTIVE_BINDING or bind()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table through the active source
    binding."""
    return active_binding().source.read(spark, sf_dir)


def run_sink(df: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming DataFrame to completion through the active
    sink binding and return the materialized result."""
    return active_binding().sink.run(df, name, output_mode)


@query(
    "streaming_event_counts",
    oracle=f"""
    SELECT event_type, count(*) AS n, {sum_money("value", "sum_value")}
    FROM events
    GROUP BY event_type
    """,
)
def streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming global aggregation (complete mode): after consuming
    the full input, the state equals the batch answer — checked
    against the batch oracle. value sums accumulate in DECIMAL
    (money.sum_money, identical text both dialects): a double sum is
    association-order dependent and micro-batch merge order differs
    from any batch engine's."""
    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.expr(sum_money("value", "sum_value")))
    )
    return run_sink(agg, "streaming_event_counts")


@query(
    "streaming_tumbling_1h",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation (complete mode) — same
    window semantics as the batch events_tumbling_1h."""
    agg = (
        read_events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )
    return run_sink(agg, "streaming_tumbling_1h")


@query(
    "streaming_watermarked_tumbling",
    oracle="""
    WITH w AS (
      SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
             time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT * FROM w
    WHERE window_end <= (SELECT max(ts) - INTERVAL 30 MINUTE FROM events)
    """,
)
def streaming_watermarked_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode windows: the production late-data
    pattern (state for a window is dropped once the watermark passes
    window_end + delay).

    The append-mode output is itself deterministic here, so it gets
    a FULL oracle: the source is a single parquet file, so the
    bounded replay processes one data batch (no mid-stream watermark
    can drop anything) and the flush batch emits exactly the windows
    with window_end ≤ final watermark = max(ts) − 30 min. The oracle
    is the batch aggregation with that cut applied — the tail
    windows the stream legitimately withholds."""
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )
    return run_sink(agg, "streaming_watermarked_tumbling", "append")


@query(
    "streaming_stateful_user_totals",
    oracle=f"""
    SELECT user_id, count(*) AS n_events, {sum_money("value", "sum_value")}
    FROM events
    GROUP BY user_id
    """,
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (count, sum) state maintained across
    micro-batches, update-mode emission. After consuming all input
    the final per-key state equals the batch aggregate, so the
    result (max of running totals per key) is oracle-checked.

    The state function is a local closure — see the pickle-by-value
    rule in functions/multimodal.py. State accumulates in integer
    micro-units (value × 10⁶, exact for the fixture's 2-dp values):
    float accumulation in micro-batch arrival order can differ from
    the oracle's association order by an ulp, and round(..., 2)
    turns that into a half-cent boundary flip — the same failure
    mode money.py's DECIMAL pattern exists to avoid.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_user_state(key, pdf_iter, state):
        import pandas as _pd

        n, total_micro = state.get() if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # per-VALUE integerization (a float batch-sum would
            # reintroduce the accumulation error being avoided)
            total_micro += int(pdf["value"].mul(1e6).round().astype("int64").sum())
        state.update((n, total_micro))
        yield _pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "running_sum": [total_micro / 1e6],
            }
        )

    emitted = (
        read_events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update_user_state,
            outputStructType="user_id long, n_events long, running_sum double",
            stateStructType="n long, total_micro long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = run_sink(emitted, "streaming_stateful_user_totals", "update")
    # update-mode sink holds one row per key per batch; running totals
    # are monotone, so the per-key max is the final state
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max("running_sum"), 2).alias("sum_value"),
    )


@query(
    "streaming_dedup_events",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM (SELECT DISTINCT event_id, event_type FROM events)
    GROUP BY event_type
    """,
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark keys
    state by event_id and expires it once the watermark passes —
    bounded state, the streaming form of the exact-dedup operator.
    The fixture has unique event_ids, so the deduped count equals
    the distinct oracle."""
    dedup = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    return run_sink(dedup, "streaming_dedup_events", "complete")


@query(
    "streaming_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             -- strictly greater: session_window merges at exactly
             -- the gap (see operators/timeseries.py boundary note)
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT *, sum(new_session) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 10 MINUTE AS session_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM numbered GROUP BY user_id, session_id
    )
    SELECT * FROM sessions
    WHERE session_end <= (SELECT max(ts) - INTERVAL 30 MINUTE FROM events)
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (session_window + watermark, append
    mode) — merging session state across micro-batches.

    Deterministic with a full oracle, same argument as
    streaming_watermarked_tumbling: single-file source → one data
    batch → the flush emits exactly the gap-islands sessions with
    session_end ≤ max(ts) − 30 min."""
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_sink(agg, "streaming_session_windows", "append")


@query(
    "streaming_static_join_enrich",
    oracle=f"""
    SELECT c_mktsegment, count(*) AS n_events,
           {sum_money("value", "sum_value")}
    FROM events JOIN customer ON user_id = c_custkey
    WHERE event_type = 'purchase'
    GROUP BY c_mktsegment
    """,
)
def streaming_static_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream is enriched against the
    static customer dimension (planned as a broadcast per
    micro-batch — the static side is re-resolved each batch, no
    stream state), then aggregated in complete mode. At scale the
    static side follows the same rules as any batch join: bounded
    dim → broadcast; unbounded → shuffled join per batch."""
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        purchases.join(cust, purchases.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(sum_money("value", "sum_value")),
        )
    )
    return run_sink(agg, "streaming_static_join_enrich")


def click_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """(user_id, click_id, purchase_id, delay_sec): clicks joined
    (``how``) to purchases by the same user within 30 minutes. Both
    sides carry a 1-hour watermark and the join has a two-sided time
    bound, so Spark can expire buffered state — the state store never
    grows beyond ~watermark+bound worth of events per side, which is
    what makes the join runnable on an unbounded stream."""

    def side(event_type: str, prefix: str, id_name: str) -> DataFrame:
        return (
            read_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == event_type)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(id_name),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )

    return side("click", "c", "click_id").join(
        side("purchase", "p", "purchase_id"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTE")),
        how,
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias(
            "delay_sec"
        ),
    )


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_sec
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks: clicks matched to
    purchases by the same user within 30 minutes. The bounded replay
    processes the fixture in one pass; the emitted matches equal the
    batch time-bounded join (the oracle)."""
    return run_sink(
        click_purchase_join(spark, sf_dir, "inner"),
        "streaming_stream_stream_join",
        output_mode="append",
    )


@query(
    "streaming_foreachbatch_upsert",
    oracle="""
    SELECT user_id, round(value, 2) AS last_value, ts AS last_ts
    FROM (
      SELECT user_id, value, ts,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE event_type = 'purchase'
    ) WHERE rn = 1
    """,
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch upsert sink: each micro-batch MERGEs its purchases
    into a key-versioned target table, keeping the latest purchase
    per user — the standard streaming-CDC pattern (stream → MERGE
    INTO dim) over ``drain_versioned``. Final target state is checked
    against the batch latest-event-per-user oracle."""

    def keep_latest(batch: DataFrame, target: DataFrame | None) -> DataFrame:
        # event_id rides through the merge so later batches win ties
        # deterministically, exactly like the oracle
        rows = batch.select(
            "user_id",
            F.round("value", 2).alias("last_value"),
            F.col("ts").alias("last_ts"),
            "event_id",
        )
        if target is not None:
            rows = target.unionByName(rows)
        w = Window.partitionBy("user_id").orderBy(
            F.col("last_ts").desc(), F.col("event_id").desc()
        )
        return (
            rows.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return drain_versioned(
        purchases,
        scratch_path(sf_dir, "stream_upsert_target"),
        keep_latest,
        "user_id long, last_value double, last_ts timestamp",
    ).select("user_id", "last_value", "last_ts")


@query(
    "streaming_multibatch_counts",
    oracle=f"""
    SELECT user_id % 50 AS user_bucket,
           CAST(count(*) AS BIGINT) AS n,
           {sum_money("value", "sum_value")}
    FROM events
    GROUP BY user_id % 50
    """,
)
def streaming_multibatch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation state maintained across MULTIPLE real micro-batches:
    the events table is staged as 4 parquet chunks and streamed with
    maxFilesPerTrigger=1, so the replay executes 4 batches and the
    complete-mode state must merge increments from every batch to
    equal the batch answer — the other streaming pipelines process a
    single-file source in one batch, which this query deliberately
    does not."""
    events = load_table(spark, sf_dir, "events")
    staged = stage_chunks(events, scratch_path(sf_dir, "events_chunks"), 4)
    stream = FileSource(path=staged, max_files_per_trigger=1).read(spark, sf_dir)
    agg = (
        stream.groupBy((F.col("user_id") % 50).alias("user_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr(sum_money("value", "sum_value")),
        )
    )
    return run_sink(agg, "streaming_multibatch_counts")
