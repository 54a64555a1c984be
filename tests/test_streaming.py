"""Streaming ≡ batch equivalence (SURVEY.md §7 M3 risk mitigation:
streaming has no SQL oracle, so we assert it against the batch
engine on identical input), plus source/sink binding equivalence:
the scalable production sinks must produce the same answers as the
memory test adapter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dist_map_reduce_spark import registry
from dist_map_reduce_spark.catalog import load_table, table_path
from dist_map_reduce_spark.money import sum_money
from dist_map_reduce_spark.scratch import scratch_path as _scratch
from dist_map_reduce_spark.streaming import pipelines
from tests.conftest import SF_SMOKE, canon_rows

registry.load_all()


def test_streaming_counts_equal_batch(spark):
    stream = registry.QUERIES["streaming_event_counts"](spark, SF_SMOKE).toPandas()
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .toPandas()
    )
    assert canon_rows(stream) == canon_rows(batch)


def test_streaming_watermarked_prefix_of_batch(spark):
    """Append mode emits only windows the watermark has passed — the
    emitted set must be a subset of the batch answer and cover
    everything older than max(ts) - watermark - window."""
    emitted = registry.QUERIES["streaming_watermarked_tumbling"](
        spark, SF_SMOKE
    ).toPandas()
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
        )
        .toPandas()
    )
    emitted_rows = set(canon_rows(emitted))
    batch_rows = set(canon_rows(batch))
    assert emitted_rows <= batch_rows
    assert len(emitted_rows) > 0


def test_foreachbatch_merge_sink_matches_memory(spark):
    """The same complete-mode pipeline through the scalable
    ForeachBatchMergeSink (per-batch keyed MERGE, no driver state)
    must equal the memory-sink answer — the production sink is a
    code path, not documentation. maxFilesPerTrigger=1 over the
    4-chunk staging would be ideal, but the fixture is one file;
    multi-batch merge is covered by streaming_multibatch_counts."""
    fn = registry.QUERIES["streaming_event_counts"]
    via_memory = fn(spark, SF_SMOKE).toPandas()
    merge = pipelines.ForeachBatchMergeSink(
        base_dir=_scratch(SF_SMOKE, "merge_sink"), keys=("event_type",)
    )
    with pipelines.use_binding(pipelines.bind(sink=merge)):
        via_merge = fn(spark, SF_SMOKE).toPandas()
    assert canon_rows(via_merge) == canon_rows(via_memory)


def test_parquet_append_sink_matches_memory(spark):
    """The same append-mode (watermarked) pipeline through the
    scalable ParquetAppendSink (executor-written files + checkpoint)
    must emit exactly the memory-sink rows."""
    fn = registry.QUERIES["streaming_watermarked_tumbling"]
    via_memory = fn(spark, SF_SMOKE).toPandas()
    append = pipelines.ParquetAppendSink(base_dir=_scratch(SF_SMOKE, "append_sink"))
    with pipelines.use_binding(pipelines.bind(sink=append)):
        via_files = fn(spark, SF_SMOKE).toPandas()
    assert canon_rows(via_files) == canon_rows(via_memory)
    assert len(via_files) > 0


def test_update_mode_stateful_through_merge_sink(spark):
    """applyInPandasWithState (update mode) through the keyed merge
    sink: last-write-wins per user reproduces the final state."""
    fn = registry.QUERIES["streaming_stateful_user_totals"]
    via_memory = fn(spark, SF_SMOKE).toPandas()
    merge = pipelines.ForeachBatchMergeSink(
        base_dir=_scratch(SF_SMOKE, "merge_sink_state"), keys=("user_id",)
    )
    with pipelines.use_binding(pipelines.bind(sink=merge)):
        via_merge = fn(spark, SF_SMOKE).toPandas()
    assert canon_rows(via_merge) == canon_rows(via_memory)


def test_merge_sink_across_real_microbatches(spark):
    """ForeachBatchMergeSink's last-write-wins-per-key claim only
    means something across MULTIPLE batches: stage events as 4 parquet
    chunks, stream with maxFilesPerTrigger=1 (4 real micro-batches,
    update mode emits re-updated keys each batch), and assert the
    merged target equals the batch aggregate."""
    staged = pipelines.stage_chunks(
        load_table(spark, SF_SMOKE, "events"),
        _scratch(SF_SMOKE, "events_chunks_mergetest"),
        4,
    )
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(staged)
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"), F.expr(sum_money("value", "sum_value"))
    )
    merge = pipelines.ForeachBatchMergeSink(
        base_dir=_scratch(SF_SMOKE, "merge_sink_multibatch"),
        keys=("event_type",),
    )
    merged = merge.run(agg, "multibatch_counts", "update").toPandas()
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.expr(sum_money("value", "sum_value")))
        .toPandas()
    )
    assert canon_rows(merged) == canon_rows(batch)


def test_streaming_sessions_subset_of_batch(spark):
    emitted = registry.QUERIES["streaming_session_windows"](spark, SF_SMOKE).toPandas()
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .toPandas()
    )
    assert set(canon_rows(emitted)) <= set(canon_rows(batch))
    assert len(emitted) > 0


def test_parquet_append_sink_zero_emission_returns_empty(spark):
    """A watermarked append stream whose input spans less than one
    window emits NOTHING at availableNow (every window withheld by
    the watermark): the sink must return an empty DataFrame with the
    pipeline's schema, not raise PATH_NOT_FOUND on the unwritten
    output dir."""
    import os

    staged = _scratch(SF_SMOKE, "events_one_window")
    if not os.path.isdir(staged):
        ev = load_table(spark, SF_SMOKE, "events")
        lo = ev.agg(F.min("ts")).collect()[0][0]
        ev.filter(
            F.col("ts") < F.lit(lo) + F.expr("INTERVAL 10 MINUTES")
        ).write.mode("overwrite").parquet(staged)
    schema = spark.read.parquet(staged).schema
    stream = spark.readStream.schema(schema).format("parquet").load(staged)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    append = pipelines.ParquetAppendSink(
        base_dir=_scratch(SF_SMOKE, "append_sink_empty")
    )
    out = append.run(agg, "zero_emission", "append")
    assert out.count() == 0
    assert out.columns == ["window_start", "event_type", "n"]


def test_merge_sink_rejects_mismatched_keys(spark):
    """The merge sink's last-write-wins contract requires its keys to
    be the pipeline's grouping columns — binding it with keys absent
    from the output must fail loudly, not silently mis-merge."""
    import pytest

    merge = pipelines.ForeachBatchMergeSink(
        base_dir=_scratch(SF_SMOKE, "merge_sink_badkeys"),
        keys=("not_a_column",),
    )
    path = table_path(SF_SMOKE, "events")
    agg = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .format("parquet")
        .load(path)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    with pytest.raises(ValueError, match="not_a_column"):
        merge.run(agg, "badkeys", "update")


def test_streaming_wordcount_equals_batch(spark):
    """The reference's flagship pipeline run as a stream must land on
    the batch answer once the bounded replay drains (same tokenizer
    expression on both sides)."""
    from dist_map_reduce_spark.operators.wordcount import word_count
    from dist_map_reduce_spark.catalog import load_table
    from dist_map_reduce_spark import registry

    stream = {
        (r.word, r.cnt)
        for r in registry.QUERIES["streaming_wordcount_docs"](
            spark, SF_SMOKE
        ).collect()
    }
    batch = {
        (r.word, r.cnt)
        for r in word_count(load_table(spark, SF_SMOKE, "documents")).collect()
    }
    assert stream == batch and stream


_PARTS_KEY = "spark.sql.shuffle.partitions"


def _bytes(path: str) -> int:
    import os

    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _small_and_big_replays(spark, tmp_path, monkeypatch) -> tuple[str, str]:
    """Two events replay dirs of different sizes, with the bytes per
    state partition shrunk so the larger dir sizes near the cap and
    the smaller one at the floor."""
    events = load_table(spark, SF_SMOKE, "events")
    small = str(tmp_path / "small")
    events.limit(20).coalesce(1).write.parquet(small)
    big = pipelines.stage_chunks(events, str(tmp_path / "big"), 2)
    cores = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(pipelines, "_STATE_PART_BYTES", _bytes(big) // (3 * cores))
    assert pipelines.state_partitions(spark, _bytes(small)) < (
        pipelines.state_partitions(spark, _bytes(big))
    )
    return small, big


def _parts_seen_by_batches(spark, stream, ckpt) -> set:
    """Drain ``stream`` through run_available_now and return the
    shuffle-partition values its micro-batches saw."""
    seen = set()

    def record(batch, _batch_id):
        seen.add(int(batch.sparkSession.conf.get(_PARTS_KEY)))

    pipelines.run_available_now(
        spark,
        stream.writeStream.foreachBatch(record).option(
            "checkpointLocation", str(ckpt)
        ),
    )
    return seen


def test_drain_sizes_stream_by_its_larger_file_source(
    spark, tmp_path, monkeypatch
):
    """A stream over two file sources is sized by the larger one, from
    the stream's own plan, and the session value is back after."""
    small, big = _small_and_big_replays(spark, tmp_path, monkeypatch)
    prev = spark.conf.get(_PARTS_KEY)
    stream = (
        pipelines.FileSource(path=small)
        .read(spark, SF_SMOKE)
        .unionByName(pipelines.FileSource(path=big).read(spark, SF_SMOKE))
    )
    seen = _parts_seen_by_batches(spark, stream, tmp_path / "ckpt")
    assert seen == {pipelines.state_partitions(spark, _bytes(big))}
    assert spark.conf.get(_PARTS_KEY) == prev


def test_rejected_sink_leaves_nothing_to_size_the_next_stream(
    spark, tmp_path, monkeypatch
):
    """A FileSource stream whose sink was rejected before it started
    does not size the next stream that drains: that stream is sized
    by its own source."""
    small, big = _small_and_big_replays(spark, tmp_path, monkeypatch)
    merge = pipelines.ForeachBatchMergeSink(
        base_dir=str(tmp_path / "rejected"), keys=("not_a_column",)
    )
    rejected = (
        pipelines.FileSource(path=big)
        .read(spark, SF_SMOKE)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    with pytest.raises(ValueError, match="not_a_column"):
        merge.run(rejected, "rejected", "update")
    stream = (
        spark.readStream.schema(spark.read.parquet(small).schema)
        .format("parquet")
        .load(small)
    )
    seen = _parts_seen_by_batches(spark, stream, tmp_path / "ckpt")
    assert seen == {pipelines.state_partitions(spark, _bytes(small))}


def test_multibatch_counts_restage_after_source_rewrite(spark, tmp_path):
    """streaming_multibatch_counts stages its replay chunks on every
    call: once the fixture's events file is rewritten in place, the
    query must aggregate the NEW file, not replay chunks staged from
    the old one."""
    import shutil

    import pyarrow.parquet as pq

    fixture = tmp_path / "sf_restage"
    fixture.mkdir()
    events = fixture / "events.parquet"
    shutil.copy(table_path(SF_SMOKE, "events"), events)
    fn = registry.QUERIES["streaming_multibatch_counts"]
    try:
        fn(spark, str(fixture)).collect()
        full = pq.read_table(events)
        pq.write_table(full.slice(0, full.num_rows // 2), events)
        restaged = fn(spark, str(fixture)).toPandas()
        batch = (
            load_table(spark, str(fixture), "events")
            .groupBy((F.col("user_id") % 50).alias("user_bucket"))
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.expr(sum_money("value", "sum_value")),
            )
            .toPandas()
        )
        assert canon_rows(restaged) == canon_rows(batch)
    finally:
        shutil.rmtree(_scratch(str(fixture), ""), ignore_errors=True)


_CKPT_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _manager_seen_by_batches(spark, ckpt) -> set:
    """Drain the events replay through run_available_now and return
    the checkpoint-manager values its micro-batches saw."""
    seen = set()

    def record(batch, _batch_id):
        seen.add(batch.sparkSession.conf.get(_CKPT_KEY, None))

    pipelines.run_available_now(
        spark,
        pipelines.FileSource()
        .read(spark, SF_SMOKE)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(ckpt)),
    )
    return seen


def test_local_fs_decides_the_checkpoint_manager_pin():
    assert pipelines.is_local_fs("file:///")
    assert not pipelines.is_local_fs("hdfs://nn:8020")


def test_drain_pins_filesystem_checkpoint_manager_on_local_root(spark, tmp_path):
    """On a file: default filesystem the stream runs with the
    FileSystem checkpoint manager (no forked readlink per
    link-status call), and the session key is unset again after."""
    assert spark.conf.get(_CKPT_KEY, None) is None
    seen = _manager_seen_by_batches(spark, tmp_path / "ckpt")
    assert seen == {pipelines._FS_CKPT_MANAGER}
    assert spark.conf.get(_CKPT_KEY, None) is None


def test_drain_keeps_caller_set_checkpoint_manager(spark, tmp_path):
    spark.conf.set(_CKPT_KEY, _FC_MANAGER)
    try:
        seen = _manager_seen_by_batches(spark, tmp_path / "ckpt")
        assert seen == {_FC_MANAGER}
        assert spark.conf.get(_CKPT_KEY, None) == _FC_MANAGER
    finally:
        spark.conf.unset(_CKPT_KEY)


def test_drain_restores_checkpoint_manager_when_start_raises(spark):
    class FailingWriter:
        _df = pipelines.FileSource().read(spark, SF_SMOKE)
        pinned = None

        def trigger(self, **_):
            return self

        def start(self):
            FailingWriter.pinned = spark.conf.get(_CKPT_KEY, None)
            raise RuntimeError("start failed")

    with pytest.raises(RuntimeError, match="start failed"):
        pipelines.run_available_now(spark, FailingWriter())
    assert FailingWriter.pinned == pipelines._FS_CKPT_MANAGER
    assert spark.conf.get(_CKPT_KEY, None) is None


def test_state_deltas_keep_hadoop_checksum_only(spark, tmp_path):
    """On a local root each state delta carries Hadoop's hidden
    ``.<v>.delta.crc`` and not Spark's second ``<v>.delta.crc``; a
    flipped byte in a committed delta still fails the next run."""
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    rows = spark.range(40).withColumn("k", F.col("id") % 4)
    rows.write.parquet(str(src))

    def drain():
        stream = spark.readStream.schema(rows.schema).parquet(str(src))
        pipelines.run_available_now(
            spark,
            stream.groupBy("k").count().writeStream.outputMode("update")
            .foreachBatch(lambda batch, _id: batch.collect())
            .option("checkpointLocation", str(ckpt)),
        )

    drain()
    deltas = sorted((ckpt / "state").rglob("1.delta"))
    assert deltas
    for delta in deltas:
        assert (delta.parent / ".1.delta.crc").exists()
        assert not (delta.parent / "1.delta.crc").exists()
        data = bytearray(delta.read_bytes())
        data[len(data) // 2] ^= 0xFF
        delta.write_bytes(bytes(data))
    rows.write.mode("append").parquet(str(src))
    with pytest.raises(Exception, match="(?i)checksum"):
        drain()
