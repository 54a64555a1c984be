"""Incremental corpus ingestion with dedup — the production shape.

At 100 TB nobody re-runs batch dedup over the whole corpus for every
delivery of new documents. The production pattern is a streaming
ingestion job that, per micro-batch of arrivals:

  1. dedups WITHIN the batch (content-hash groupBy, deterministic
     keeper);
  2. dedups ACROSS batches against everything already accepted — by
     anti-joining the batch against the sink table's own fingerprint
     column, so the "state" is the sink itself (no unbounded
     streaming-agg state, restarts are free);
  3. flags NEAR-duplicates of everything ALREADY INGESTED by joining
     the arrivals' MinHash-LSH band keys against a band-index table
     seeded from the corpus and GROWN from the sink itself — before
     each flag join, an idempotent catch-up appends the bands of
     accepted-but-not-yet-indexed sink rows — so a wave-3 arrival
     that nearly duplicates a wave-1 acceptance is flagged, not just
     near-dups of the initial corpus (batch-side ops inside
     ``foreachBatch``);
  4. appends the surviving rows (text + flags) to the target table;
     their band keys reach the index through the NEXT catch-up
     (or the post-stream final one).

All four steps are plain batch DataFrame ops inside ``foreachBatch``
— no streaming aggregation modes, no driver-side state, and every
join is an equi-join.

Row-wise banding: signatures historically came from a per-doc
groupBy MIN over exploded shingles — one shuffle whose only purpose
was reassembling per-doc state the row already had. For per-arrival
banding that shuffle is pure overhead, so ``minhash_bands_rowwise``
computes the identical band keys with ZERO shuffles via
``dedup_common.minhash_sig_rowwise`` (the shingle set stays an array
column, every minhash an ``array_min`` over a ``transform``). The
batch pipeline (functions/dedup.py:_banded_wide) now uses the same
row-wise signature stage; the grouped arm survives only as the
independent test reference (tests/test_ingest_dedup.py pins the two
bit-identical).

Near-dup flag semantics: an arrival sharing ANY (band_id, band_key)
with a previously-ingested document — the initial corpus or a keeper
from an EARLIER wave — is flagged ``corpus_neardup`` (same S-curve as
``minhash_band_candidates``: b=4, r=4 → s* ≈ 0.71). Two keepers in
the SAME wave never flag each other: each batch joins against the
index state as of the previous delivery, which is the only
well-defined "before" inside a single append. The index keeps hot
band keys — a semi-join flag has no quadratic pair expansion, and a
document matching corpus boilerplate IS a near-dup of the corpus
(the MAX_KEY_DOCS cap exists to bound PAIR generation, not
membership tests).

The band index lives as a parquet table beside the sink — the same
sink-as-state discipline as the fingerprint anti-join. Index
maintenance is DERIVED FROM THE SINK, not from the in-flight batch
(r11, the hardening the r10 verdict prescribed): before each flag
join, ``_index_catchup`` anti-joins the sink against a small
indexed-docs marker table and appends the bands of whatever sink
rows the index has not seen yet — in the normal path exactly the
previous delivery's keepers, so the flag join still sees the
strictly-earlier-waves state the oracle assumes. Appends stay
delivery-distinct but are NOT anti-joined against the index (a band
re-introduced by a later wave is a harmless duplicate for a
membership semi-join); the offline distinct-rewrite compaction
(``compact_band_index``, certified by the
``streaming_ingest_index_compaction`` query) reclaims the storage.

Restart posture: the SINK is exactly-once under retry (a replayed
batch's fingerprints anti-join against its own prior append and drop
out), and the index is now IDEMPOTENT BY CONSTRUCTION — there is no
append-after-sink-write step left to lose. A crash anywhere leaves
sink rows that the marker has not recorded; the next delivery's (or
the post-stream final) catch-up re-derives their bands from the sink
and heals, converging to the same final state as a crash-free run
(tests/test_ingest_dedup.py::test_ingest_crash_replay_selfheals
replays a killed delivery and compares final states). Worst case a
band append lands twice (crash between the band append and the
marker append) — duplicates, again compaction fodder, never a
semantics change.

Scale posture of the catch-up: the anti-join is sink × marker on
doc_id with only (doc_id, text) read from the sink — column-pruned,
and at 100 TB the sink would be partitioned by ingest date so the
scan prunes to the recent partitions that can still be unindexed;
the pending set itself is batch-sized (the previous delivery) and is
snapshotted to a staging parquet before the two appends, cutting its
lineage from both tables being appended to (the parquet re-listing
trap — see _accept_batch).
"""

from __future__ import annotations

import atexit
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.functions.dedup_common import (
    _minhash_bands_sql,
    band_md5,
    minhash_sig_rowwise,
    N_BANDS,
)
from dist_map_reduce_spark.scratch import scratch_path
from dist_map_reduce_spark.streaming.pipelines import run_available_now

N_INGEST_BATCHES = 3  # arrival micro-batches in the replay harness
_N_SPLIT = N_INGEST_BATCHES + 1

# The CTE prefix every ingest oracle starts with: the md5-bucket
# split (bucket 0 = corpus, 1..3 = arrival waves; mirrors
# split_corpus_arrivals), the earliest-wave min-doc_id keeper of each
# content fingerprint, and every document's minhash bands.
ORACLE_CTES = f"""
    WITH d AS (
      SELECT doc_id, text,
             ('0x' || substring(md5('ingest:' || doc_id::VARCHAR), 1, 8))
               ::BIGINT % {_N_SPLIT} AS bucket
      FROM documents
    ),
    arr AS (
      SELECT doc_id, text, bucket, md5(text) AS fp
      FROM d WHERE bucket > 0
    ),
    first_wave AS (SELECT fp, min(bucket) AS w FROM arr GROUP BY 1),
    keeper AS (
      SELECT arr.fp, min(arr.doc_id) AS doc_id, fw.w
      FROM arr JOIN first_wave fw ON arr.fp = fw.fp AND arr.bucket = fw.w
      GROUP BY arr.fp, fw.w
    ),
    all_bands AS ({_minhash_bands_sql()}),"""

REPLAY_MARKER = "_REPLAY_DONE"


def _replay_fingerprint(sf_dir: str, n_batches: int) -> str:
    """Content fingerprint of everything that determines the replay's
    output: the parameters, the SOURCE of this module, dedup_common
    (band keys) and catalog (table resolution), plus a cheap stat
    stamp of the documents fixture itself (name/size/mtime of each
    parquet file — ADVICE r12: a regenerated fixture or a catalog
    change must trigger a rebuild, not a confusing downstream hash
    mismatch against a silently stale artifact). A code or data
    change invalidates the shared artifact automatically — no manual
    version bump to forget."""
    import hashlib

    from dist_map_reduce_spark import catalog
    from dist_map_reduce_spark.functions import dedup_common

    h = hashlib.md5()
    for mod_file in (__file__, dedup_common.__file__, catalog.__file__):
        with open(mod_file, "rb") as f:
            h.update(f.read())
    doc = catalog.table_path(sf_dir, "documents")
    # RECURSIVE walk (ADVICE r13): a nested/partitioned parquet dir
    # rewritten in place changes only grandchild files — a top-level
    # listdir stamp would miss that and silently reuse a stale replay
    # artifact, the exact confusion this stamp exists to prevent.
    if os.path.isdir(doc):
        paths = sorted(
            os.path.join(root, fn)
            for root, _dirs, files in os.walk(doc)
            for fn in files
        )
    else:
        paths = [doc]
    for p in paths:
        st = os.stat(p)
        rel = os.path.relpath(p, os.path.dirname(doc))
        h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    return f"n_batches={n_batches} src={h.hexdigest()}"


def _sweep_dead_leftovers(work: str) -> None:
    """Best-effort cleanup of sibling ``<work>.build-<pid>`` /
    ``<work>.stale-<pid>`` dirs whose owning pid is no longer alive
    (ADVICE r12: a crashed builder, or loser branch 2 below, leaves a
    full private replay copy in scratch that nothing else deletes).
    Live pids are left alone — a concurrent builder may still be
    replaying into (or reading from) its private dir."""
    parent, base = os.path.split(work)
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for d in entries:
        for tag in (".build-", ".stale-"):
            prefix = base + tag
            if d.startswith(prefix):
                try:
                    pid = int(d[len(prefix):])
                except ValueError:
                    continue
                if pid == os.getpid():
                    continue
                try:
                    os.kill(pid, 0)
                except ProcessLookupError:
                    shutil.rmtree(
                        os.path.join(parent, d), ignore_errors=True
                    )
                except OSError:
                    pass  # e.g. EPERM: pid exists under another uid


def ensure_shared_replay(
    spark: SparkSession, sf_dir: str, n_batches: int = N_INGEST_BATCHES
) -> str:
    """Run (or reuse) the 3-wave ingestion replay in a SHARED scratch
    dir and return its path. The replay output is a pure,
    deterministic function of (fixture dir, n_batches, code) — md5
    bucketing, min-doc_id keepers, no RNG, no clock — so both
    streaming queries (``streaming_ingest_dedup`` certifies the sink,
    ``streaming_ingest_index_compaction`` certifies index
    maintenance) and a bench's repeat runs can share ONE replay
    instead of each paying the full foreachBatch harness (VERDICT r11
    #6: the compaction query's 13 s was ~95% replay re-run).

    Reuse is gated on a completion marker whose content fingerprints
    the replay inputs (see ``_replay_fingerprint``): a crash mid-
    replay leaves no marker (next caller rebuilds from scratch), and
    a code change to the pipeline or the band math invalidates the
    artifact automatically. Callers must treat the returned dir as
    READ-ONLY — mutating consumers (the compaction query) copy what
    they mutate.

    Concurrency (r12 self-review): two processes building into one
    shared dir could interleave their streaming state and then
    marker-certify the corruption durably. So each builder replays
    into its OWN pid-suffixed build dir (marker written inside,
    atomically) and publishes by renaming the completed dir into
    place; os.rename refuses to clobber, so exactly one publisher
    wins — the loser validates the winner's marker and reuses it,
    falling back to its own private build dir (correct, just
    unshared) if the published artifact doesn't match its
    fingerprint. Dead builders' leftover ``.build-*``/``.stale-*``
    dirs are swept on entry (live pids untouched).

    Known limit (ADVICE r12, accepted under the documented
    one-process-per-scratch-version assumption): processes running
    DIFFERENT code versions invalidate each other — the stale-sweep
    below rm's a published artifact whose fingerprint mismatches the
    caller's, so a concurrent OLD-code process holding an unexecuted
    lazy DataFrame over ``work/accepted`` can hit parquet re-listing
    FileNotFound when a NEW-code process republishes. Same-version
    concurrency is race-safe (tested); cross-version concurrency is
    not a supported deployment."""
    work = scratch_path(sf_dir, "ingest_replay_shared")
    marker = os.path.join(work, REPLAY_MARKER)
    fp = _replay_fingerprint(sf_dir, n_batches)
    _sweep_dead_leftovers(work)

    def _published_ok() -> bool:
        try:
            with open(marker) as f:
                return f.read() == fp
        except OSError:
            return False

    if _published_ok():
        return work
    build = f"{work}.build-{os.getpid()}"
    shutil.rmtree(build, ignore_errors=True)
    run_ingest_dedup(spark, sf_dir, build, n_batches)
    tmp = os.path.join(build, REPLAY_MARKER + ".tmp")
    with open(tmp, "w") as f:
        f.write(fp)
    os.replace(tmp, os.path.join(build, REPLAY_MARKER))
    # publish: never clobber a live dir — a stale (fingerprint-
    # mismatched) artifact is swept aside first, then the rename
    # either wins or loses to a concurrent publisher
    if os.path.isdir(work) and not _published_ok():
        stale = f"{work}.stale-{os.getpid()}"
        try:
            os.rename(work, stale)
        except OSError:
            pass  # another process already moved/replaced it
        shutil.rmtree(stale, ignore_errors=True)
    try:
        os.rename(build, work)
        return work
    except OSError:
        # lost the publish race: reuse the winner's artifact if it
        # matches, else fall back to this process's private build
        if _published_ok():
            shutil.rmtree(build, ignore_errors=True)
            return work
        return build


def private_index_copy(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Run (or reuse) the shared replay and copy its band index into
    a private work dir; return that dir (the copy is its
    ``band_index``). The compaction queries mutate the index, and the
    shared artifact is read-only by contract — copying also makes
    every call compact the pristine post-replay index, not a previous
    compaction's output.

    The work dir is pid-suffixed (ADVICE r13): concurrent
    same-version processes must not rmtree each other's copy
    mid-read. Normal exits remove their own copy at exit (the
    caller's plan is lazy, so deletion must wait until the process is
    done reading); a crashed process's ``.build-<pid>`` copy is
    reaped by ``_sweep_dead_leftovers`` on the next call."""
    shared = ensure_shared_replay(spark, sf_dir)
    base = scratch_path(sf_dir, name)
    _sweep_dead_leftovers(base)
    shutil.rmtree(base, ignore_errors=True)  # pre-r14 un-suffixed dir
    work = f"{base}.build-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    shutil.copytree(
        os.path.join(shared, "band_index"), os.path.join(work, "band_index")
    )
    return work


def minhash_bands_rowwise(docs: DataFrame) -> DataFrame:
    """(doc_id, bands: array<string>) with each element
    ``band_id:band_key`` — the EXACT band keys of
    functions/dedup.py:minhash_bands, computed without any shuffle
    (``dedup_common.minhash_sig_rowwise`` signature, band keys the
    md5 of the ':'-joined minhash decimals). Everything stays
    row-local, so the plan is a single projection over the scan."""
    sig = minhash_sig_rowwise(docs)
    band_cols = [
        F.concat(F.lit(f"{b}:"), band_md5(b)) for b in range(N_BANDS)
    ]
    return sig.select("doc_id", F.array(*band_cols).alias("bands"))


def corpus_band_index(corpus: DataFrame) -> DataFrame:
    """Distinct ``band`` keys (band_id:band_key) of the existing
    corpus — the SEED of the ingestion near-dup index.
    ``run_ingest_dedup`` materializes this once to the band-index
    table, then every accepted delivery appends its keepers' bands
    (``_flag_and_append``), so the join side grows with the corpus
    exactly as a production index would.

    ``explode_outer``, not ``explode``: under a FOREIGN session (the
    driver's — session.py's InferFiltersFromGenerate exclusion does
    not protect it) the optimizer synthesizes an IsNotNull/size
    filter from the plain Generate with the whole row-wise signature
    expression inlined (no CSE inside lambdas, see
    tests/test_winnow_explode_plan.py), re-evaluating the 16
    minhashes per row: measured 15 s vs 1.1 s at sf0.1 in a plain
    local[32] session (29 vs 9 md5 nodes in the plan). In the
    engine-owned session the excluded rule makes the two variants
    plan-identical. The bands array is never null/empty, so the
    outer variant is semantically identical."""
    return (
        minhash_bands_rowwise(corpus)
        .select(F.explode_outer("bands").alias("band"))
        .distinct()
    )


def _has_parquet(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def _index_catchup(
    spark: SparkSession, target: str, index_dir: str, marker_dir: str,
    stage_dir: str,
) -> None:
    """Idempotent band-index maintenance, derived from the sink: the
    pending set = sink rows whose doc_id the indexed-docs marker has
    not recorded (anti-join — in the normal path exactly the previous
    delivery's keepers, after a crash whatever the crash left
    behind). Pending rows are snapshotted to ``stage_dir`` first so
    the two appends below never execute a plan whose lineage reads
    the tables being appended to (parquet scans re-list at execution
    — the _accept_batch staging note); then their delivery-distinct
    bands append to the index and their doc_ids to the marker, in
    that order: a crash in between re-pends the rows and the band
    re-append is a harmless membership duplicate (compaction
    fodder), never a flag change."""
    if not _has_parquet(target):
        return  # nothing accepted yet — nothing to index
    pending = spark.read.parquet(target).select("doc_id", "text")
    if _has_parquet(marker_dir):
        done = spark.read.parquet(marker_dir).select("doc_id")
        pending = pending.join(done, "doc_id", "left_anti")
    pending.write.mode("overwrite").parquet(stage_dir)
    p = spark.read.parquet(stage_dir)
    (
        minhash_bands_rowwise(p)
        .select(F.explode_outer("bands").alias("band"))
        .distinct()
        .write.mode("append")
        .parquet(index_dir)
    )
    p.select("doc_id").write.mode("append").parquet(marker_dir)


def compact_band_index(spark: SparkSession, index_dir: str) -> None:
    """Offline compaction of the append-only band index: rewrite as
    the DISTINCT band set, staged then swapped. Membership semantics
    are unchanged by construction (distinct of a set-membership
    table); what it reclaims is the duplicate rows that append-only
    maintenance tolerates — bands re-introduced by later waves and
    crash-replayed appends.

    Swap is park-aside, not rm+rename (ADVICE r11): the old rm-first
    swap had a crash window that PERMANENTLY lost the index — the
    indexed-docs marker still records every doc_id, so the catch-up's
    pending set is empty and the corpus-seed bands are not derivable
    from the sink at all. Now the live index is renamed aside, the
    stage renamed in, THEN the old copy deleted; a crash between the
    two renames leaves the live index parked at ``__old``, which the
    next compaction restores before doing anything else. A production
    deployment writes a new versioned location and flips a manifest
    pointer instead (the parquet dir itself has no atomic swap).
    Certified end-to-end by ``streaming_ingest_index_compaction``
    (streaming/ingest_index_compaction.py)."""
    stage = index_dir.rstrip("/") + "__compact"
    old = index_dir.rstrip("/") + "__old"
    # recover from a previous interrupted swap: the rename pair below
    # can only die with the live index parked at __old
    if not os.path.isdir(index_dir) and os.path.isdir(old):
        os.rename(old, index_dir)
    spark.read.parquet(index_dir).distinct().write.mode(
        "overwrite"
    ).parquet(stage)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(index_dir, old)
    os.rename(stage, index_dir)
    shutil.rmtree(old)


def _accept_batch(
    batch: DataFrame, index_dir: str, target: str, stage_dir: str,
    marker_dir: str, catchup_stage: str,
) -> None:
    """The foreachBatch body: in-batch dedup → cross-batch anti-join
    against the sink's fingerprints → SNAPSHOT the keepers to a
    staging parquet → index catch-up (brings the band index to the
    strictly-earlier-waves state, healing any crash debt) → near-dup
    flag against that index state → append rows (incl. text, so the
    index stays derivable from the sink alone) to the sink.
    Deterministic keeper: min doc_id within the batch (batches
    replay in a deterministic order, so the accepted set is too).

    The staging write is load-bearing, not a cache: the keeper
    lineage READS the sink (the anti-join), and this batch APPENDS to
    the sink before the index append runs — parquet scans re-list
    files at execution, so any post-append recomputation of that
    lineage would see the batch's own fingerprints in the sink and
    silently empty itself (observed: waves 2-3 appended 0 bands when
    the keepers were merely .persist()ed — cache eviction or a
    second job re-listing is enough). Writing the keepers once and
    re-reading the snapshot cuts every downstream plan's lineage from
    the tables being appended to; correctness no longer depends on
    cache residency."""
    spark = batch.sparkSession
    kept = (
        batch.withColumn("fp", F.md5(F.col("text").cast("binary")))
        .groupBy("fp")
        .agg(F.min(F.struct("doc_id", "text")).alias("s"))
        .select("fp", F.col("s.doc_id").alias("doc_id"), F.col("s.text").alias("text"))
    )
    if _has_parquet(target):
        seen = spark.read.parquet(target).select("fp")
        kept = kept.join(seen, "fp", "left_anti")
    kept.write.mode("overwrite").parquet(stage_dir)
    _flag_and_append(
        spark.read.parquet(stage_dir), index_dir, target, marker_dir,
        catchup_stage,
    )


def _flag_and_append(
    kept: DataFrame, index_dir: str, target: str, marker_dir: str,
    catchup_stage: str,
) -> None:
    """Index catch-up, then near-dup flag + sink append for one
    micro-batch's keepers. The catch-up (``_index_catchup``) brings
    the band index up to everything accepted BEFORE this batch — in
    the normal path it appends the previous delivery's bands, after
    a crash whatever got lost — so the flag join below sees exactly
    the strictly-earlier-waves state (same-wave keepers never flag
    each other, and LATER waves flag near-dups of THIS delivery once
    their own catch-up runs: VERDICT r9 #2, the growing index).
    ``kept`` must be lineage-isolated from both ``target`` and
    ``index_dir`` (see _accept_batch's staging note)."""
    spark = kept.sparkSession
    _index_catchup(spark, target, index_dir, marker_dir, catchup_stage)
    # explode_outer for the same no-filter-inlining reason as
    # corpus_band_index (bands is never null/empty); the bands feed
    # only the flag join now (the index append is catch-up-derived),
    # so no persist is needed
    kept_bands = minhash_bands_rowwise(kept).select(
        "doc_id", F.explode_outer("bands").alias("band")
    )
    band_index = spark.read.parquet(index_dir)
    hits = (
        # No explicit broadcast on the index join: the band
        # index is corpus-sized at 100 TB (AQE broadcasts it
        # while it fits, and falls back to a shuffle equi-join
        # when it doesn't)
        kept_bands.join(band_index, "band")
        .select("doc_id")
        .distinct()
        .withColumn("corpus_neardup", F.lit(True))
    )
    out = (
        # hits ⊆ this micro-batch's keepers, so it is bounded by
        # the batch size the harness itself controls — broadcast,
        # saving a batch shuffle per trigger
        kept.join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id",
            "fp",
            "text",
            F.coalesce("corpus_neardup", F.lit(False)).alias(
                "corpus_neardup"
            ),
        )
    )
    # the sink carries text so the band index stays derivable from
    # the sink alone (the whole point of the catch-up design); the
    # registered query projects it away to keep the stamped schema
    out.write.mode("append").parquet(target)


def split_corpus_arrivals(
    docs: DataFrame, n_batches: int = N_INGEST_BATCHES
) -> tuple[DataFrame, DataFrame]:
    """Deterministic split of the documents table into the EXISTING
    corpus (bucket 0) and ``n_batches`` arrival waves (buckets
    1..n) — md5 bucketing, the dataset_split discipline (no RNG)."""
    b = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ingest:"), "doc_id")), 1, 8), 16, 10)
        .cast("bigint")
        % (n_batches + 1)
    ).alias("bucket")
    with_b = docs.select("doc_id", "text", b)
    corpus = with_b.filter(F.col("bucket") == 0).drop("bucket")
    arrivals = with_b.filter(F.col("bucket") > 0)
    return corpus, arrivals


def run_ingest_dedup(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_batches: int = N_INGEST_BATCHES,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Replay harness: stage each arrival wave as one parquet file,
    stream them with ``maxFilesPerTrigger=1`` (one REAL micro-batch
    per wave, the streaming_multibatch_counts discipline), run the
    foreachBatch ingestion against the growing band-index table, and
    return the final accepted table (doc_id, fp, corpus_neardup).
    ``docs`` overrides the fixture table (crafted-duplicate tests).

    Wave ordering: Spark's file stream source orders micro-batches
    by file modification time, and parquet writers stamp whatever
    the filesystem clock says — two waves written within one mtime
    granule would tie and break the earliest-wave-wins keeper
    determinism the oracle assumes (ADVICE r8). So each staged wave
    file gets an EXPLICIT strictly-increasing mtime (base + 10 s per
    wave) plus a lexicographic ``wave-i.parquet`` name for
    debuggability — replay order is pinned by construction, not by
    write-latency luck."""
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    corpus, arrivals = split_corpus_arrivals(docs, n_batches)
    in_dir = os.path.join(work_dir, "arrivals")
    target = os.path.join(work_dir, "accepted")
    index_dir = os.path.join(work_dir, "band_index")
    batch_stage = os.path.join(work_dir, "batch_stage")
    marker_dir = os.path.join(work_dir, "indexed_docs")
    catchup_stage = os.path.join(work_dir, "catchup_stage")
    ckpt = os.path.join(work_dir, "ckpt")
    # one md5-bucket scan feeds all wave writes (per-harness-run
    # lifetime released in the finally — CLAUDE.md's sanctioned
    # harness-scoped bare-persist exception)
    arrivals = arrivals.persist()
    try:
        os.makedirs(in_dir, exist_ok=True)
        base = time.time()
        for i in range(1, n_batches + 1):
            stage = os.path.join(work_dir, f"stage_{i}")
            (
                arrivals.filter(F.col("bucket") == i)
                .drop("bucket")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            [part] = [
                f for f in os.listdir(stage) if f.endswith(".parquet")
            ]
            dst = os.path.join(in_dir, f"wave-{i}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            os.utime(dst, (base + 10 * i, base + 10 * i))
            shutil.rmtree(stage)
        # seed the band-index table from the existing corpus; each
        # accepted delivery appends its keepers' bands
        corpus_band_index(corpus).write.mode("overwrite").parquet(index_dir)
        stream = (
            spark.readStream.schema(arrivals.drop("bucket").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        run_available_now(
            spark,
            stream.writeStream.foreachBatch(
                lambda b, _id: _accept_batch(
                    b, index_dir, target, batch_stage, marker_dir,
                    catchup_stage,
                )
            ).option("checkpointLocation", ckpt),
        )
        # final catch-up: index the LAST delivery's bands so the
        # index covers the whole accepted corpus — the state the next
        # ingestion session (and the compaction query) starts from
        _index_catchup(spark, target, index_dir, marker_dir, catchup_stage)
    finally:
        arrivals.unpersist()
    return spark.read.parquet(target)
