"""Incremental ingestion dedup (streaming/ingest_dedup.py).

Two contracts: the shuffle-free row-wise banding is bit-identical to
the batch groupBy arm, and the multi-micro-batch foreachBatch
ingestion reproduces the batch-computed accepted set exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dist_map_reduce_spark.catalog import load_table
from dist_map_reduce_spark.streaming.ingest_dedup import (
    corpus_band_index,
    minhash_bands_rowwise,
    run_ingest_dedup,
    split_corpus_arrivals,
)
from tests.conftest import SF_SMOKE


def test_rowwise_bands_equal_batch_groupby_bands(spark):
    """Zero-shuffle row-wise banding must produce the EXACT
    (doc_id, band_id, band_key) set of the INDEPENDENT grouped
    reference arm (exploded shingles → groupBy MIN signature) —
    same shingles, same salted md5 slices, same band md5s. The
    production batch pipeline now shares the row-wise stage, so this
    grouped arm is the second implementation that keeps the test
    meaningful."""
    from dist_map_reduce_spark.functions.dedup import (
        _minhash_signature,
        _R,
        N_BANDS,
        shingles,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    sig = _minhash_signature(shingles(docs))
    band_cols = []
    for b in range(N_BANDS):
        parts = [F.col(f"h{b * _R + i}").cast("string") for i in range(_R)]
        band_cols.append(
            F.md5(F.concat_ws(":", *parts).cast("binary")).alias(f"b{b}")
        )
    wide = sig.select("doc_id", *band_cols)
    batch = {
        (r.doc_id, str(b), r[f"b{b}"])
        for r in wide.collect()
        for b in range(N_BANDS)
    }
    rowwise = {
        (r.doc_id, *r.band.split(":", 1))
        for r in minhash_bands_rowwise(docs)
        .select("doc_id", F.explode("bands").alias("band"))
        .collect()
    }
    assert rowwise == batch


def test_rowwise_bands_plan_has_no_exchange(spark):
    """The whole point of the row-wise arm: banding an arrival batch
    is one projection — no Exchange anywhere in the plan."""
    docs = load_table(spark, SF_SMOKE, "documents")
    plan = minhash_bands_rowwise(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_ingest_crafted_cross_wave_duplicates(spark, tmp_path):
    """Engineered corpus exercising every dedup path explicitly:
    an in-batch duplicate pair (wave 1), a CROSS-wave duplicate
    (wave 2 re-delivers wave 1's text — the anti-join against the
    sink's own fingerprints must drop it), an exact copy of a corpus
    document (must be accepted once but flagged corpus_neardup), and
    a unique doc (accepted, unflagged). Bucket ids precomputed from
    the md5 split: 7→corpus, {3,13}→wave1, {0}→wave2, {6}→wave3."""
    t_dup = "the quick brown fox jumps over the lazy dog today"
    t_near = "shared corpus passage with enough words to shingle cleanly"
    t_uniq = "completely unrelated arrival text nothing like the corpus"
    docs = spark.createDataFrame(
        [
            (7, t_near),  # bucket 0: existing corpus
            (3, t_dup),  # bucket 1 (wave 1)
            (13, t_dup),  # bucket 1: in-batch duplicate of 3
            (0, t_dup),  # bucket 2 (wave 2): cross-wave duplicate
            (0 + 1, t_near),  # bucket 2: exact copy of corpus doc 7
            (6, t_uniq),  # bucket 3 (wave 3): unique
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in run_ingest_dedup(
            spark, SF_SMOKE, str(tmp_path), docs=docs
        ).collect()
    }
    # 3 distinct fingerprints accepted, each exactly once
    assert len(out) == 3
    # wave-1 keeper (min doc_id in the first wave holding the text);
    # the wave-2 redelivery (doc 0) must NOT appear
    assert 3 in out and 0 not in out and 13 not in out
    assert not out[3].corpus_neardup
    # the exact corpus copy is accepted (its fp is new to the SINK)
    # but flagged as a near-dup of the corpus (Jaccard 1 → same bands)
    assert 1 in out and out[1].corpus_neardup
    # the unique doc is accepted and unflagged
    assert 6 in out and not out[6].corpus_neardup


def test_ingest_cross_wave_neardup_flagged(spark, tmp_path):
    """The band index must GROW with accepted deliveries (VERDICT r9
    #2): a wave-3 arrival that nearly duplicates a WAVE-1 keeper —
    sharing MinHash bands with it but none with the initial corpus —
    must be flagged, which the old frozen-at-corpus index could never
    do. Conversely two near-dups arriving in the SAME wave must NOT
    flag each other: each batch joins against the index state as of
    the previous delivery.

    Texts engineered so (precondition-asserted below): wave1_text and
    wave3_text share ≥1 band; pair_a and pair_b share all 4 bands;
    nothing shares a band with the corpus doc. Buckets precomputed
    from the md5 split: 7→corpus, 3→wave1, {0,1}→wave2, 6→wave3."""
    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo "
        "sierra tango"
    )
    base2 = (
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen seventeen eighteen "
        "nineteen twenty"
    )
    corpus_text = (
        "the existing corpus document speaks about entirely different "
        "topics like cooking baking roasting grilling frying steaming "
        "boiling"
    )
    wave1_text, wave3_text = base, base + " uniform"
    pair_a, pair_b = base2, base2 + " extra"
    docs = spark.createDataFrame(
        [
            (7, corpus_text),  # bucket 0: existing corpus
            (3, wave1_text),  # bucket 1 (wave 1)
            (0, pair_a),  # bucket 2 (wave 2): same-wave near-dup pair
            (1, pair_b),  # bucket 2
            (6, wave3_text),  # bucket 3: near-dup of the WAVE-1 keeper
        ],
        ["doc_id", "text"],
    )
    # precondition: the engineered band overlaps actually hold (the
    # minhash is md5-deterministic, so these are stable constants —
    # this assert turns a drifted banding constant into a loud
    # diagnosis instead of a silent wrong-reason pass)
    bands = {
        r.doc_id: set(r.bands)
        for r in minhash_bands_rowwise(docs).collect()
    }
    assert bands[3] & bands[6], "wave1/wave3 texts no longer share a band"
    assert bands[0] & bands[1], "same-wave pair no longer shares a band"
    for d in (3, 0, 1, 6):
        assert not (bands[d] & bands[7]), f"doc {d} collides with corpus"

    out = {
        r.doc_id: r
        for r in run_ingest_dedup(
            spark, SF_SMOKE, str(tmp_path), docs=docs
        ).collect()
    }
    assert set(out) == {3, 0, 1, 6}
    # cross-wave: flagged against the wave-1 keeper's appended bands
    assert out[6].corpus_neardup
    # same-wave pair: the index state is pre-batch, so neither is
    # flagged (and the wave-1 keeper itself matched nothing)
    assert not out[0].corpus_neardup
    assert not out[1].corpus_neardup
    assert not out[3].corpus_neardup


def test_ingest_matches_batch_answer(spark, tmp_path):
    """End-to-end replay: 3 arrival waves through foreachBatch must
    accept exactly one row per distinct arrival fingerprint, never a
    fingerprint twice (cross-batch anti-join), and flag precisely
    the arrivals sharing a band key with the corpus."""
    out = run_ingest_dedup(spark, SF_SMOKE, str(tmp_path))
    accepted = out.collect()

    docs = load_table(spark, SF_SMOKE, "documents")
    corpus, arrivals = split_corpus_arrivals(docs)
    arrivals = arrivals.drop("bucket")

    # one row per distinct arrival fingerprint, no repeats
    exp_fps = {
        r.fp
        for r in arrivals.select(
            F.md5(F.col("text").cast("binary")).alias("fp")
        )
        .distinct()
        .collect()
    }
    assert len(accepted) == len(exp_fps)
    assert {r.fp for r in accepted} == exp_fps

    # every accepted doc_id carries its own fingerprint
    fp_by_doc = {
        r.doc_id: r.fp
        for r in arrivals.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
        ).collect()
    }
    assert all(fp_by_doc[r.doc_id] == r.fp for r in accepted)

    # near-dup flags == the GROWING-index answer, re-derived in plain
    # Python: a keeper is flagged iff it shares a band with the
    # corpus (wave 0) or with a keeper from a strictly earlier wave
    _, arrivals_b = split_corpus_arrivals(docs)
    wave_by_doc = {
        r.doc_id: r.bucket
        for r in arrivals_b.select("doc_id", "bucket").collect()
    }
    first_wave: dict[str, int] = {}
    for d, w in wave_by_doc.items():
        fp = fp_by_doc[d]
        first_wave[fp] = min(first_wave.get(fp, w), w)
    keeper_by_fp = {
        fp: min(
            d
            for d, w in wave_by_doc.items()
            if fp_by_doc[d] == fp and w == fw
        )
        for fp, fw in first_wave.items()
    }
    bands_by_doc = {
        r.doc_id: set(r.bands)
        for r in minhash_bands_rowwise(docs).collect()
    }
    corpus_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    band_intro: dict[str, int] = {}
    for c in corpus_ids:
        for b in bands_by_doc[c]:
            band_intro[b] = 0
    for fp, d in keeper_by_fp.items():
        for b in bands_by_doc[d]:
            band_intro[b] = min(band_intro.get(b, first_wave[fp]), first_wave[fp])
    exp_flagged_fps = {
        fp
        for fp, d in keeper_by_fp.items()
        if any(
            band_intro.get(b, 99) < first_wave[fp] for b in bands_by_doc[d]
        )
    }
    got_flagged_fps = {r.fp for r in accepted if r.corpus_neardup}
    assert got_flagged_fps == exp_flagged_fps
    assert any(not r.corpus_neardup for r in accepted)


def test_ingest_crash_replay_selfheals(spark, tmp_path):
    """The r11 hardening contract: index maintenance is derived from
    the sink (``_index_catchup``), so a crash anywhere between a
    delivery's sink write and its bands reaching the index self-heals
    on replay — the final state is content-identical to a crash-free
    run. Three scenarios against the same crafted corpus (the
    cross-wave near-dup texts, so flag semantics are load-bearing):

    1. clean: waves 1,2,3;
    2. crash-after-sink-write: the stream dies right after wave 2's
       sink append (before anything indexes it) and replays wave 2 —
       emulated by delivering wave 2 twice;
    3. lost marker: the indexed-docs marker is deleted mid-run — the
       catch-up re-pends already-indexed rows and re-appends their
       bands, which must change nothing semantically (duplicates the
       compaction reclaims).
    """
    import os
    import shutil as sh

    from dist_map_reduce_spark.streaming.ingest_dedup import (
        _accept_batch,
        _index_catchup,
        compact_band_index,
    )

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo "
        "sierra tango"
    )
    corpus_text = (
        "the existing corpus document speaks about entirely different "
        "topics like cooking baking roasting grilling frying steaming "
        "boiling"
    )
    docs = spark.createDataFrame(
        [
            (7, corpus_text),  # bucket 0: existing corpus
            (3, base),  # bucket 1 (wave 1)
            (0, base + " extra"),  # bucket 2: near-dup of wave-1 keeper
            (6, base + " uniform"),  # bucket 3: near-dup of wave-1 keeper
        ],
        ["doc_id", "text"],
    )
    corpus, arrivals = split_corpus_arrivals(docs)
    arrivals = arrivals.persist()

    def run(tag, wave_seq, drop_marker_before=None):
        work = str(tmp_path / tag)
        target = os.path.join(work, "accepted")
        index_dir = os.path.join(work, "band_index")
        marker = os.path.join(work, "indexed_docs")
        corpus_band_index(corpus).write.mode("overwrite").parquet(index_dir)
        for i, w in enumerate(wave_seq):
            if drop_marker_before == i:
                sh.rmtree(marker)
            _accept_batch(
                arrivals.filter(F.col("bucket") == w).drop("bucket"),
                index_dir,
                target,
                os.path.join(work, "batch_stage"),
                marker,
                os.path.join(work, "catchup_stage"),
            )
        _index_catchup(
            spark, target, index_dir, marker,
            os.path.join(work, "catchup_stage"),
        )
        return work, target, index_dir

    def state(target, index_dir, raw=False):
        accepted = {
            (r.doc_id, r.fp, r.corpus_neardup, r.text)
            for r in spark.read.parquet(target).collect()
        }
        bands = [r.band for r in spark.read.parquet(index_dir).collect()]
        return accepted, (sorted(bands) if raw else set(bands))

    try:
        _, t1, i1 = run("clean", [1, 2, 3])
        _, t2, i2 = run("crash", [1, 2, 2, 3])  # wave-2 replay
        _, t3, i3 = run("marker_loss", [1, 2, 3], drop_marker_before=2)
    finally:
        arrivals.unpersist()

    clean_acc, clean_raw = state(t1, i1, raw=True)
    crash_acc, crash_raw = state(t2, i2, raw=True)
    # replay self-heals to the SAME raw state: the redelivered wave's
    # keepers all anti-join out, and its catch-up appends exactly the
    # bands the crashed run lost — no duplicates anywhere
    assert crash_acc == clean_acc
    assert crash_raw == clean_raw
    # flag semantics survived the crash: the wave-3 near-dup of the
    # wave-1 keeper is still flagged
    assert any(d == 6 and nd for d, _, nd, _ in crash_acc)
    # marker loss re-appends bands (raw duplicates) but never changes
    # membership or acceptance; compaction restores row-for-row parity
    loss_acc, loss_bands = state(t3, i3)
    assert loss_acc == clean_acc
    assert loss_bands == set(clean_raw)
    assert len(state(t3, i3, raw=True)[1]) > len(set(clean_raw))
    compact_band_index(spark, i3)
    assert state(t3, i3, raw=True)[1] == sorted(set(clean_raw))


def test_band_index_plan_no_inlined_signature_under_foreign_rules(spark):
    """The driver runs a PLAIN session where InferFiltersFromGenerate
    is active; plan_audit's foreign pass skips streaming_ingest_dedup
    because it executes on construction, so pin the hot shape here:
    with the exclusion lifted, the band-index plan must not inline
    the row-wise signature lambdas into an inferred Filter
    (explode_outer prevents it — measured 15 s vs 1.1 s at sf0.1 for
    this one stage in a plain local[32] session)."""
    from dist_map_reduce_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    saved = spark.conf.get("spark.sql.optimizer.excludedRules", None)
    spark.conf.set("spark.sql.optimizer.excludedRules", "")
    try:
        docs = load_table(spark, SF_SMOKE, "documents")
        corpus, _ = split_corpus_arrivals(docs)
        plan = (
            corpus_band_index(corpus)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        worst = max(
            (
                line.count("lambdafunction(")
                for line in plan.splitlines()
                if "Filter " in line
            ),
            default=0,
        )
        # the plan_audit detector threshold: a Filter inlining the
        # full 16-minhash signature carries dozens of lambdas
        assert worst <= 8, f"inferred Filter inlines {worst} lambdas"
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.optimizer.excludedRules")
        else:
            spark.conf.set("spark.sql.optimizer.excludedRules", saved)


def test_compact_swap_recovers_from_parked_index(spark, tmp_path):
    """The park-aside swap's only crash window leaves the live index
    at ``__old`` with index_dir missing (ADVICE r11: the old rm-first
    swap LOST the index there, unrecoverable because the marker
    blocks catch-up re-derivation). compact_band_index must restore
    the parked copy before compacting."""
    import os
    import shutil

    from dist_map_reduce_spark.streaming.ingest_dedup import (
        compact_band_index,
    )

    index_dir = str(tmp_path / "band_index")
    df = spark.createDataFrame(
        [("0:aa",), ("0:aa",), ("1:bb",)], ["band"]
    )
    df.write.mode("overwrite").parquet(index_dir)
    # simulate the crash: live index parked aside, target missing
    os.rename(index_dir, index_dir + "__old")
    # and a half-written stage left behind for good measure
    shutil.copytree(index_dir + "__old", index_dir + "__compact")
    compact_band_index(spark, index_dir)
    got = {r.band for r in spark.read.parquet(index_dir).collect()}
    assert got == {"0:aa", "1:bb"}
    assert spark.read.parquet(index_dir).count() == 2  # distinct
    assert not os.path.isdir(index_dir + "__old")


def test_shared_replay_marker_gates_reuse(spark, tmp_path, monkeypatch):
    """ensure_shared_replay reuses ONLY a marker-complete artifact
    whose fingerprint matches: no marker -> build, matching marker ->
    reuse (no new replay run), stale marker -> rebuild."""
    import os

    from dist_map_reduce_spark.streaming import ingest_dedup as mod

    calls = []
    real_run = mod.run_ingest_dedup

    def counting_run(spark_, sf_dir_, work_dir_, n_batches=3, docs=None):
        calls.append(work_dir_)
        return real_run(spark_, sf_dir_, work_dir_, n_batches, docs)

    monkeypatch.setattr(mod, "run_ingest_dedup", counting_run)
    monkeypatch.setattr(
        mod, "scratch_path", lambda sf, name: str(tmp_path / name)
    )
    work = mod.ensure_shared_replay(spark, SF_SMOKE)
    assert len(calls) == 1
    marker = os.path.join(work, mod.REPLAY_MARKER)
    assert os.path.isfile(marker)
    assert mod.ensure_shared_replay(spark, SF_SMOKE) == work
    assert len(calls) == 1
    # a marker written for other inputs (e.g. a rewritten fixture)
    with open(marker, "w") as f:
        f.write("n_batches=3 docs=stale")
    assert mod.ensure_shared_replay(spark, SF_SMOKE) == work
    assert len(calls) == 2
    acc = spark.read.parquet(os.path.join(work, "accepted"))
    assert acc.count() > 0


def test_probe_halving_matches_oracle_on_crafted_edges(spark):
    """The post-compaction probe's half-document derivation must be
    expression-for-expression identical between Spark (_probe_docs)
    and the DuckDB oracle (_PROBE_SQL) on edges the fixture never
    exercises: empty text, single word, two words, odd/even word
    counts, and consecutive spaces (both engines split '' tokens).

    Uses a PRIVATE duckdb connection, never the session-scoped
    ``duck`` fixture: registering a crafted ``documents`` relation on
    the shared connection shadows the parquet view for every
    later oracle-parity test in the session (learned the hard way —
    68 downstream failures)."""
    import duckdb
    import pandas as pd

    from dist_map_reduce_spark.streaming.postcompaction_flags import (
        _PROBE_SQL,
        _probe_docs,
    )

    rows = [
        (1, ""),
        (2, "solo"),
        (3, "two words"),
        (4, "one two three"),
        (5, "one two three four"),
        (6, "a b c d e"),
        (7, "double  space here"),
        (8, " leading and trailing "),
    ]
    docs = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        want = {
            (r[0], r[1])
            for r in con.execute(_PROBE_SQL).fetchall()
        }
    finally:
        con.close()
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])

    import unittest.mock as mock

    from dist_map_reduce_spark.streaming import postcompaction_flags as pcf

    with mock.patch.object(pcf, "load_table", lambda *_: sdf):
        got = {
            (r.doc_id, r.text)
            for r in _probe_docs(spark, "unused").collect()
        }
    assert got == want, (sorted(got - want), sorted(want - got))
