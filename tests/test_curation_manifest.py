"""Incrementally-maintained curation manifest (streaming/curation.py,
r8 verdict task 6): after any sequence of doc_id-ordered dumps the
maintained manifest equals a fresh px11_training_manifest over
benchmark ∪ dumps — including cross-dump keep-first dedup, duplicates
of benchmark content in both id directions, frozen-benchmark
decontamination, and shard packing continuing across dump boundaries.
The replay wrapper px16_incremental_manifest is additionally
driver-checked against px11's own DuckDB oracle."""

import os

import pytest
from pyspark.sql import functions as F

from sfguide_getting_started_openflow_postgresql_cdc_spark import state
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup import (
    px11_training_manifest,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import DOCUMENTS
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.curation import (
    IncrementalCurationManifest,
)

# driver-budget default excludes this heavyweight suite (pytest.ini);
# builders run it via `-m ""` before shipping engine changes
pytestmark = pytest.mark.slow


def _doc(i, text, lang="en", source="web"):
    return (i, text, lang, source, len(text))


def _write_sf_dir(spark, docs, path):
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(docs, DOCUMENTS).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "documents.parquet"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# long benchmark text: >= 20% gram overlap marks a train doc contaminated
_BENCH0 = "alpha beta gamma delta epsilon zeta eta theta"
_BENCH1 = "one two three four five six seven eight nine ten"


def _synthetic_corpus():
    bench = [
        _doc(0, _BENCH0),
        _doc(1, _BENCH1),
        # CASE variant: the fingerprint (case-normalizing) matches doc
        # 50 below, but the case-sensitive 3-grams do NOT — so doc 50
        # exercises the min-id fingerprint rule WITHOUT being
        # gram-contaminated by this benchmark entry
        _doc(101, "Shared High Id Benchmark Text Body Here"),
    ]
    dump1 = [
        _doc(5, "red orange yellow green blue indigo violet", "en", "web"),
        _doc(7, "un deux trois quatre cinq six sept huit", "fr", "books"),
        # duplicate (same fingerprint) of a HIGHER-id benchmark doc:
        # fresh keep-first keeps THIS one (min id), so it must stay
        _doc(50, "shared high id benchmark text body here", "en", "web"),
        # contaminated: quotes most of _BENCH0
        _doc(60, "alpha beta gamma delta epsilon zeta intro words", "en", "cc"),
        _doc(111, "mary had a little lamb whose fleece was white", "en", "books"),
    ]
    dump2 = [
        # cross-dump duplicate of doc 5: must be dropped by the stored
        # fingerprint log, exactly like fresh keep-first would
        _doc(205, "red orange yellow green blue indigo violet", "en", "cc"),
        # duplicate of a LOWER-id benchmark doc: must be dropped
        _doc(207, _BENCH0, "en", "web"),
        _doc(211, "eins zwei drei vier funf sechs sieben acht", "de", "web"),
        _doc(260, "pack my box with five dozen liquor jugs", "en", "cc"),
    ]
    return bench, dump1, dump2


def test_incremental_manifest_equals_fresh_px11(spark, tmp_path):
    bench, dump1, dump2 = _synthetic_corpus()
    union_dir = str(tmp_path / "union")
    _write_sf_dir(spark, bench + dump1 + dump2, union_dir)
    fresh = _rows(px11_training_manifest(spark, union_dir))

    mf = IncrementalCurationManifest(spark, str(tmp_path / "mf"))
    mf.initialize(spark.createDataFrame(bench, DOCUMENTS))
    m1 = mf.ingest(spark.createDataFrame(dump1, DOCUMENTS))
    m2 = mf.ingest(spark.createDataFrame(dump2, DOCUMENTS))
    assert _rows(mf.manifest()) == fresh and fresh

    # the interesting events actually happened (non-vacuous corpus):
    # dump1 keeps all 5 (the bench dup at id 50 has the LOWER id);
    # dump2 drops the cross-dump dup and the bench dup, keeps 2
    assert m1["kept_docs"] == 4  # doc 60 contaminated, 50 kept
    assert m2["kept_docs"] == 2

    # px7/px10-style statistics agree with the (oracle-checked) manifest
    by_lang = {r["lang"]: (r["n_docs"], r["n_tokens"])
               for r in mf.stats_by_lang().collect()}
    want_lang = {r["lang"]: (r["nd"], r["nt"])
                 for r in mf.manifest().groupBy("lang").agg(
                     F.sum("n_docs").alias("nd"),
                     F.sum("shard_tokens").alias("nt")).collect()}
    assert by_lang == want_lang and len(by_lang) >= 3
    # source stats cover the same corpus (totals line up across keys)
    src = mf.stats_by_source().agg(
        F.sum("n_docs").alias("nd"), F.sum("n_tokens").alias("nt")
    ).first()
    lang_tot = mf.stats_by_lang().agg(
        F.sum("n_docs").alias("nd"), F.sum("n_tokens").alias("nt")
    ).first()
    assert (src["nd"], src["nt"]) == (lang_tot["nd"], lang_tot["nt"])


def test_stats_merge_is_dump_count_invariant(spark, tmp_path):
    """The additive merge algebra: 2 dumps == 1 dump of the union, for
    the manifest AND both statistics tables."""
    bench, dump1, dump2 = _synthetic_corpus()
    one = IncrementalCurationManifest(spark, str(tmp_path / "one"))
    one.initialize(spark.createDataFrame(bench, DOCUMENTS))
    one.ingest(spark.createDataFrame(dump1 + dump2, DOCUMENTS))
    two = IncrementalCurationManifest(spark, str(tmp_path / "two"))
    two.initialize(spark.createDataFrame(bench, DOCUMENTS))
    two.ingest(spark.createDataFrame(dump1, DOCUMENTS))
    two.ingest(spark.createDataFrame(dump2, DOCUMENTS))
    assert _rows(one.manifest()) == _rows(two.manifest())
    assert _rows(one.stats_by_lang()) == _rows(two.stats_by_lang())
    assert _rows(one.stats_by_source()) == _rows(two.stats_by_source())


def test_order_and_replay_guards(spark, tmp_path):
    bench, dump1, dump2 = _synthetic_corpus()
    mf = IncrementalCurationManifest(spark, str(tmp_path / "mf"))
    with pytest.raises(ValueError, match="initialize"):
        mf.ingest(spark.createDataFrame(dump1, DOCUMENTS))
    mf.initialize(spark.createDataFrame(bench, DOCUMENTS))
    with pytest.raises(ValueError, match="already initialized"):
        mf.initialize(spark.createDataFrame(bench, DOCUMENTS))
    mf.ingest(spark.createDataFrame(dump2, DOCUMENTS))
    # out-of-order NEVER-APPLIED dump (ids below the watermark, range
    # matching no applied ingest) must refuse — silent acceptance would
    # corrupt keep-first dedup and shard packing; a silent skip would
    # lose the documents
    with pytest.raises(ValueError, match="doc_id order"):
        mf.ingest(spark.createDataFrame(dump1, DOCUMENTS))
    # replaying the APPLIED dump also refuses by default (no
    # double-count) — with the replay-specific message
    with pytest.raises(ValueError, match="already applied"):
        mf.ingest(spark.createDataFrame(dump2, DOCUMENTS))
    # ...and under on_replay='skip' it is a no-op skip, while the
    # never-applied late dump STILL raises (no silent data loss)
    out = mf.ingest(
        spark.createDataFrame(dump2, DOCUMENTS), on_replay="skip"
    )
    assert out["skipped"] and out["reason"] == "replay"
    with pytest.raises(ValueError, match="doc_id order"):
        mf.ingest(spark.createDataFrame(dump1, DOCUMENTS), on_replay="skip")


def test_crashed_ingest_retry_does_not_double_merge(spark, tmp_path):
    """Commit-last versioned tables: a crash AFTER the table writes but
    BEFORE the meta commit leaves the previous state readable, and a
    retry of the same dump produces exactly the clean-run result — the
    additive merges never see their own partial output."""
    bench, dump1, dump2 = _synthetic_corpus()
    ref = IncrementalCurationManifest(spark, str(tmp_path / "ref"))
    ref.initialize(spark.createDataFrame(bench, DOCUMENTS))
    ref.ingest(spark.createDataFrame(dump1, DOCUMENTS))
    ref.ingest(spark.createDataFrame(dump2, DOCUMENTS))

    mf = IncrementalCurationManifest(spark, str(tmp_path / "mf"))
    mf.initialize(spark.createDataFrame(bench, DOCUMENTS))
    mf.ingest(spark.createDataFrame(dump1, DOCUMENTS))
    state_before = _rows(mf.manifest())
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            state.TableSet, "commit",
            lambda self, doc: (_ for _ in ()).throw(RuntimeError("boom")),
        )
        with pytest.raises(RuntimeError):
            mf.ingest(spark.createDataFrame(dump2, DOCUMENTS))
    # crash left the previous state visible
    assert _rows(mf.manifest()) == state_before
    # retry applies the dump exactly once
    mf.ingest(spark.createDataFrame(dump2, DOCUMENTS))
    assert _rows(mf.manifest()) == _rows(ref.manifest())
    assert _rows(mf.stats_by_lang()) == _rows(ref.stats_by_lang())


def test_shard_packing_continues_across_dumps(spark, tmp_path):
    """A (split, lang) group whose token budget fills mid-stream must
    keep packing into the SAME shard sequence across dump boundaries —
    the stored cumulative totals make the per-dump running sums equal
    the fresh global window."""
    # small budget so a handful of docs cross shard boundaries
    body = " ".join(f"w{i}" for i in range(40))  # 40 tokens per doc
    bench = [_doc(0, _BENCH0)]
    docs = [_doc(100 + i, f"{body} pad{i}") for i in range(12)]  # 41 tokens
    mf = IncrementalCurationManifest(
        spark, str(tmp_path / "mf"), token_budget=100
    )
    mf.initialize(spark.createDataFrame(bench, DOCUMENTS))
    mf.ingest(spark.createDataFrame(docs[:5], DOCUMENTS))
    mf.ingest(spark.createDataFrame(docs[5:], DOCUMENTS))
    got = mf.manifest().collect()
    # multiple shards exist and every shard id is contiguous from 0
    by_grp: dict = {}
    for r in got:
        by_grp.setdefault((r["split"], r["lang"]), []).append(r["shard_id"])
    assert any(len(v) > 1 for v in by_grp.values())
    for ids in by_grp.values():
        assert sorted(ids) == list(range(len(ids)))
    # equality against a 1-dump build with the same budget
    one = IncrementalCurationManifest(
        spark, str(tmp_path / "one"), token_budget=100
    )
    one.initialize(spark.createDataFrame(bench, DOCUMENTS))
    one.ingest(spark.createDataFrame(docs, DOCUMENTS))
    assert _rows(mf.manifest()) == _rows(one.manifest())


def test_streaming_manifest_matches_batch_and_skips_replays(spark, tmp_path):
    """start_streaming_manifest: dumps delivered as a file stream give
    the SAME manifest as batch ingest (incl. across a query restart with
    the same checkpoint); at-least-once replays of APPLIED dumps are
    skipped via the recorded applied-range log — while a never-applied
    late dump and a straddling dump still refuse (silent skip = data
    loss), and re-freezing the benchmark on a restart refuses."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.curation import (
        ingest_or_skip,
        start_streaming_manifest,
    )

    bench, dump1, dump2 = _synthetic_corpus()
    src = tmp_path / "src"
    src.mkdir()
    bench_df = spark.createDataFrame(bench, DOCUMENTS)

    def write_dump(name, rows):
        spark.createDataFrame(rows, DOCUMENTS).coalesce(1).write.parquet(
            str(src / name)
        )

    # dump 1 arrives; first start freezes the benchmark
    write_dump("d1", dump1)
    q = start_streaming_manifest(
        spark, str(src / "d1"), str(tmp_path / "mf"), str(tmp_path / "ck1"),
        benchmark_docs=bench_df,
    )
    q.awaitTermination(120)
    mf = IncrementalCurationManifest(spark, str(tmp_path / "mf"))
    ref = IncrementalCurationManifest(spark, str(tmp_path / "ref"))
    ref.initialize(bench_df)
    ref.ingest(spark.createDataFrame(dump1, DOCUMENTS))
    assert _rows(mf.manifest()) == _rows(ref.manifest())

    # dump 2 arrives later (separate query + checkpoint, SAME manifest
    # state => restart survives); reopening ignores benchmark_docs
    write_dump("d2", dump2)
    q2 = start_streaming_manifest(
        spark, str(src / "d2"), str(tmp_path / "mf"), str(tmp_path / "ck2"),
    )
    q2.awaitTermination(120)
    ref.ingest(spark.createDataFrame(dump2, DOCUMENTS))
    assert _rows(mf.manifest()) == _rows(ref.manifest())
    assert _rows(mf.stats_by_lang()) == _rows(ref.stats_by_lang())

    # at-least-once replay of an APPLIED dump: applied-range skip
    before = _rows(mf.manifest())
    out = ingest_or_skip(mf, spark.createDataFrame(dump2, DOCUMENTS))
    assert out["skipped"] and out["reason"] == "replay"
    assert out["watermark"] == max(d[0] for d in dump2)
    assert _rows(mf.manifest()) == before
    # a NEVER-APPLIED late dump (below the watermark, range matches no
    # applied ingest) refuses instead of silently skipping — the r9
    # review's data-loss case (file-source mtime ordering inverted)
    late = [_doc(150, "completely new late arrival words", "en", "web")]
    with pytest.raises(ValueError, match="doc_id order"):
        ingest_or_skip(mf, spark.createDataFrame(late, DOCUMENTS))
    # a STRADDLING dump (min below the watermark, max above) refuses
    straddle = [dump2[0], _doc(9_000_001, "brand new words entirely here")]
    with pytest.raises(ValueError, match="doc_id order"):
        ingest_or_skip(mf, spark.createDataFrame(straddle, DOCUMENTS))
    # an empty dump is a no-op skip
    out = ingest_or_skip(mf, spark.createDataFrame([], DOCUMENTS))
    assert out["skipped"] and out["reason"] == "empty"
    # re-freezing the benchmark on an initialized manifest refuses
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.curation import (
        start_streaming_manifest as _ssm,
    )
    with pytest.raises(ValueError, match="already froze"):
        _ssm(spark, str(src / "d2"), str(tmp_path / "mf"),
             str(tmp_path / "ck3"), benchmark_docs=bench_df)


def test_ingest_many_batched_equals_serial_and_fresh(spark, tmp_path):
    """r10 (VERDICT r9 task 4): ingest_many applies k dumps in ONE
    version commit and equals BOTH the k-serial build and a fresh px11
    over the union — manifest, stats tables, applied ranges (one entry
    per dump), and the version counter (one bump per batch)."""
    bench, dump1, dump2 = _synthetic_corpus()
    dump3 = [
        _doc(305, "sphinx of black quartz judge my vow", "en", "web"),
        _doc(311, "cien anos de soledad gabriel garcia marquez", "es", "books"),
    ]
    union_dir = str(tmp_path / "union")
    _write_sf_dir(spark, bench + dump1 + dump2 + dump3, union_dir)
    fresh = _rows(px11_training_manifest(spark, union_dir))

    serial = IncrementalCurationManifest(spark, str(tmp_path / "serial"))
    serial.initialize(spark.createDataFrame(bench, DOCUMENTS))
    for d in (dump1, dump2, dump3):
        serial.ingest(spark.createDataFrame(d, DOCUMENTS))

    batched = IncrementalCurationManifest(spark, str(tmp_path / "batched"))
    batched.initialize(spark.createDataFrame(bench, DOCUMENTS))
    out = batched.ingest_many(
        [spark.createDataFrame(d, DOCUMENTS) for d in (dump1, dump2, dump3)]
    )
    assert out["n_dumps_applied"] == 3 and out["n_dumps_skipped"] == 0
    assert out["ingested_docs"] == len(dump1) + len(dump2) + len(dump3)

    assert _rows(batched.manifest()) == _rows(serial.manifest()) == fresh
    assert _rows(batched.stats_by_lang()) == _rows(serial.stats_by_lang())
    assert _rows(batched.stats_by_source()) == _rows(serial.stats_by_source())
    # one commit for the whole batch vs three serial commits
    assert batched.tables().doc["version"] == 2
    assert serial.tables().doc["version"] == 4
    # per-dump ranges recorded, so any constituent dump replays cleanly
    assert batched.tables().doc["applied_ranges"] == serial.tables().doc["applied_ranges"]
    replay = batched.ingest_many(
        [spark.createDataFrame(dump2, DOCUMENTS)], on_replay="skip"
    )
    assert replay["skipped"] and replay["n_dumps_skipped"] == 1


def test_ingest_many_per_dump_discrimination(spark, tmp_path):
    """Replay/late-dump discrimination stays PER DUMP inside a batch:
    a replayed constituent is skipped (on_replay='skip') while the new
    dumps apply; a never-applied late dump always raises; in-batch
    overlapping ranges refuse; a replay under the default raises."""
    bench, dump1, dump2 = _synthetic_corpus()
    dump3 = [_doc(305, "sphinx of black quartz judge my vow", "en", "web")]
    mf = IncrementalCurationManifest(spark, str(tmp_path / "mf"))
    mf.initialize(spark.createDataFrame(bench, DOCUMENTS))
    mf.ingest(spark.createDataFrame(dump1, DOCUMENTS))

    # batch = [replay of dump1, new dump2, new dump3] under skip
    out = mf.ingest_many(
        [spark.createDataFrame(d, DOCUMENTS) for d in (dump1, dump2, dump3)],
        on_replay="skip",
    )
    assert out["n_dumps_applied"] == 2 and out["n_dumps_skipped"] == 1
    ref = IncrementalCurationManifest(spark, str(tmp_path / "ref"))
    ref.initialize(spark.createDataFrame(bench, DOCUMENTS))
    for d in (dump1, dump2, dump3):
        ref.ingest(spark.createDataFrame(d, DOCUMENTS))
    assert _rows(mf.manifest()) == _rows(ref.manifest())

    # default on_replay raises on the replayed constituent
    with pytest.raises(ValueError, match="already applied"):
        mf.ingest_many([spark.createDataFrame(dump2, DOCUMENTS)])
    # never-applied late dump: always refuses (data loss otherwise)
    late = [_doc(150, "completely new late arrival words", "en", "web")]
    with pytest.raises(ValueError, match="doc_id order"):
        mf.ingest_many(
            [spark.createDataFrame(late, DOCUMENTS)], on_replay="skip"
        )
    # in-batch overlap refuses
    a = [_doc(400, "first new words here", "en", "web"),
         _doc(410, "second new words here", "en", "web")]
    b = [_doc(405, "overlapping range words", "en", "web")]
    with pytest.raises(ValueError, match="overlap"):
        mf.ingest_many(
            [spark.createDataFrame(a, DOCUMENTS),
             spark.createDataFrame(b, DOCUMENTS)]
        )
    # all-replay batch is a clean no-op skip
    out = mf.ingest_many(
        [spark.createDataFrame(dump2, DOCUMENTS)], on_replay="skip"
    )
    assert out["skipped"] and out["n_dumps_applied"] == 0

    # empty batch (zero-row foreachBatch micro-batch) is a clean no-op
    # skip too — regression for the r11 fused-bounds rewrite, which
    # crashed on `agg.collect()` when no dumps were passed (ADVICE r11)
    out = mf.ingest_many([])
    assert out["skipped"] and out["n_dumps_applied"] == 0
    assert out["ingested_docs"] == 0 and out["n_dumps_skipped"] == 0


def test_streaming_manifest_batched_catchup(spark, tmp_path):
    """r10: max_files_per_trigger > 1 lets a restart catch up on a
    backlog of dumps in ONE commit per trigger — the batch splits back
    into its constituent files (per-dump ranges recorded), and the
    final state equals the serial build."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.curation import (
        start_streaming_manifest,
    )

    bench, dump1, dump2 = _synthetic_corpus()
    dump3 = [_doc(305, "sphinx of black quartz judge my vow", "en", "web")]
    src = tmp_path / "src"
    src.mkdir()
    bench_df = spark.createDataFrame(bench, DOCUMENTS)
    for i, rows in enumerate((dump1, dump2, dump3)):
        spark.createDataFrame(rows, DOCUMENTS).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"d{i}"))

    # one source dir holding all three dumps as separate files
    flat = tmp_path / "flat"
    flat.mkdir()
    import glob
    import shutil
    for i in range(3):
        part = glob.glob(str(src / f"d{i}" / "part-*.parquet"))[0]
        shutil.copy(part, str(flat / f"dump{i}.parquet"))

    q = start_streaming_manifest(
        spark, str(flat), str(tmp_path / "mf"), str(tmp_path / "ck"),
        benchmark_docs=bench_df, max_files_per_trigger=8,
    )
    q.awaitTermination(120)
    mf = IncrementalCurationManifest(spark, str(tmp_path / "mf"))
    ref = IncrementalCurationManifest(spark, str(tmp_path / "ref"))
    ref.initialize(bench_df)
    for d in (dump1, dump2, dump3):
        ref.ingest(spark.createDataFrame(d, DOCUMENTS))
    assert _rows(mf.manifest()) == _rows(ref.manifest())
    assert _rows(mf.stats_by_lang()) == _rows(ref.stats_by_lang())
    # the whole backlog landed in ONE version bump (2 = init + batch)
    assert mf.tables().doc["version"] == 2
    # and per-dump ranges were recorded for future replay discrimination
    assert mf.tables().doc["applied_ranges"] == ref.tables().doc["applied_ranges"]
