"""Incremental MinHash-LSH index (operators/dedup_index.py): the
maintained pairs view must equal a fresh build after ANY append
sequence — including when an append pushes a shingle over the
doc-frequency cap and retroactively changes earlier pairs' capped
jaccard (the hard invariant; see the module docstring)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sfguide_getting_started_openflow_postgresql_cdc_spark import state
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
    MinHashLshIndex,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
    load_table,
)

# driver-budget default excludes this heavyweight suite (pytest.ini);
# builders run it via `-m ""` before shipping engine changes
pytestmark = pytest.mark.slow


def _pairs_dict(idx):
    return {(r.doc_a, r.doc_b): r.jaccard for r in idx.pairs().collect()}


def _read(spark, idx, table, schema):
    """Table ``table`` of the index at its committed manifest."""
    return idx.tables().read(spark, table, schema)


def _crashing_commit(mp):
    """Make every table-set commit fail before it publishes."""
    def boom(self, doc):
        raise RuntimeError("simulated crash before manifest flip")

    mp.setattr(state.TableSet, "commit", boom)


def _fresh(spark, docs, tmpdir, **kw):
    """Single-ingest build — the dd4-equivalent reference (the 3-batch
    replay in dd15_incremental_minhash_pairs is driver-checked against
    dd4's own DuckDB oracle, pinning single- and multi-ingest to dd4)."""
    idx = MinHashLshIndex(spark, tempfile.mkdtemp(dir=tmpdir), **kw)
    idx.ingest(docs)
    return _pairs_dict(idx)


def test_incremental_equals_fresh_after_every_append(spark, tmp_path):
    """Replay sf0.001 documents as 4 unequal batches; after EVERY
    append, the maintained view equals a from-scratch build on the
    docs ingested so far."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"))
    ingested = None
    # unequal batches (hash mod 4 grouped as [0], [1, 2], [3], rest)
    parts = [
        docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0),
        docs.filter(F.pmod(F.col("doc_id"), F.lit(4)).isin(1, 2)),
        docs.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 3),
    ]
    for i, batch in enumerate(parts):
        idx.ingest(batch)
        ingested = batch if ingested is None else ingested.unionByName(batch)
        fresh = _fresh(spark, ingested, str(tmp_path))
        assert _pairs_dict(idx) == fresh, f"diverged after append {i}"


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cap_crossing_reverifies_and_matches_fresh(spark, tmp_path):
    """Force a shingle over the cap BETWEEN appends: every doc shares
    the run c1..c4 (shingles 'c1 c2 c3', 'c2 c3 c4'), so with cap=2
    the third ingest pushes those shingles hot, which must re-verify
    the pairs emitted by earlier ingests (their capped sizes and
    intersections shrank) — and the final view must still equal a
    fresh build, where those shingles were hot from the start."""
    base = "c1 c2 c3 c4"
    mk = lambda i: f"{base} u{i} t1 t2 t3"  # noqa: E731
    batches = [
        [(1, mk(1)), (2, mk(2))],
        [(3, mk(3)), (4, mk(4))],
        [(5, mk(5)), (6, mk(6))],
    ]
    kw = dict(cap=2, threshold=0.2)
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"), **kw)
    seen: list = []
    saw_reverify = False
    for batch in batches:
        m = idx.ingest(_mk_docs(spark, batch))
        saw_reverify = saw_reverify or m["reverified_candidates"] > 0
        seen += batch
        fresh = _fresh(spark, _mk_docs(spark, seen), str(tmp_path), **kw)
        assert _pairs_dict(idx) == fresh
    assert saw_reverify, "cap crossing never triggered re-verification"


def test_cap_crossing_can_retract_pairs(spark, tmp_path):
    """A pair above threshold before capping whose jaccard FALLS below
    it once the shared shingles go hot must disappear from the view —
    retraction, the case a naive insert-only index gets wrong."""
    base = "c1 c2 c3 c4 c5 c6 c7 c8"  # 6 shared shingles
    mk = lambda i: f"{base} u{i} v{i} w{i}"  # noqa: E731
    kw = dict(cap=2, threshold=0.5)
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"), **kw)
    idx.ingest(_mk_docs(spark, [(1, mk(1)), (2, mk(2))]))
    before = _pairs_dict(idx)
    assert before, "expected at least one high-jaccard pair pre-crossing"
    idx.ingest(_mk_docs(spark, [(3, mk(3)), (4, mk(4))]))
    after = _pairs_dict(idx)
    fresh = _fresh(
        spark, _mk_docs(spark, [(i, mk(i)) for i in (1, 2, 3, 4)]),
        str(tmp_path), **kw
    )
    assert after == fresh
    # the shared run went hot (df=4 > 2): doc 1/2's capped sets are now
    # nearly disjoint, so their pre-crossing pair must have been retracted
    assert (1, 2) in before and (1, 2) not in after


def _df_bucket_files(idx, table="df"):
    """{bucket: {fname: inode}} for the CURRENT version of a COW table."""
    import os

    root = idx.tables().path(table)
    out = {}
    for name in os.listdir(root):
        if not name.startswith("_IDX_BUCKET="):
            continue
        b = int(name.split("=", 1)[1])
        d = os.path.join(root, name)
        out[b] = {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
    return out


def test_ingest_rewrites_only_touched_df_buckets(spark, tmp_path):
    """Copy-on-write at bucket granularity (VERDICT r7 task 1): a small
    second ingest must rewrite ONLY the df buckets its shingles hash
    into; every other bucket's files in the new version are the SAME
    inode (hard link) as the previous version — delta I/O, not a
    corpus-wide df rewrite."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"), n_buckets=16)
    idx.ingest(docs.filter(F.col("doc_id") < 400))
    before = _df_bucket_files(idx)
    assert len(before) > 4, "base ingest should populate many buckets"

    # one tiny doc with an unseen vocabulary: few shingles, few buckets
    m = idx.ingest(
        spark.createDataFrame(
            [(990001, "zq1 zq2 zq3 zq4 zq5")], "doc_id long, text string"
        )
    )
    after = _df_bucket_files(idx)
    assert m["touched_df_buckets"] < len(before) / 2
    reused = rewritten = 0
    for b, files in after.items():
        prev = before.get(b)
        if prev is not None and files == prev:  # same names AND inodes
            reused += 1
        else:
            rewritten += 1
    assert rewritten <= m["touched_df_buckets"]
    assert reused >= len(before) - m["touched_df_buckets"] - 1
    assert reused > rewritten, f"{reused} reused vs {rewritten} rewritten"


def test_retract_equals_fresh_build_on_survivors(spark, tmp_path):
    """Ingest/retract interleaving == fresh build on the surviving docs
    — including when the retraction DOWN-crosses a hot shingle (capped
    sets grow back; surviving pairs must re-verify in both directions).
    Uses the cap-crossing corpus: the shared c-run goes hot at 4 docs
    (cap=2) and must un-cross when two of them are retracted."""
    base = "c1 c2 c3 c4 c5 c6 c7 c8"
    mk = lambda i: f"{base} u{i} v{i} w{i}"  # noqa: E731
    kw = dict(cap=2, threshold=0.5)
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"), **kw)
    idx.ingest(_mk_docs(spark, [(1, mk(1)), (2, mk(2))]))
    idx.ingest(_mk_docs(spark, [(3, mk(3)), (4, mk(4))]))
    # c-run now hot: (1,2) retracted from the view (cap-crossing test)
    assert (1, 2) not in _pairs_dict(idx)

    m = idx.retract([3, 4])
    assert m["retracted_docs"] == 2
    assert m["reverified_candidates"] > 0, "down-crossing must re-verify"
    fresh = _fresh(spark, _mk_docs(spark, [(1, mk(1)), (2, mk(2))]), str(tmp_path), **kw)
    got = _pairs_dict(idx)
    assert got == fresh
    # the c-run un-crossed: doc 1/2's capped sets regained the shared
    # shingles, so their pair must REAPPEAR — the both-directions case
    assert (1, 2) in got

    # further ingest after a retraction still matches fresh (tombstones
    # filter stored state on every read path)
    idx.ingest(_mk_docs(spark, [(5, mk(5))]))
    fresh2 = _fresh(
        spark,
        _mk_docs(spark, [(1, mk(1)), (2, mk(2)), (5, mk(5))]),
        str(tmp_path),
        **kw,
    )
    assert _pairs_dict(idx) == fresh2


def test_retract_interleaved_on_real_docs(spark, tmp_path):
    """Append/retract interleaving over the real documents table: after
    each step the view equals a fresh build on the surviving set."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"))
    b0 = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0)
    b1 = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 1)
    idx.ingest(b0)
    idx.ingest(b1)
    # retract half of batch 0
    victims = docs.filter(
        (F.pmod(F.col("doc_id"), F.lit(3)) == 0) & (F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    ).select("doc_id")
    idx.retract(victims)
    surviving = b0.join(victims, "doc_id", "left_anti").unionByName(b1)
    assert _pairs_dict(idx) == _fresh(spark, surviving, str(tmp_path))
    # retract is idempotent; re-retracting is a no-op
    m = idx.retract(victims)
    assert m["retracted_docs"] == 0
    # and a tombstoned id cannot be re-ingested
    one = victims.limit(1).collect()[0]["doc_id"]
    with pytest.raises(ValueError, match="retracted"):
        idx.ingest(_mk_docs(spark, [(one, "a b c d")]))


def test_shingleless_batch_is_safe(spark, tmp_path):
    """A batch whose docs are too short to produce a single 3-gram
    (under 3 tokens) must not corrupt any table: no bands, no
    candidates, empty-bucket COW writes link the previous version, and
    a later normal ingest still equals a fresh build."""
    kw = dict(cap=5, threshold=0.2)
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"), **kw)
    base = "c1 c2 c3 c4"
    mk = lambda i: f"{base} u{i} t1 t2 t3"  # noqa: E731
    idx.ingest(_mk_docs(spark, [(1, mk(1)), (2, mk(2))]))
    m = idx.ingest(_mk_docs(spark, [(100, "a b"), (101, "x")]))
    assert m["new_candidates"] == 0
    idx.ingest(_mk_docs(spark, [(3, mk(3))]))
    fresh = _fresh(
        spark,
        _mk_docs(
            spark,
            [(1, mk(1)), (2, mk(2)), (100, "a b"), (101, "x"), (3, mk(3))],
        ),
        str(tmp_path),
        **kw,
    )
    assert _pairs_dict(idx) == fresh


def test_crash_between_view_write_and_manifest_keeps_old_version(spark, tmp_path):
    """The manifest flips last: a reader against an index whose latest
    ingest died before the manifest commit sees the previous consistent
    version, not a half-written one."""
    docs = [(1, "a b c d e"), (2, "a b c d f")]
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"), threshold=0.2)
    idx.ingest(_mk_docs(spark, docs))
    v1 = _pairs_dict(idx)
    # simulate a crashed ingest: a v2 pairs dir exists, manifest still v1
    (tmp_path / "idx" / "pairs" / "v2").mkdir(parents=True)
    assert _pairs_dict(idx) == v1


@pytest.fixture(autouse=True)
def _cleanup(tmp_path):
    yield
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_crashed_ingest_retry_does_not_double_append(spark, tmp_path):
    """A crash AFTER the log appends but BEFORE the manifest commit
    must leave the orphan segments invisible (reads are manifest-gated)
    and a RETRY of the same batch must overwrite them — the maintained
    view afterwards equals a fresh build, with no duplicate stored
    band/shingle rows inflating candidates or capped jaccard sets."""
    kw = dict(cap=5, threshold=0.2)
    base = "c1 c2 c3 c4"
    mk = lambda i: f"{base} u{i} t1 t2 t3"  # noqa: E731
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"), **kw)
    idx.ingest(_mk_docs(spark, [(1, mk(1)), (2, mk(2))]))

    batch = [(3, mk(3)), (4, mk(4))]
    with pytest.MonkeyPatch.context() as mp:
        _crashing_commit(mp)
        with pytest.raises(RuntimeError, match="simulated crash"):
            idx.ingest(_mk_docs(spark, batch))

    # the orphan v2 segments exist on disk but no read can see them
    import os

    assert os.path.isdir(str(tmp_path / "idx" / "bands" / "v2"))
    assert idx.tables().version == 1
    assert _read(
        spark, idx, "bands", "doc_id long, band_id string, sig string"
    ).filter(F.col("doc_id") >= 3).count() == 0

    # retry the same batch: segments overwritten, view == fresh build
    idx.ingest(_mk_docs(spark, batch))
    fresh = _fresh(
        spark,
        _mk_docs(spark, [(1, mk(1)), (2, mk(2))] + batch),
        str(tmp_path),
        **kw,
    )
    assert _pairs_dict(idx) == fresh
    stored = _read(spark, idx, "shingles", "doc_id long, shingle string")
    dup = (
        stored.groupBy("doc_id", "shingle")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0, "retry double-appended shingle rows"


def test_crashed_op_segments_not_resurrected_by_other_op(spark, tmp_path):
    """Orphan segments from a crashed operation must NOT become visible
    when a DIFFERENT operation type later commits the same version
    number: (a) crashed ingest's bands/shingles must not leak phantom
    docs into reads after a retract commits that version; (b) a crashed
    retract's tombstones must not silently delete live docs after an
    ingest commits that version."""
    kw = dict(cap=5, threshold=0.2)
    base = "c1 c2 c3 c4"
    mk = lambda i: f"{base} u{i} t1 t2 t3"  # noqa: E731

    # (a) crashed ingest, then retract commits the same version
    idx = MinHashLshIndex(spark, str(tmp_path / "a"), **kw)
    idx.ingest(_mk_docs(spark, [(1, mk(1)), (2, mk(2)), (9, mk(9))]))
    with pytest.MonkeyPatch.context() as mp:
        _crashing_commit(mp)
        with pytest.raises(RuntimeError):
            idx.ingest(_mk_docs(spark, [(3, mk(3))]))  # orphan v2 logs
    idx.retract([9])  # commits version 2 without touching bands/v2
    stored = _read(spark, idx, "bands", "doc_id long, band_id string, sig string")
    assert stored.filter(F.col("doc_id") == 3).count() == 0, (
        "crashed ingest's band segment resurrected by the retract commit"
    )
    fresh = _fresh(
        spark, _mk_docs(spark, [(1, mk(1)), (2, mk(2))]), str(tmp_path), **kw
    )
    assert _pairs_dict(idx) == fresh

    # (b) crashed retract, then ingest commits the same version
    idx2 = MinHashLshIndex(spark, str(tmp_path / "b"), **kw)
    idx2.ingest(_mk_docs(spark, [(1, mk(1)), (2, mk(2))]))
    with pytest.MonkeyPatch.context() as mp:
        _crashing_commit(mp)
        with pytest.raises(RuntimeError):
            idx2.retract([1])  # orphan tombstones/v2
    idx2.ingest(_mk_docs(spark, [(3, mk(3))]))  # commits version 2
    assert idx2._tombstones(idx2.tables()) is None, (
        "crashed retract's tombstones resurrected by the ingest commit"
    )
    fresh2 = _fresh(
        spark,
        _mk_docs(spark, [(1, mk(1)), (2, mk(2)), (3, mk(3))]),
        str(tmp_path),
        **kw,
    )
    assert _pairs_dict(idx2) == fresh2


def test_retract_all_docs_of_hot_shingle_clears_hot(spark, tmp_path):
    """Retracting EVERY doc containing a hot shingle in one call drives
    its df to 0: the shingle must leave the HOT table along with the df
    table (r8 advice). A stale hot entry would be anti-joined out of
    capped sets forever, silently zeroing the intersection of pairs
    among LATER ingests that reuse the shingle at df <= cap."""
    base = "c1 c2 c3 c4 c5 c6 c7 c8"
    mk = lambda i: f"{base} u{i} v{i} w{i}"  # noqa: E731
    kw = dict(cap=2, threshold=0.5)
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"), **kw)
    idx.ingest(_mk_docs(spark, [(1, mk(1)), (2, mk(2))]))
    idx.ingest(_mk_docs(spark, [(3, mk(3)), (4, mk(4))]))
    # the shared c-run is hot (df=4 > cap=2)
    assert _read(spark, idx, "hot", "shingle string").count() > 0

    # retract ALL four docs at once: every c-run shingle's new_df == 0
    idx.retract([1, 2, 3, 4])
    assert _read(spark, idx, "hot", "shingle string").count() == 0, (
        "hot shingles whose docs all vanished must leave the hot table"
    )

    # later ingests reusing the run at df <= cap verify WITH it: docs 5
    # and 6 share exactly the 6 c-run shingles (jaccard 6/12 = 0.5).
    # Reuse docs 1/2's TEXTS (new ids): that shingle pair is known to
    # band-collide (test_cap_crossing_can_retract_pairs asserts the
    # (1,2) pair pre-crossing), so the candidate exists and the only
    # question is whether verification sees the de-hotted c-run.
    idx.ingest(_mk_docs(spark, [(5, mk(1)), (6, mk(2))]))
    fresh = _fresh(
        spark, _mk_docs(spark, [(5, mk(1)), (6, mk(2))]), str(tmp_path), **kw
    )
    got = _pairs_dict(idx)
    assert got == fresh
    assert (5, 6) in got, "stale hot entry suppressed the survivors' pair"


def test_orphan_cow_dirs_never_outrank_committed(spark, tmp_path):
    """COW retirement must key on the MANIFEST-committed version, not
    the directory listing (r8 advice): crash/retry sequences where later
    operations never rewrite a table leave orphan dirs ABOVE its
    committed version, and a listing-based 'keep newest two' would
    retire the committed dir — pairs() would silently read empty."""
    import os

    kw = dict(cap=5, threshold=0.2)
    base = "c1 c2 c3 c4"
    mk = lambda i: f"{base} u{i} t1 t2 t3"  # noqa: E731
    # docs 7/17: disjoint vocab, shingled but pair-less (retract fodder)
    z7, z17 = "z1 z2 z3 z4 z5", "y1 y2 y3 y4 y5"
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"), **kw)
    idx.ingest(_mk_docs(spark, [(1, mk(1)), (2, mk(2)), (7, z7), (17, z17)]))
    assert (1, 2) in _pairs_dict(idx)
    pairs_v = idx.tables().committed("pairs")

    def crash_ingest(batch):
        with pytest.MonkeyPatch.context() as mp:
            _crashing_commit(mp)
            with pytest.raises(RuntimeError):
                idx.ingest(_mk_docs(spark, batch))

    # two crash/commit rounds: each crashed ingest writes orphan COW
    # pairs dirs above v1; each retract commits the version WITHOUT
    # rewriting pairs (no pairs name docs 7/17, no crossings)
    crash_ingest([(8, mk(8)), (9, mk(9))])
    idx.retract([7])
    crash_ingest([(10, mk(10)), (11, mk(11))])
    idx.retract([17])

    assert idx.tables().committed("pairs") == pairs_v
    assert os.path.isdir(idx.tables().path("pairs", pairs_v)), (
        "retirement deleted the committed pairs version"
    )
    got = _pairs_dict(idx)
    assert (1, 2) in got, "committed pairs view lost to orphan retirement"
    fresh = _fresh(
        spark, _mk_docs(spark, [(1, mk(1)), (2, mk(2))]), str(tmp_path), **kw
    )
    assert got == fresh
    # orphans above the committed version are cleaned, not accumulated
    pairs_dirs = {
        d for d in os.listdir(os.path.join(str(tmp_path / "idx"), "pairs"))
        if d.startswith("v")
    }
    assert pairs_dirs == {f"v{pairs_v}"}


def test_retraction_invalidates_pairs_consumers(spark, tmp_path):
    """r8 verdict task 7: retraction must reach the PAIRS CONSUMERS —
    the session-level dd4 memos (shingle sets, verified pairs) persist
    a snapshot of the corpus dir, so after a CDC soft-delete lands
    (replica view rewritten + index retraction via
    streaming/index_sync.sync_soft_deletes -> MinHashLshIndex.retract;
    the bridge itself is covered by test_index_sync), dd7 groups / px6
    curation / px15 splits recomputed IN THE SAME SESSION must equal a
    fresh build on the surviving corpus — not serve pre-retraction
    pairs out of the memo. retract() now clears the memos."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup import (
        dd4_minhash_lsh_pairs,
        dd7_dedup_groups,
        px6_neardup_aware_curation,
        px15_cluster_safe_split,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = str(tmp_path / "corpus")
    fresh_dir = str(tmp_path / "fresh")
    import os

    os.makedirs(corpus), os.makedirs(fresh_dir)
    docs.write.parquet(os.path.join(corpus, "documents.parquet"))

    def snapshot(sf):
        return {
            "dd7": sorted(map(tuple, dd7_dedup_groups(spark, sf).collect())),
            "px6": sorted(map(tuple, px6_neardup_aware_curation(spark, sf).collect())),
            "px15": sorted(map(tuple, px15_cluster_safe_split(spark, sf).collect())),
        }

    before = snapshot(corpus)  # memos now warm for (session, corpus)
    pairs = dd4_minhash_lsh_pairs(spark, corpus).collect()
    assert pairs, "sf0.001 documents must contain near-dup pairs"
    victims = sorted({p["doc_b"] for p in pairs})

    # the CDC soft delete: replica's surviving view rewritten on disk,
    # the delete forwarded to the maintained index (retract)
    survivors = docs.filter(~F.col("doc_id").isin(victims))
    survivors.write.mode("overwrite").parquet(
        os.path.join(corpus, "documents.parquet")
    )
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"))
    idx.ingest(docs.select("doc_id", "text"))
    idx.retract(victims)

    after = snapshot(corpus)
    # expected: a fresh build on the survivors (fresh dir => fresh memo key)
    survivors.write.parquet(os.path.join(fresh_dir, "documents.parquet"))
    expected = snapshot(fresh_dir)
    assert after == expected, "consumers served pre-retraction memo state"
    # and the retraction genuinely changed the answer (non-vacuous)
    assert before["dd7"] != after["dd7"]
