"""Crash-point enumeration for the maintained-state engines.

Each operation below runs once to count its filesystem mutations —
Spark parquet writes, copy-on-write hard links, JSON commits and
version-directory removals, the only ways the engines change their
on-disk state (state.py) — and then once per mutation k on a fresh
copy of the starting state, with the process "dying" right after the
k-th mutation: that call raises, and so does every later mutation.
Then, on fresh handles:

- before the operation's commit (the engine's top-level JSON commit),
  the state reads exactly as before the operation, and a retry of the
  operation reaches exactly the no-crash state;
- at or after the commit, the state reads exactly as after a no-crash
  run.

This generalises the hand-picked crash tests in test_dedup_index.py,
test_curation_manifest.py and test_mv_timetravel.py to every crash
point. Inputs are tiny; the costlier cases are ``slow``.
"""

import os
import shutil
import threading

import pytest
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from sfguide_getting_started_openflow_postgresql_cdc_spark import state
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.ann_index import (
    IvfIndex,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
    MinHashLshIndex,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import DOCUMENTS
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
    ENVELOPE,
    CdcEngine,
    ReplicaStore,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.curation import (
    IncrementalCurationManifest,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.mv import (
    IncrementalGroupCount,
)


class Crash(Exception):
    pass


class Mutations:
    """Counts the mutations made through the patched entry points; with
    ``crash_after=k`` the k-th completed mutation raises and every later
    one raises before it runs (a dead process changes nothing more).
    Concurrent writers finish their in-flight mutation, then raise."""

    def __init__(self, mp: pytest.MonkeyPatch, crash_after: int | None = None):
        self.crash_after = crash_after
        self.log: list[tuple[str, str]] = []
        self.dead = False
        self._lock = threading.Lock()
        self._wrap(mp, DataFrameWriter, "parquet", "write", lambda a: a[1])
        self._wrap(mp, state, "commit_json", "commit", lambda a: a[0])
        self._wrap(mp, state, "link_file", "link", lambda a: a[1])
        self._wrap(mp, state, "remove_dir", "remove", lambda a: a[0])

    def _wrap(self, mp, owner, name, kind, target):
        real = getattr(owner, name)

        def wrapper(*a, **kw):
            path = target(a)
            if self.dead:
                raise Crash(f"{kind} {path} after the crash")
            if kind == "remove" and not os.path.exists(path):
                return real(*a, **kw)  # removing nothing mutates nothing
            out = real(*a, **kw)
            with self._lock:
                self.log.append((kind, path))
                if self.crash_after is not None and len(self.log) >= self.crash_after:
                    self.dead = True
                    raise Crash(f"crash after mutation {len(self.log)}: {kind} {path}")
            return out

        mp.setattr(owner, name, wrapper)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _n_cached(spark):
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


# -- the operations ---------------------------------------------------------
#
# Each case is built with the bucket count of the state it writes (the
# default of the engines' sizing rule for small data is one bucket, so
# every case also runs at one); setup(spark, root) builds the starting
# state under root;
# run(spark, root) performs the operation through fresh handles;
# snapshot(spark, root) reads the state through fresh handles, as
# (state, extra): ``state`` is compared before the commit, both parts
# after it and after a retry; commit(root) is the commit document;
# ``kinds`` are the mutation kinds the operation makes.

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("grp", T.StringType(), True),
    ]
)


def _engine(root, n_buckets):
    return CdcEngine(
        ReplicaStore(os.path.join(root, "w")),
        tables={"t": SCHEMA},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=n_buckets,
    )


def _events(spark, rows):
    env = [
        (seq, f"2024-01-01 00:{seq:02d}:00", "t", op, {"id": str(i), "grp": g})
        for seq, op, i, g in rows
    ]
    return spark.createDataFrame(env, ENVELOPE)


def _bootstrap(spark, eng, rows):
    eng.bootstrap(
        spark,
        {"t": spark.createDataFrame(rows, SCHEMA)},
        "2024-01-01 00:00:00",
        journal_snapshot=False,
    )


def _replica(spark, root, journal_pk=None):
    """Replica rows, watermark and journal (deduplicated on
    ``journal_pk`` when given) through a fresh store."""
    store = ReplicaStore(os.path.join(root, "w"))
    return (
        _rows(store.read(spark, "t")),
        store.watermark("t"),
        _rows(store.read_journal(spark, "t", journal_pk)),
    )


class Case:
    """An operation on state hash-bucketed ``buckets`` ways. With more
    than one bucket an operation can leave some untouched, which it
    hard-links; at one bucket it rewrites everything and links nothing."""

    kinds: set[str]

    def __init__(self, buckets: int):
        self.buckets = buckets
        if buckets == 1:
            self.kinds = self.kinds - {"link"}

    def check(self, new) -> None:
        """Case-specific assertions on the no-crash state."""


class CdcMerge(Case):
    """CdcEngine.merge_batch -> ReplicaStore.write_merged: Spark writes of
    the journal segment and the changed buckets, hard links of the
    untouched buckets, the pointer commit that publishes both, retirement
    of the version beyond keep_versions."""

    commit = staticmethod(lambda root: os.path.join(root, "w", "tables", "t", "_POINTER.json"))
    kinds = {"write", "link", "commit", "remove"}

    def setup(self, spark, root):
        eng = _engine(root, self.buckets)
        _bootstrap(spark, eng, [(i, f"g{i % 3}") for i in range(1, 9)])
        eng.merge_batch(spark, "t", _events(spark, [(1, "U", 1, "g9")]))

    def run(self, spark, root):
        _engine(root, self.buckets).merge_batch(
            spark, "t", _events(spark, [(2, "U", 2, "g7"), (3, "I", 20, "g1")])
        )

    @staticmethod
    def snapshot(spark, root):
        return _replica(spark, root), None


class MvMerge(Case):
    """IncrementalGroupCount.merge_batch: the before-state write, the
    whole replica merge (its own pointer commit included), the new
    aggregate version and the MV pointer commit — the commit point."""

    commit = staticmethod(lambda root: os.path.join(root, "mv", "data", "_POINTER.json"))
    kinds = {"write", "commit", "remove"}

    def _mv(self, root):
        return IncrementalGroupCount(
            _engine(root, self.buckets), "t", "grp", os.path.join(root, "mv")
        )

    def setup(self, spark, root):
        eng = _engine(root, self.buckets)
        _bootstrap(spark, eng, [(i, f"g{i % 2}") for i in range(1, 7)])
        mv = IncrementalGroupCount(eng, "t", "grp", os.path.join(root, "mv"))
        mv.initialize(spark)
        mv.merge_batch(spark, _events(spark, [(1, "U", 1, "g2")]))

    def run(self, spark, root):
        self._mv(root).merge_batch(
            spark, _events(spark, [(2, "D", 2, None), (3, "I", 30, "g3")])
        )

    def snapshot(self, spark, root):
        # a retry after the replica's commit journals the batch again
        return _rows(self._mv(root).read(spark)), _replica(spark, root, "id")


class JournalCompaction(Case):
    """CdcEngine.compact_journal: the compacted segment, the pointer
    commit that makes it the journal's base, removal of the replaced
    segments."""

    commit = staticmethod(lambda root: os.path.join(root, "w", "tables", "t", "_POINTER.json"))
    kinds = {"write", "commit", "remove"}

    def setup(self, spark, root):
        eng = _engine(root, self.buckets)
        _bootstrap(spark, eng, [(1, "a"), (2, "b")])
        eng.merge_batch(spark, "t", _events(spark, [(1, "U", 1, "a1"), (2, "U", 1, "a2")]))
        eng.apply_envelope_batch(
            spark,
            _events(
                spark,
                [(3, "U", 2, "b1"), (4, "U", 1, "a3"), (5, "U", 2, "b2"), (6, "U", 1, "a4")],
            ),
        )

    def run(self, spark, root):
        _engine(root, self.buckets).compact_journal(spark, "t", retain_after_seq=4)

    @staticmethod
    def snapshot(spark, root):
        return _replica(spark, root), None

    def check(self, new):
        # horizon 4 over ids {1, 2}: seqs 5 and 6 verbatim; pre-horizon
        # history collapses to the latest event per key (4 for id 1, 3
        # for id 2); the bootstrap wrote no snapshot rows
        seqs = [row[0] for row in new[0][2]]
        assert sorted(s for s in seqs if s > 4) == [5, 6]
        assert sorted(s for s in seqs if s <= 4) == [3, 4]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_BASE = "c1 c2 c3 c4"


def _mk(i):
    return f"{_BASE} u{i} t1 t2 t3"


def _index(spark, root, buckets=None):
    """The index under ``root``: created with ``buckets``, or reopened
    at the count pinned in its manifest."""
    return MinHashLshIndex(
        spark, os.path.join(root, "idx"), cap=3, threshold=0.2, n_buckets=buckets or 1
    )


def _index_snapshot(spark, root):
    ts = _index(spark, root).tables()
    return (
        ts.version,
        ts.doc["n_docs"],
        *(
            _rows(ts.read(spark, name, schema))
            for name, schema in (
                ("pairs", "doc_a long, doc_b long, jaccard double"),
                ("df", "shingle string, df long"),
                ("hot", "shingle string"),
                ("shingles", "doc_id long, shingle string"),
                ("bands", "doc_id long, band_id string, sig string"),
                ("cands", "doc_a long, doc_b long"),
                ("tombstones", "doc_id long"),
            )
        ),
    ), None


class IndexIngest(Case):
    """MinHashLshIndex.ingest with a cap crossing (hot-set write and
    re-verification): log segments, copy-on-write tables, manifest."""

    commit = staticmethod(lambda root: os.path.join(root, "idx", "manifest.json"))
    snapshot = staticmethod(_index_snapshot)
    kinds = {"write", "link", "commit"}

    def setup(self, spark, root):
        _index(spark, root, self.buckets).ingest(
            _docs(spark, [(1, _mk(1)), (2, _mk(2)), (7, "z1 z2 z3 z4")])
        )

    @staticmethod
    def run(spark, root):
        _index(spark, root).ingest(_docs(spark, [(3, _mk(3)), (4, _mk(4))]))


class IndexRetract(Case):
    """MinHashLshIndex.retract with a down-crossing: tombstones, df/hot/
    pairs copy-on-write, orphan-segment clearing, manifest."""

    commit = staticmethod(lambda root: os.path.join(root, "idx", "manifest.json"))
    snapshot = staticmethod(_index_snapshot)
    kinds = {"write", "link", "commit", "remove"}

    def setup(self, spark, root):
        ingest = IndexIngest(self.buckets)
        ingest.setup(spark, root)
        ingest.run(spark, root)

    @staticmethod
    def run(spark, root):
        _index(spark, root).retract([3, 4])


def _doc(i, text, lang="en", source="web"):
    return (i, text, lang, source, len(text))


def _manifest(spark, root, buckets=None):
    """The manifest under ``root``: created with ``buckets``, or
    reopened at the count pinned in its meta."""
    return IncrementalCurationManifest(
        spark, os.path.join(root, "mf"), n_buckets=buckets or 1
    )


class ManifestIngest(Case):
    """IncrementalCurationManifest.ingest: four versioned tables and a
    fingerprint segment written concurrently, the meta commit, retirement."""

    commit = staticmethod(lambda root: os.path.join(root, "mf", "meta.json"))
    kinds = {"write", "commit", "remove"}

    def setup(self, spark, root):
        mf = _manifest(spark, root, self.buckets)
        mf.initialize(
            spark.createDataFrame(
                [_doc(0, "alpha beta gamma delta epsilon zeta eta theta")], DOCUMENTS
            )
        )
        mf.ingest(
            spark.createDataFrame(
                [
                    _doc(5, "red orange yellow green blue indigo violet"),
                    _doc(7, "un deux trois quatre cinq six sept", "fr", "books"),
                ],
                DOCUMENTS,
            )
        )
        mf.ingest(
            spark.createDataFrame(
                [_doc(8, "pack my box with five dozen liquor jugs", "en", "cc")],
                DOCUMENTS,
            )
        )

    @staticmethod
    def run(spark, root):
        _manifest(spark, root).ingest(
            spark.createDataFrame(
                [
                    _doc(10, "red orange yellow green blue indigo violet", "en", "cc"),
                    _doc(11, "alpha beta gamma delta epsilon zeta eta theta"),
                    _doc(12, "eins zwei drei vier funf sechs sieben", "de"),
                ],
                DOCUMENTS,
            )
        )

    @staticmethod
    def snapshot(spark, root):
        mf = _manifest(spark, root)
        ts = mf.tables()
        return (
            {k: ts.doc[k] for k in ("version", "max_doc_id", "applied_ranges")},
            _rows(mf.manifest()),
            _rows(mf.stats_by_lang()),
            _rows(mf.stats_by_source()),
            _rows(ts.read(spark, "totals", "split string, lang string, cum_tokens long")),
            _rows(ts.read(spark, "fingerprints", "f string, doc_id long")),
        ), None


def _vectors(spark, ids):
    return spark.createDataFrame(
        [(i, [float((i + 1) * (j + 3) * 37 % 17 - 8) for j in range(8)]) for i in ids],
        "vec_id long, embedding array<float>",
    )


def _ivf(root):
    return IvfIndex(os.path.join(root, "ivf"), n_cells=4, n_probe=2)


def _ivf_search(spark, idx):
    queries = _vectors(spark, [0, 5, 9]).withColumnRenamed("vec_id", "query_id")
    out = _rows(idx.search(spark, queries, top_k=3).select("query_id", "neighbor_id", "rank"))
    idx.release_search_cache()
    return out


def _ivf_snapshot(spark, root):
    """Quantizer, rows by cell, tombstones and a search, through a fresh
    handle."""
    idx = _ivf(root)
    ts = idx.tables()
    return (
        ts.doc["centroids"],
        _rows(ts.read(spark, "cells").select("vec_id", "cell")),
        _rows(ts.read(spark, "tombstones", "vec_id long")),
        _ivf_search(spark, idx),
    ), None


class IvfCase(Case):
    commit = staticmethod(lambda root: os.path.join(root, "ivf", "manifest.json"))
    snapshot = staticmethod(_ivf_snapshot)

    def setup(self, spark, root):
        _ivf(root).build(spark, _vectors(spark, range(40)))


class IvfBuild(IvfCase):
    """IvfIndex.build over a built index with tombstones: the rows under
    the new quantizer, the commit publishing both, removal of the cleared
    tombstone segment."""

    kinds = {"write", "commit", "remove"}

    def setup(self, spark, root):
        super().setup(spark, root)
        _ivf(root).remove(spark, [1, 2])

    @staticmethod
    def run(spark, root):
        _ivf(root).build(spark, _vectors(spark, range(20, 60)))


class IvfAdd(IvfCase):
    """IvfIndex.add: the new rows, links of every cell's files, the commit."""

    kinds = {"write", "link", "commit"}

    @staticmethod
    def run(spark, root):
        _ivf(root).add(spark, _vectors(spark, range(40, 52)))


class IvfRemove(IvfCase):
    """IvfIndex.remove: a tombstone segment and the commit."""

    kinds = {"write", "commit"}

    @staticmethod
    def run(spark, root):
        _ivf(root).remove(spark, [3, 4, 5])


class IvfCompact(IvfCase):
    """IvfIndex.compact: the affected cells' survivors, links of the other
    cells, the commit clearing the tombstones, removal of their segment."""

    kinds = {"write", "link", "commit", "remove"}

    def setup(self, spark, root):
        super().setup(spark, root)
        _ivf(root).remove(spark, [3, 4, 5])

    @staticmethod
    def run(spark, root):
        _ivf(root).compact(spark)


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(CdcMerge(4), id="cdc_merge"),
        pytest.param(CdcMerge(1), id="cdc_merge_1bucket"),
        pytest.param(MvMerge(2), id="mv_merge"),
        pytest.param(MvMerge(1), id="mv_merge_1bucket"),
        pytest.param(IndexIngest(4), id="index_ingest", marks=pytest.mark.slow),
        pytest.param(IndexIngest(1), id="index_ingest_1bucket", marks=pytest.mark.slow),
        pytest.param(IndexRetract(4), id="index_retract", marks=pytest.mark.slow),
        pytest.param(IndexRetract(1), id="index_retract_1bucket", marks=pytest.mark.slow),
        pytest.param(ManifestIngest(4), id="manifest_ingest", marks=pytest.mark.slow),
        pytest.param(
            ManifestIngest(1), id="manifest_ingest_1bucket", marks=pytest.mark.slow
        ),
        pytest.param(JournalCompaction(1), id="journal_compaction_1bucket"),
        pytest.param(JournalCompaction(4), id="journal_compaction", marks=pytest.mark.slow),
        pytest.param(IvfRemove(4), id="ivf_remove"),
        pytest.param(IvfBuild(4), id="ivf_build", marks=pytest.mark.slow),
        pytest.param(IvfAdd(4), id="ivf_add", marks=pytest.mark.slow),
        pytest.param(IvfCompact(4), id="ivf_compact", marks=pytest.mark.slow),
    ],
)
def test_every_crash_point_reads_old_or_new_state(spark, tmp_path, case):
    base = str(tmp_path / "base")
    case.setup(spark, base)
    old = case.snapshot(spark, base)

    # the no-crash run: the mutation sequence and the state it reaches
    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    with pytest.MonkeyPatch.context() as mp:
        counter = Mutations(mp)
        case.run(spark, clean)
    new = case.snapshot(spark, clean)
    assert new != old, "the operation changed nothing: the enumeration is vacuous"
    case.check(new)
    log = [(kind, os.path.relpath(p, clean)) for kind, p in counter.log]
    commits = [i for i, (kind, p) in enumerate(log, 1) if kind == "commit"
               and p == os.path.relpath(case.commit(clean), clean)]
    assert len(commits) == 1, log
    commit_at = commits[0]
    assert {kind for kind, _ in log} == case.kinds, log

    for k in range(1, len(log) + 1):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(base, root)
        cached_before = _n_cached(spark)
        with pytest.MonkeyPatch.context() as mp:
            crashed = Mutations(mp, crash_after=k)
            with pytest.raises(Crash):
                case.run(spark, root)
        where = f"crash after mutation {k}/{len(log)} {log[k - 1]} (commit at {commit_at})"
        # the failed operation released every frame it persisted
        assert _n_cached(spark) <= cached_before, f"{where}: cached frames leaked"
        spark.catalog.clearCache()  # a dead process holds no cache
        assert len(crashed.log) >= k, where
        got = case.snapshot(spark, root)
        if k < commit_at:
            assert got[0] == old[0], f"{where}: a reader saw a partial state"
            case.run(spark, root)
            assert case.snapshot(spark, root) == new, f"{where}: the retry diverged"
        else:
            assert got == new, f"{where}: the committed state is not readable"
        shutil.rmtree(root, ignore_errors=True)


def test_a_build_that_fails_in_its_write_keeps_the_old_index(spark, tmp_path):
    """A rebuild under a new quantizer whose Spark write fails part-way
    leaves the committed index as it was: its quantizer and its search
    results, read through a fresh handle."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    _ivf(root).build(spark, _vectors(spark, range(40)))
    centroids = _ivf(root)._load_centroids()
    before = _ivf_search(spark, _ivf(root))

    @F.udf("array<float>")
    def poisoned(v, i):
        if i == 50:
            raise ValueError("a row the write cannot produce")
        return v

    bad = _vectors(spark, range(20, 60))
    bad = bad.withColumn("embedding", poisoned("embedding", "vec_id"))
    with pytest.raises(Exception, match="a row the write cannot produce"):
        _ivf(root).build(spark, bad, quantizer=centroids[::-1])
    assert (_ivf(root)._load_centroids() == centroids).all()
    assert _ivf_search(spark, _ivf(root)) == before


# -- a whole micro-batch ----------------------------------------------------
#
# CdcEngine.apply_envelope_batch merges its tables side by side, each
# with its own pointer commit (replica and journal segment), so a crash
# can leave any subset of them applied. The contract is the foreachBatch one: a
# replay of the batch completes it.

TABLES = ("t", "u")
# (seq_no, table, op, id, grp): I/U/D on both tables and one event whose
# key fails its cast, which the journal keeps and the merge quarantines
FIRST_BATCH = [(1, "t", "U", "1", "g9"), (2, "u", "U", "2", "g9")]
BATCH = [
    (3, "t", "I", "20", "g1"),
    (4, "u", "U", "3", "g7"),
    (5, "t", "U", "2", "g5"),
    (6, "u", "D", "4", None),
    (7, "t", "D", "5", None),
    (8, "u", "I", "30", "g3"),
    (9, "t", "U", "x", "g4"),
]


def _batch_engine(root, n_buckets):
    return CdcEngine(
        ReplicaStore(os.path.join(root, "w")),
        tables=dict.fromkeys(TABLES, SCHEMA),
        primary_keys=dict.fromkeys(TABLES, "id"),
        write_partitions=1,
        n_buckets=n_buckets,
    )


def _envelopes(spark, rows):
    return spark.createDataFrame(
        [
            (seq, f"2024-01-01 00:{seq:02d}:00", t, op, {"id": i, "grp": g})
            for seq, t, op, i, g in rows
        ],
        ENVELOPE,
    )


def _batch_state(spark, root, n_buckets):
    """Per table: replica rows, watermark, deduplicated journal and
    quarantine, read through fresh handles."""
    eng = _batch_engine(root, n_buckets)
    return {
        t: (
            _rows(eng.store.read(spark, t)),
            eng.store.watermark(t),
            _rows(eng.store.read_journal(spark, t, pk="id")),
            _rows(eng.quarantine(spark, t)),
        )
        for t in TABLES
    }


@pytest.mark.parametrize(
    "buckets", [1, pytest.param(4, marks=pytest.mark.slow)], ids=lambda b: f"{b}bucket"
)
def test_every_crash_point_of_a_micro_batch_replays_to_the_clean_state(
    spark, tmp_path, buckets
):
    """Crash a two-table ``apply_envelope_batch`` after each of its
    mutations (journal segment and merge writes, links, pointer commits,
    retirements): each table reads as before the batch until its commit,
    journal included. Then replay the batch as ``foreachBatch`` would:
    every table's replica, watermark, journal and quarantine equal a run
    that never crashed."""
    base = str(tmp_path / "base")
    eng = _batch_engine(base, buckets)
    snapshot = spark.createDataFrame([(i, f"g{i % 3}") for i in range(1, 9)], SCHEMA)
    eng.bootstrap(spark, dict.fromkeys(TABLES, snapshot), "2024-01-01 00:00:00")
    eng.apply_envelope_batch(spark, _envelopes(spark, FIRST_BATCH))
    old = _batch_state(spark, base, buckets)

    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    with pytest.MonkeyPatch.context() as mp:
        counter = Mutations(mp)
        _batch_engine(clean, buckets).apply_envelope_batch(spark, _envelopes(spark, BATCH))
    new = _batch_state(spark, clean, buckets)
    assert new != old, "the batch changed nothing: the enumeration is vacuous"
    kinds = {"write", "commit", "remove"} | ({"link"} if buckets > 1 else set())
    assert {kind for kind, _ in counter.log} == kinds, counter.log
    assert sum(kind == "commit" for kind, _ in counter.log) == len(TABLES), counter.log

    for k in range(1, len(counter.log) + 1):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(base, root)
        cached_before = _n_cached(spark)
        with pytest.MonkeyPatch.context() as mp:
            crashed = Mutations(mp, crash_after=k)
            with pytest.raises(Crash):
                _batch_engine(root, buckets).apply_envelope_batch(
                    spark, _envelopes(spark, BATCH)
                )
        where = f"crash after mutation {k}/{len(counter.log)}"
        assert _n_cached(spark) <= cached_before, f"{where}: cached frames leaked"
        spark.catalog.clearCache()  # a dead process holds no cache
        # a table reads as before the batch until its commit — journal
        # and quarantine included — and as after it from then on
        committed = {
            os.path.basename(os.path.dirname(p)) for kind, p in crashed.log if kind == "commit"
        }
        crashed_state = _batch_state(spark, root, buckets)
        for t in TABLES:
            want = new[t] if t in committed else old[t]
            assert crashed_state[t] == want, f"{where}: table {t} (committed: {sorted(committed)})"
        _batch_engine(root, buckets).apply_envelope_batch(spark, _envelopes(spark, BATCH))
        assert _batch_state(spark, root, buckets) == new, f"{where}: the replay diverged"
        shutil.rmtree(root, ignore_errors=True)
