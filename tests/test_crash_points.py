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
point. Inputs are tiny; the index and manifest cases are ``slow``.
"""

import os
import shutil
import threading

import pytest
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from sfguide_getting_started_openflow_postgresql_cdc_spark import state
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


# -- the operations ---------------------------------------------------------
#
# Each case: setup(spark, root) builds the starting state under root;
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


def _replica(spark, root, n_buckets):
    store = _engine(root, n_buckets).store
    return _rows(store.read(spark, "t")), store.watermark("t")


class CdcMerge:
    """CdcEngine.merge_batch -> ReplicaStore.write_merged: Spark write,
    hard links of the untouched buckets, version stamp, pointer commit,
    retirement of the version beyond keep_versions."""

    commit = staticmethod(lambda root: os.path.join(root, "w", "tables", "t", "_POINTER.json"))
    kinds = {"write", "link", "commit", "remove"}

    @staticmethod
    def setup(spark, root):
        eng = _engine(root, 4)
        _bootstrap(spark, eng, [(i, f"g{i % 3}") for i in range(1, 9)])
        eng.merge_batch(spark, "t", _events(spark, [(1, "U", 1, "g9")]))

    @staticmethod
    def run(spark, root):
        _engine(root, 4).merge_batch(
            spark, "t", _events(spark, [(2, "U", 2, "g7"), (3, "I", 20, "g1")])
        )

    @staticmethod
    def snapshot(spark, root):
        return _replica(spark, root, 4), None


class MvMerge:
    """IncrementalGroupCount.merge_batch: the before-state write, the
    whole replica merge (its own pointer commit included), the new
    aggregate version and the MV pointer commit — the commit point."""

    commit = staticmethod(lambda root: os.path.join(root, "mv", "data", "_POINTER.json"))
    kinds = {"write", "commit", "remove"}

    @staticmethod
    def _mv(root):
        return IncrementalGroupCount(_engine(root, 2), "t", "grp", os.path.join(root, "mv"))

    @staticmethod
    def setup(spark, root):
        eng = _engine(root, 2)
        _bootstrap(spark, eng, [(i, f"g{i % 2}") for i in range(1, 7)])
        mv = IncrementalGroupCount(eng, "t", "grp", os.path.join(root, "mv"))
        mv.initialize(spark)
        mv.merge_batch(spark, _events(spark, [(1, "U", 1, "g2")]))

    @staticmethod
    def run(spark, root):
        MvMerge._mv(root).merge_batch(
            spark, _events(spark, [(2, "D", 2, None), (3, "I", 30, "g3")])
        )

    @staticmethod
    def snapshot(spark, root):
        return _rows(MvMerge._mv(root).read(spark)), _replica(spark, root, 2)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_BASE = "c1 c2 c3 c4"


def _mk(i):
    return f"{_BASE} u{i} t1 t2 t3"


def _index(spark, root):
    return MinHashLshIndex(spark, os.path.join(root, "idx"), cap=3, threshold=0.2, n_buckets=4)


def _index_snapshot(spark, root):
    idx = _index(spark, root)
    tomb = idx._tombstones()
    return (
        idx._manifest()["version"],
        idx._manifest()["n_docs"],
        _rows(idx.pairs()),
        _rows(idx._cow_read("df", "shingle string, df long")),
        _rows(idx._cow_read("hot", "shingle string")),
        _rows(idx._read_append("shingles", "doc_id long, shingle string")),
        _rows(idx._read_append("bands", "doc_id long, band_id string, sig string")),
        _rows(idx._read_append("cands", "doc_a long, doc_b long")),
        _rows(tomb) if tomb is not None else [],
    ), None


class IndexIngest:
    """MinHashLshIndex.ingest with a cap crossing (hot-set write and
    re-verification): log segments, copy-on-write tables, manifest."""

    commit = staticmethod(lambda root: os.path.join(root, "idx", "manifest.json"))
    snapshot = staticmethod(_index_snapshot)
    kinds = {"write", "link", "commit"}

    @staticmethod
    def setup(spark, root):
        _index(spark, root).ingest(_docs(spark, [(1, _mk(1)), (2, _mk(2)), (7, "z1 z2 z3 z4")]))

    @staticmethod
    def run(spark, root):
        _index(spark, root).ingest(_docs(spark, [(3, _mk(3)), (4, _mk(4))]))


class IndexRetract:
    """MinHashLshIndex.retract with a down-crossing: tombstones, df/hot/
    pairs copy-on-write, orphan-segment clearing, manifest."""

    commit = staticmethod(lambda root: os.path.join(root, "idx", "manifest.json"))
    snapshot = staticmethod(_index_snapshot)
    kinds = {"write", "link", "commit", "remove"}

    @staticmethod
    def setup(spark, root):
        IndexIngest.setup(spark, root)
        IndexIngest.run(spark, root)

    @staticmethod
    def run(spark, root):
        _index(spark, root).retract([3, 4])


def _doc(i, text, lang="en", source="web"):
    return (i, text, lang, source, len(text))


def _manifest(spark, root):
    return IncrementalCurationManifest(spark, os.path.join(root, "mf"), n_buckets=4)


class ManifestIngest:
    """IncrementalCurationManifest.ingest: four versioned tables and a
    fingerprint segment written concurrently, the meta commit, retirement."""

    commit = staticmethod(lambda root: os.path.join(root, "mf", "meta.json"))
    kinds = {"write", "commit", "remove"}

    @staticmethod
    def setup(spark, root):
        mf = _manifest(spark, root)
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
        meta = mf._meta()
        return (
            {k: meta[k] for k in ("version", "max_doc_id", "applied_ranges")},
            _rows(mf.manifest()),
            _rows(mf.stats_by_lang()),
            _rows(mf.stats_by_source()),
            _rows(mf._read("totals", "split string, lang string, cum_tokens long")),
            _rows(mf._read_fps(list(range(4)), meta["version"])),
        ), None


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(CdcMerge, id="cdc_merge"),
        pytest.param(MvMerge, id="mv_merge"),
        pytest.param(IndexIngest, id="index_ingest", marks=pytest.mark.slow),
        pytest.param(IndexRetract, id="index_retract", marks=pytest.mark.slow),
        pytest.param(ManifestIngest, id="manifest_ingest", marks=pytest.mark.slow),
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
    log = [(kind, os.path.relpath(p, clean)) for kind, p in counter.log]
    commits = [i for i, (kind, p) in enumerate(log, 1) if kind == "commit"
               and p == os.path.relpath(case.commit(clean), clean)]
    assert len(commits) == 1, log
    commit_at = commits[0]
    assert {kind for kind, _ in log} == case.kinds, log

    for k in range(1, len(log) + 1):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(base, root)
        with pytest.MonkeyPatch.context() as mp:
            crashed = Mutations(mp, crash_after=k)
            with pytest.raises(Crash):
                case.run(spark, root)
        spark.catalog.clearCache()  # a dead process holds no cache
        where = f"crash after mutation {k}/{len(log)} {log[k - 1]} (commit at {commit_at})"
        assert len(crashed.log) >= k, where
        got = case.snapshot(spark, root)
        if k < commit_at:
            assert got[0] == old[0], f"{where}: a reader saw a partial state"
            case.run(spark, root)
            assert case.snapshot(spark, root) == new, f"{where}: the retry diverged"
        else:
            assert got == new, f"{where}: the committed state is not readable"
        shutil.rmtree(root, ignore_errors=True)
