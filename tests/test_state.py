"""The versioned-state module (state.py) every maintained engine builds
on: durable JSON commit, ``v<N>`` listing, committed-segment file lists,
copy-on-write links, retention keyed on the committed version, and the
concurrency helper — plus a structure check that keeps those decisions
in that one module. Only the job-group test starts Spark jobs (two
one-row counts); the whole file runs in seconds once a session exists."""

import ast
import json
import os
import threading
import time

import pytest

from sfguide_getting_started_openflow_postgresql_cdc_spark import state

PKG = os.path.dirname(state.__file__)


def _mkfile(path, data=b"x"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def test_commit_json_replaces_atomically_and_reads_back(tmp_path, monkeypatch):
    p = str(tmp_path / "manifest.json")
    assert state.read_json(p, {"version": 0}) == {"version": 0}
    with pytest.raises(FileNotFoundError):
        state.read_json(p)
    synced = []
    real_fsync = os.fsync
    monkeypatch.setattr(os, "fsync", lambda fd: (synced.append(fd), real_fsync(fd)))
    state.commit_json(p, {"version": 1})
    state.commit_json(p, {"version": 2, "tables": {"df": 2}})
    assert state.read_json(p) == {"version": 2, "tables": {"df": 2}}
    assert os.listdir(tmp_path) == ["manifest.json"]  # no .tmp left behind
    assert len(synced) == 4  # file + directory, per commit
    # the default is copied, never shared between callers
    d = {"version": 0}
    state.read_json(str(tmp_path / "none.json"), d)["version"] = 9
    assert d == {"version": 0}


def test_commit_json_failure_keeps_previous_document(tmp_path, monkeypatch):
    p = str(tmp_path / "meta.json")
    state.commit_json(p, {"version": 1})

    def boom(src, dst):
        raise OSError("power loss before the rename")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError):
        state.commit_json(p, {"version": 2})
    assert json.load(open(p)) == {"version": 1}


def test_versions_lists_only_version_dirs(tmp_path):
    root = tmp_path / "t"
    assert state.versions(str(root)) == []
    for name in ("v0", "v10", "v2", "vx", "_POINTER.json", "before"):
        (root / name).mkdir(parents=True)
    assert state.versions(str(root)) == [0, 2, 10]


def test_retire_keys_on_committed_version_and_drops_orphans(tmp_path):
    root = tmp_path / "pairs"
    for v in (1, 2, 3, 5, 6):
        (root / f"v{v}").mkdir(parents=True)
    # committed 3: keep 3 and the highest below it; 5, 6 are crashed
    # operations' orphans and go even though they outrank the committed one
    state.retire(str(root), 3, keep=2)
    assert state.versions(str(root)) == [2, 3]
    for v in (0, 1):
        (root / f"v{v}").mkdir()
    state.retire(str(root), 3, keep=4)
    assert state.versions(str(root)) == [0, 1, 2, 3]
    state.retire(str(root), 3, keep=1)
    assert state.versions(str(root)) == [3]
    # never-committed table: every directory is an orphan
    state.retire(str(root), 0, keep=2)
    assert state.versions(str(root)) == []


def test_segment_files_gate_on_committed_version_and_prune_buckets(tmp_path):
    root = str(tmp_path / "bands")
    for v in (1, 2, 3):
        for b in (0, 1):
            _mkfile(os.path.join(root, f"v{v}", f"_B={b}", f"part-{v}{b}.parquet"))
            _mkfile(os.path.join(root, f"v{v}", f"_B={b}", f".part-{v}{b}.parquet.crc"))
    _mkfile(os.path.join(root, "v2", "part-flat.parquet"))
    got = [os.path.relpath(f, root) for f in state.segment_files(root, 2, "_B")]
    assert got == [
        "v1/_B=0/part-10.parquet",
        "v1/_B=1/part-11.parquet",
        "v2/_B=0/part-20.parquet",
        "v2/_B=1/part-21.parquet",
        "v2/part-flat.parquet",
    ]
    pruned = [os.path.relpath(f, root) for f in state.segment_files(root, 3, "_B", [1])]
    assert pruned == [
        "v1/_B=1/part-11.parquet",
        "v2/_B=1/part-21.parquet",
        "v3/_B=1/part-31.parquet",
    ]
    assert state.segment_files(str(tmp_path / "missing"), 5, "_B") == []


def test_link_untouched_shares_inodes_of_untouched_buckets(tmp_path):
    old, new = str(tmp_path / "v1"), str(tmp_path / "v2")
    for b in (0, 1, 2):
        _mkfile(os.path.join(old, f"_B={b}", "part-0.parquet"))
        _mkfile(os.path.join(old, f"_B={b}", ".part-0.parquet.crc"))
    _mkfile(os.path.join(old, "_SUCCESS"))
    _mkfile(os.path.join(new, "_B=1", "part-new.parquet"))  # the rewritten bucket
    state.link_untouched(old, new, "_B", [1], suffix=".parquet")
    assert sorted(os.listdir(new)) == ["_B=0", "_B=1", "_B=2"]
    assert os.listdir(os.path.join(new, "_B=1")) == ["part-new.parquet"]
    for b in (0, 2):
        src = os.path.join(old, f"_B={b}", "part-0.parquet")
        dst = os.path.join(new, f"_B={b}", "part-0.parquet")
        assert os.stat(src).st_ino == os.stat(dst).st_ino
        assert os.listdir(os.path.join(new, f"_B={b}")) == ["part-0.parquet"]
    # without a suffix filter every file of the bucket is linked
    state.link_untouched(old, str(tmp_path / "v3"), "_B", [0, 1])
    assert sorted(os.listdir(tmp_path / "v3" / "_B=2")) == [
        ".part-0.parquet.crc",
        "part-0.parquet",
    ]


def test_run_concurrently_returns_results_in_order():
    assert state.run_concurrently([]) == []
    assert state.run_concurrently([lambda: 1]) == [1]
    assert state.run_concurrently([lambda: 1, lambda: 2, lambda: 3]) == [1, 2, 3]


def test_run_concurrently_waits_for_all_and_reports_every_failure():
    """Two failing jobs and one slow job that succeeds: the call returns
    only after the slow job finished, raises the FIRST failure in
    submission order and carries the second as a note."""
    done = threading.Event()

    def first():
        time.sleep(0.2)  # fails LAST in time, but first in submission order
        raise ValueError("first")

    def slow():
        time.sleep(0.5)
        done.set()
        return "slow"

    def second():
        raise KeyError("second")

    with pytest.raises(ValueError, match="first") as info:
        state.run_concurrently([first, slow, second])
    assert done.is_set(), "returned before the slow job finished"
    notes = getattr(info.value, "__notes__", [])
    assert len(notes) == 1 and "second" in notes[0]


def test_run_concurrently_keeps_the_callers_job_group(spark):
    """Pool threads run with the caller's Spark local properties, so a
    job group set by the caller (a streaming query sets one per run, and
    cancels it on ``stop()``) covers the jobs started under it."""
    sc = spark.sparkContext
    group = f"run-concurrently-{time.monotonic_ns()}"
    sc.setJobGroup(group, "two jobs from pool threads")
    try:
        state.run_concurrently(
            [lambda: sc.parallelize([1]).count(), lambda: sc.parallelize([2]).count()]
        )
    finally:
        sc._jsc.clearJobGroup()
    deadline = time.monotonic() + 10  # the status store is fed asynchronously
    while len(sc.statusTracker().getJobIdsForGroup(group)) < 2:
        assert time.monotonic() < deadline, "jobs ran outside the caller's group"
        time.sleep(0.05)


# -- structure check -------------------------------------------------------

FORBIDDEN_CALLS = {"replace", "link", "rename"}
# The versioned-table primitives: only state.TableSet calls them.
TABLE_PRIMITIVES = {"commit_json", "link_untouched", "segment_files", "retire"}
# The two small state files that are not tables commit their own JSON,
# by (package-relative file, enclosing function).
ALLOWED_COMMITS = {
    ("streaming/index_sync.py", "sync_soft_deletes"),  # applied_watermark
    ("streaming/dedup.py", "neardup_filter_batch_indexed"),  # stream epochs
}


def _violations(path: str, rel: str) -> list[str]:
    tree = ast.parse(open(path).read(), filename=path)
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            what = None
            if (
                isinstance(f.value, ast.Name)
                and f.value.id == "state"
                and f.attr in TABLE_PRIMITIVES
                and not (f.attr == "commit_json" and (rel, func) in ALLOWED_COMMITS)
            ):
                found.append(f"{rel}:{node.lineno} in {func}: state.{f.attr} outside TableSet")
            elif (
                isinstance(f.value, ast.Name)
                and f.value.id == "os"
                and f.attr in FORBIDDEN_CALLS
            ):
                what = f"os.{f.attr}"
            elif (
                f.attr == "isdigit"
                and isinstance(f.value, ast.Subscript)
                and isinstance(f.value.slice, ast.Slice)
            ):
                what = "v<N> directory listing ([1:].isdigit())"
            elif f.attr == "mode" and any(
                isinstance(a, ast.Constant) and a.value == "append" for a in node.args
            ):
                what = "Spark append write"
            elif any(
                isinstance(a, ast.Constant)
                and isinstance(a.value, str)
                and "partitionOverwriteMode" in a.value
                for a in node.args
            ):
                what = "partitionOverwriteMode conf"
            if what:
                found.append(f"{rel}:{node.lineno} in {func}: {what}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_versioned_state_decisions_live_only_in_state_module():
    """Commit (os.replace), copy-on-write (os.link), directory swaps
    (os.rename), v<N> listings, Spark append writes, dynamic partition
    overwrites and the versioned-table primitives (state.commit_json,
    link_untouched, segment_files, retire) appear nowhere in the package
    outside state.py; only the two small state files commit their own
    JSON."""
    bad = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            if rel == "state.py":
                continue
            bad += _violations(path, rel)
    assert bad == [], "\n".join(bad)


def test_structure_check_sees_a_violation(tmp_path):
    """The check is not vacuous: each pattern it forbids is caught, and
    the JSON-commit exception is scoped to its function."""
    src = tmp_path / "mod.py"
    src.write_text(
        "import os\n"
        "def commit(p):\n"
        "    os.replace(p + '.tmp', p)\n"
        "def cow(a, b):\n"
        "    os.link(a, b)\n"
        "def listing(names):\n"
        "    return [n for n in names if n[1:].isdigit()]\n"
        "def compact_journal(a, b):\n"
        "    os.rename(a, b)\n"
        "def sync_soft_deletes(p):\n"
        "    state.commit_json(p, {})\n"
        "def journal(df, p):\n"
        "    df.write.mode('append').parquet(p)\n"
        "def compact(spark):\n"
        "    spark.conf.set('spark.sql.sources.partitionOverwriteMode', 'dynamic')\n"
    )
    assert len(_violations(str(src), "streaming/other.py")) == 7
    assert len(_violations(str(src), "streaming/index_sync.py")) == 6


# -- the table set -----------------------------------------------------------


def test_table_set_refuses_a_document_of_another_layout(tmp_path):
    """A commit document records its storage layout; one written by an
    older layout is refused at open, never misread."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    state.commit_json(os.path.join(root, "_POINTER.json"), {"version": 3})
    with pytest.raises(ValueError, match="layout 1, this code reads layout 2"):
        state.TableSet(root, "_POINTER.json", {".": state.TableSet.COW}, layout=2)
    ts = state.TableSet(root, "_POINTER.json", {".": state.TableSet.COW})
    assert ts.version == 3 and ts.committed(".") is None
    # never committed: the engine's empty document at version 0
    ts = state.TableSet(str(tmp_path / "new"), "meta.json", {}, empty={"n_docs": 0})
    assert ts.doc == {"version": 0, "n_docs": 0, "layout": 1, "tables": {}}


def test_a_replica_of_the_stamp_layout_is_refused_at_open(tmp_path):
    """A replica table written with a _VERSION.json stamp per version has
    no watermark map in its pointer: time travel would misread it."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
        ReplicaStore,
    )

    store = ReplicaStore(str(tmp_path / "w"))
    tdir = tmp_path / "w" / "tables" / "t"
    (tdir / "v0").mkdir(parents=True)
    (tdir / "v0" / "_VERSION.json").write_text('{"version": 0, "watermark": 3}')
    (tdir / "_POINTER.json").write_text('{"version": 0, "watermark": 3, "n_buckets": 1}')
    with pytest.raises(ValueError, match="storage layout 1"):
        store.watermark("t")


def test_a_long_log_is_read_without_a_listing_job(spark, tmp_path):
    """A read + count() of a 40-segment log starts as many Spark jobs as
    one of a 1-segment log: a read passes one path per committed file,
    and past ``parallelPartitionDiscovery.threshold`` paths (Spark's
    default is 32) Spark lists them in a job of its own."""
    sc = spark.sparkContext

    def jobs(n_segments):
        ts = state.TableSet(str(tmp_path / f"log{n_segments}"), "doc.json", {"log": "log"})
        for _ in range(n_segments):
            ts.write("log", spark.range(1).coalesce(1))
            ts.commit({})
            ts = state.TableSet(ts.root, "doc.json", {"log": "log"})
        assert len(ts.files("log")) == n_segments
        group = f"log-read-{n_segments}-{time.monotonic_ns()}"
        sc.setJobGroup(group, "a log read")
        try:
            assert ts.read(spark, "log", "id long").count() == n_segments
        finally:
            sc._jsc.clearJobGroup()
        time.sleep(0.5)  # the status store is fed asynchronously
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(40) == jobs(1)


def test_a_replica_of_the_plain_journal_layout_is_refused_at_open(tmp_path):
    """A layout-2 pointer kept its journal in a plain-append directory
    outside the table set: reading it as layout 3 would show no journal."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
        ReplicaStore,
    )

    store = ReplicaStore(str(tmp_path / "w"))
    tdir = tmp_path / "w" / "tables" / "t"
    tdir.mkdir(parents=True)
    (tdir / "_POINTER.json").write_text(
        '{"version": 0, "watermark": 3, "n_buckets": 1, "layout": 2,'
        ' "tables": {".": 0}, "watermarks": {"0": 3}}'
    )
    with pytest.raises(ValueError, match="storage layout 2, this code reads layout 3"):
        store.watermark("t")


def test_an_ivf_index_of_the_older_layout_is_refused_at_open(tmp_path):
    """An IVF index that kept its quantizer in centroids.json and its rows
    under index/ has no manifest.json: opened as a table set it would read
    as unbuilt (no PQ inferred, removals tombstoning nothing)."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.ann_index import (
        IvfIndex,
    )

    for old in ("centroids.json", "index/cell=0/part-0.parquet"):
        root = tmp_path / old.split("/")[0].split(".")[0]
        _mkfile(str(root / old), b"[]")
        with pytest.raises(ValueError, match="older layout"):
            IvfIndex(str(root))
        with pytest.raises(ValueError, match="older layout"):
            IvfIndex(str(root), pq_m=0).tables()
    # an empty directory is an unbuilt index of the current layout
    (tmp_path / "new").mkdir()
    assert IvfIndex(str(tmp_path / "new")).pq_m is None


def test_a_batch_of_malformed_events_journals_without_a_replica_version(spark, tmp_path):
    """Only malformed events: the commit publishes their journal segment
    (the quarantine lists them) and adds no time-travel target."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
        ENVELOPE,
        CdcEngine,
        ReplicaStore,
    )

    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "w")),
        tables={"t": spark.createDataFrame([], "id long, v string").schema},
        primary_keys={"t": "id"},
        write_partitions=1,
    )
    eng.bootstrap(spark, {"t": spark.createDataFrame([(1, "a")], "id long, v string")},
                  "2024-01-01 00:00:00", journal_snapshot=False)
    bad = spark.createDataFrame(
        [(1, "2024-01-01 00:01:00", "t", "U", {"id": "x", "v": "b"}),
         (2, "2024-01-01 00:02:00", "t", "Z", {"id": "1", "v": "c"})],
        ENVELOPE,
    )
    eng.merge_batch(spark, "t", bad)
    assert sorted(r["seq_no"] for r in eng.quarantine(spark, "t").collect()) == [1, 2]
    assert eng.store.versions("t") == [0] and eng.store.version("t") == 0
    assert eng.store.watermark("t") == -1
    assert [tuple(r) for r in eng.store.read(spark, "t").select("id", "v").collect()] == [(1, "a")]
