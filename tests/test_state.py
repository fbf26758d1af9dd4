"""The versioned-state module (state.py) every maintained engine builds
on: durable JSON commit, ``v<N>`` listing, committed-segment file lists,
copy-on-write links, retention keyed on the committed version, and the
concurrency helper — plus a structure check that keeps those decisions
in that one module. No Spark session: the whole file runs in seconds."""

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


# -- structure check -------------------------------------------------------

# Crash handling that deliberately stays outside state.py, by
# (package-relative file, enclosing function or None for the whole file):
# the journal compaction swaps whole directories by rename, and the IVF
# index keeps its own staging-directory recovery.
ALLOWED = {
    ("streaming/cdc.py", "compact_journal"),
    ("operators/ann_index.py", None),
}
FORBIDDEN_CALLS = {"replace", "link", "rename"}


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
            if what and (rel, func) not in ALLOWED and (rel, None) not in ALLOWED:
                found.append(f"{rel}:{node.lineno} in {func}: {what}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_versioned_state_decisions_live_only_in_state_module():
    """Commit (os.replace), copy-on-write (os.link), directory swaps
    (os.rename) and v<N> listings appear nowhere in the package outside
    state.py, except the named exceptions."""
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
    the exceptions are scoped to their function."""
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
    )
    assert len(_violations(str(src), "streaming/other.py")) == 4
    assert len(_violations(str(src), "streaming/cdc.py")) == 3
    assert _violations(str(src), "operators/ann_index.py") == []
