"""Versioned on-disk state shared by every maintained engine: the CDC
replica store (streaming/cdc.py), the MinHash-LSH index
(operators/dedup_index.py), the curation manifest (streaming/curation.py),
the incremental MVs (streaming/mv.py) and the small streaming state files
(streaming/index_sync.py, streaming/dedup.py).

Each engine keeps its tables as version directories ``<table>/v<N>/``
and publishes a version by committing ONE small JSON document (a replica
``_POINTER.json``, an index ``manifest.json``, a manifest ``meta.json``,
an MV ``_POINTER.json``). The rules, in one place:

- **Commit.** :func:`commit_json` writes ``<path>.tmp``, flushes and
  fsyncs it, ``os.replace``-s it over ``<path>`` and fsyncs the
  directory, so a crash or power loss publishes either the old document
  or the new one, never an empty or torn one. Data files are written
  BEFORE the commit that names them; readers resolve the committed
  document, so a crashed operation's files are invisible.
  Spark-written parquet files are NOT fsynced here (Spark's committer
  owns them); durability of data files across a power loss is out of
  scope — this module makes the commit atomic and the commit document
  durable.
- **Version listing.** :func:`versions` is the only parser of ``v<N>``
  directory names.
- **Log segments.** Append-only logs store one segment per writing
  operation at ``<log>/v<N>/`` (written with overwrite, so a retry of a
  crashed operation replaces its orphan segment). :func:`segment_files`
  returns the parquet files of the COMMITTED segments ``v <= upto`` —
  gating on the committed version, never the listing, keeps orphans
  invisible — optionally pruned to named hash-bucket partitions.
- **Copy-on-write.** :func:`link_untouched` hard-links (or copies, across
  devices) every untouched hash-bucket directory of the previous version
  into the new one, so a version is a complete snapshot while a write
  materializes only the buckets its keys touch.
- **Retention.** :func:`retire` keys on the COMMITTED version, never the
  listing: keep the committed version and the ``keep - 1`` highest
  versions below it, delete everything else — including orphans ABOVE
  the committed version left by crashed operations. Hard links keep the
  inodes shared with retained versions alive.
- **Concurrency.** :func:`run_concurrently` runs independent writes from
  driver threads, waits for all of them and surfaces every failure.
"""

from __future__ import annotations

import json
import os
import shutil


def read_json(path: str, default: dict | None = None) -> dict:
    """The committed document at ``path``, or a copy of ``default`` when
    none was ever committed (``default=None`` re-raises)."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        if default is None:
            raise
        return dict(default)


def commit_json(path: str, doc: dict) -> None:
    """Atomically and durably replace ``path`` with ``doc``."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def version_dir(root: str, version: int) -> str:
    return os.path.join(root, f"v{version}")


def versions(root: str) -> list[int]:
    """Every ``v<N>`` directory under ``root`` (committed or not), ascending."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(n[1:]) for n in os.listdir(root) if n.startswith("v") and n[1:].isdigit()
    )


def files_under(path: str, bucket_col: str, buckets: list[int] | None = None) -> list[str]:
    """Parquet files of one version directory, pinned at call time (a
    recompute after later appends cannot see their rows). With
    ``buckets``, only the named ``<bucket_col>=<b>`` partitions; without,
    every partition plus any unpartitioned files."""
    if not os.path.isdir(path):
        return []
    out: list[str] = []
    for name in sorted(os.listdir(path)):
        sub = os.path.join(path, name)
        if os.path.isdir(sub) and name.startswith(f"{bucket_col}="):
            if buckets is not None and int(name.split("=", 1)[1]) not in buckets:
                continue
            out += sorted(
                os.path.join(sub, f) for f in os.listdir(sub) if f.endswith(".parquet")
            )
        elif name.endswith(".parquet") and buckets is None:
            out.append(sub)
    return out


def segment_files(
    root: str, upto: int, bucket_col: str, buckets: list[int] | None = None
) -> list[str]:
    """Parquet files of the committed log segments ``v1..v{upto}``."""
    out: list[str] = []
    for v in versions(root):
        if v <= upto:
            out += files_under(version_dir(root, v), bucket_col, buckets)
    return out


def link_file(src: str, dst: str) -> None:
    try:
        os.link(src, dst)  # zero-copy: same inode
    except OSError:
        shutil.copy2(src, dst)  # cross-device fallback


def link_untouched(
    old: str, new: str, bucket_col: str, touched: list[int], suffix: str = ""
) -> None:
    """Hard-link every file ending in ``suffix`` of every
    ``<bucket_col>=<b>`` directory of version dir ``old`` whose bucket is
    not in ``touched`` into version dir ``new``. On a distributed
    filesystem without hard links the same contract is 'reference the
    previous version's files in the new manifest' (Iceberg/Delta-style)."""
    touched = set(touched)
    for name in os.listdir(old):
        if not name.startswith(f"{bucket_col}="):
            continue
        if int(name.split("=", 1)[1]) in touched:
            continue
        src_dir, dst_dir = os.path.join(old, name), os.path.join(new, name)
        os.makedirs(dst_dir, exist_ok=True)
        for fname in os.listdir(src_dir):
            if fname.endswith(suffix):
                link_file(os.path.join(src_dir, fname), os.path.join(dst_dir, fname))


def remove_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def retire(root: str, committed: int, keep: int = 2) -> None:
    """Keep version ``committed`` and the ``keep - 1`` highest versions
    below it; delete every other version directory under ``root``."""
    listed = versions(root)
    below = [v for v in listed if v < committed]
    kept = {committed, *below[::-1][: keep - 1]}
    for v in listed:
        if v not in kept:
            remove_dir(version_dir(root, v))


def run_concurrently(jobs) -> list:
    """Run independent jobs from driver threads so their Spark jobs
    schedule concurrently (SparkSession is thread-safe); returns their
    results in submission order. Waits for EVERY job, then raises the
    first failure in submission order with the others attached as notes
    — siblings are not cancelled, so a failed operation may leave any
    subset of its writes on disk, all in not-yet-committed version
    directories a retry overwrites."""
    if len(jobs) <= 1:
        return [j() for j in jobs]
    from concurrent.futures import ThreadPoolExecutor, wait

    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        futures = [ex.submit(j) for j in jobs]
        wait(futures)
    errors = [f.exception() for f in futures if f.exception() is not None]
    if errors:
        for e in errors[1:]:
            errors[0].add_note(f"concurrent job also failed: {e!r}")
        raise errors[0]
    return [f.result() for f in futures]
