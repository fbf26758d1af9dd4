"""Versioned on-disk state shared by every maintained engine: the CDC
replica store and its journals (streaming/cdc.py), the MinHash-LSH index
(operators/dedup_index.py), the IVF index (operators/ann_index.py), the
curation manifest (streaming/curation.py), the incremental MVs
(streaming/mv.py) and the small streaming state files
(streaming/index_sync.py, streaming/dedup.py).

Each engine keeps its state as one :class:`TableSet`: named tables under
a root directory, published together by ONE small JSON commit document
(a replica's ``_POINTER.json``, each index's ``manifest.json``, the
manifest's ``meta.json``, an MV's ``_POINTER.json``). No engine writes
live state any other way: no Spark append, no in-place or dynamic
partition overwrite, no directory swap. A table is either
copy-on-write by hash bucket (every version a complete snapshot) or an
append-only segment log (one segment per writing operation). An
operation opens the set, which pins the committed document; it reads
every table at that version, writes the next one, and publishes it with
one :meth:`TableSet.commit`. The rules, in one place:

- **Commit.** :func:`commit_json` writes ``<path>.tmp``, flushes and
  fsyncs it, ``os.replace``-s it over ``<path>`` and fsyncs the
  directory, so a crash or power loss publishes either the old document
  or the new one, never an empty or torn one. Data files are written
  BEFORE the commit that names them; readers resolve the committed
  document, so a crashed operation's files are invisible.
  Spark-written parquet files are NOT fsynced here (Spark's committer
  owns them); durability of data files across a power loss is out of
  scope — this module makes the commit atomic and the commit document
  durable. A document of another storage layout is refused at open.
- **Version listing.** :func:`versions` is the only parser of ``v<N>``
  directory names.
- **Log segments.** A log table stores one segment per writing
  operation at ``<log>/v<N>/`` (written with overwrite, so a retry of a
  crashed operation replaces its orphan segment). Reads take the
  COMMITTED segments ``base <= v <= version`` (:func:`segment_files`) —
  gating on the committed version, never the listing, keeps orphans
  invisible. A commit removes the segments at its version of the logs
  the committing operation did not write: the gate cannot tell which
  operation wrote a segment, so the committing one must own them all.
- **Log rewrite.** An operation may rewrite a log as one segment (or
  none) that replaces all earlier ones (:meth:`TableSet.rewrite`): the
  commit records its version as the log's base, so readers skip the
  replaced segments at once, and then removes them.
- **Copy-on-write.** :func:`link_untouched` hard-links (or copies, across
  devices) every untouched hash-bucket directory of the previous version
  into the new one, so a version is a complete snapshot while a write
  materializes only the buckets its keys touch.
- **Pruned reads.** A read names the files of the buckets it needs
  (:func:`files_under`), never a directory Spark must list and filter.
- **Retention.** :func:`retire` keys on the COMMITTED version, never the
  listing: keep the committed version and the ``keep - 1`` highest
  versions below it, delete everything else — including orphans ABOVE
  the committed version left by crashed operations. Hard links keep the
  inodes shared with retained versions alive.
- **Bucket sizing.** A hash-bucketed table's bucket count is pinned in
  the commit document when the table is first written. :func:`bucket_count`
  sizes it to the data: the smallest power of two that keeps one bucket
  under ``BUCKET_TARGET_BYTES``, so a small table is one bucket — one
  file per write. Without a size estimate (a JDBC source, local Python
  rows) it is ``UNSIZED_BUCKETS``. The count does not follow later growth.
- **Concurrency.** :func:`run_concurrently` runs independent writes from
  driver threads under the caller's Spark local properties, waits for all
  of them and surfaces every failure.
"""

from __future__ import annotations

import json
import os
import shutil
import warnings


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
    root: str, upto: int, bucket_col: str, buckets: list[int] | None = None, base: int = 0
) -> list[str]:
    """Parquet files of the committed log segments ``v{base}..v{upto}``."""
    out: list[str] = []
    for v in versions(root):
        if base <= v <= upto:
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


# A merge pays per file it writes (~8 ms each when one task writes a
# small table's buckets in turn) and per stored row of each bucket its
# batch touches: few buckets favour a batch that touches every bucket,
# many a batch that touches a few keys. With the clinic benchmark's
# tables (4 vCPUs, local disk), 256 KiB is the largest target at which
# 3-event syncs into a snapshot 1000x the reference seed (2.6-3 MB of
# parquet a table) are no slower than at 16 buckets (512 KiB was 5-14%
# slower there, 2 MiB 50-60%); at 256 KiB, 300-event syncs into the
# 100x snapshot ran 13% faster than at 16 buckets.
BUCKET_TARGET_BYTES = 256 << 10
UNSIZED_BUCKETS = 16


def bucket_count(size_bytes: int | None) -> int:
    """The smallest power of two that keeps a bucket of ``size_bytes``
    under ``BUCKET_TARGET_BYTES``; ``UNSIZED_BUCKETS`` when the size is
    unknown."""
    if size_bytes is None:
        return UNSIZED_BUCKETS
    n = 1
    while size_bytes >= n * BUCKET_TARGET_BYTES:
        n *= 2
    return n


def size_estimate(df) -> int | None:
    """Catalyst's size estimate of ``df`` in bytes (file sizes for a file
    scan), or None when any leaf of the plan has none and Spark falls
    back to ``spark.sql.defaultSizeInBytes`` — a projection above such a
    leaf scales that placeholder into a finite-looking figure. Optimizes
    the plan on the driver; starts no Spark job."""
    jdf = df._jdf  # noqa: SLF001
    plan = jdf.queryExecution().optimizedPlan()
    unknown = jdf.sparkSession().sessionState().conf().defaultSizeInBytes()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        if int(leaves.apply(i).stats().sizeInBytes()) >= unknown:
            return None
    return int(plan.stats().sizeInBytes())


def empty_frame(spark, schema):
    """An empty frame of ``schema`` (a DDL string or a StructType) as a
    local relation: the optimizer sees it is empty, prunes the joins and
    unions it feeds, and never plans a scan of it.
    (``createDataFrame([], ddl)`` is an opaque RDD scan with no size
    estimate.)"""
    from pyspark.sql import DataFrame

    jvm = spark._jvm  # noqa: SLF001
    types = jvm.org.apache.spark.sql.types
    if isinstance(schema, str):
        schema = types.StructType.fromDDL(schema)
    else:
        schema = types.DataType.fromJson(schema.json())
    empty = spark._jsparkSession.createDataFrame(jvm.java.util.ArrayList(), schema)  # noqa: SLF001
    return DataFrame(empty, spark)


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


class TableSet:
    """Named tables under ``root`` published together by the JSON commit
    document ``root/<doc>`` (module docstring). ``tables`` maps each name
    to its kind, ``COW`` or ``LOG``; a table's directory is ``root/<name>``
    (the name ``"."`` is the root itself). Hash-bucketed tables partition
    by ``bucket_col``. The document's ``tables`` map holds each written
    copy-on-write table's version and each rewritten log's base version.

    Opening pins the committed document (``doc``, its ``version``), or
    ``{"version": 0, **empty}`` before the first commit; a document of
    another ``layout`` is refused. Reads see the pinned version; writes go
    to the next one, which :meth:`commit` publishes. Open one set per
    operation: it records the tables the operation wrote."""

    COW, LOG = "cow", "log"

    def __init__(
        self,
        root: str,
        doc: str,
        tables: dict[str, str],
        *,
        bucket_col: str = "",
        layout: int = 1,
        keep: int = 2,
        empty: dict | None = None,
    ):
        self.root = root
        self.doc_path = os.path.join(root, doc)
        self.kinds = tables
        self.bucket_col = bucket_col
        self.layout = layout
        self.keep = keep
        self.doc = {
            "tables": {},
            **read_json(self.doc_path, {"version": 0, **(empty or {}), "layout": layout}),
        }
        found = self.doc.get("layout", 1)
        if found != layout:
            # an older layout would be misread (empty logs, missing
            # versions) — refuse it loudly instead
            raise ValueError(
                f"{self.doc_path} uses storage layout {found}, this code "
                f"reads layout {layout}; rebuild the state to migrate"
            )
        self.version = int(self.doc["version"])
        self._wrote: set[str] = set()
        self._rebased: set[str] = set()

    def dir(self, name: str) -> str:
        return os.path.normpath(os.path.join(self.root, name))

    def committed(self, name: str) -> int | None:
        """The committed version of copy-on-write table ``name`` (None
        before its first write)."""
        return self.doc["tables"].get(name)

    def path(self, name: str, version: int | None = None) -> str:
        """The directory of copy-on-write table ``name`` at ``version``
        (default: its committed version)."""
        return version_dir(self.dir(name), self.committed(name) if version is None else version)

    def files(
        self, name: str, buckets: list[int] | None = None, version: int | None = None
    ) -> list[str]:
        """Parquet files of table ``name`` at the pinned version (a
        copy-on-write table also at an older retained ``version``),
        optionally pruned to the named hash buckets."""
        if self.kinds[name] == self.LOG:
            base = self.doc["tables"].get(name, 0)
            return segment_files(self.dir(name), self.version, self.bucket_col, buckets, base)
        if version is None and self.committed(name) is None:
            return []
        return files_under(self.path(name, version), self.bucket_col, buckets)

    def read(
        self,
        spark,
        name: str,
        schema=None,
        buckets: list[int] | None = None,
        version: int | None = None,
    ):
        """Table ``name`` as a frame of ``schema`` (None: the files'
        own), read by file list — a pruned read opens only its buckets."""
        files = self.files(name, buckets, version)
        if files:
            reader = spark.read if schema is None else spark.read.schema(schema)
            return reader.parquet(*files)
        if schema is None:
            raise FileNotFoundError(f"no committed files of {self.dir(name)}")
        return empty_frame(spark, schema)

    def write(self, name: str, df, bucket=None, touched: list[int] | None = None) -> None:
        """Write table ``name`` at the next version, partitioned by
        ``bucket_col`` when ``df`` carries it. ``bucket``: an expression
        that adds that column, one writer task per bucket. ``touched``:
        the buckets ``df`` covers in a copy-on-write table; every other
        bucket is linked from the committed version."""
        out = version_dir(self.dir(name), self.version + 1)
        if bucket is not None:
            df = df.withColumn(self.bucket_col, bucket).repartition(self.bucket_col)
        writer = df.write.mode("overwrite")
        if self.bucket_col in df.columns:
            writer = writer.partitionBy(self.bucket_col)
        writer.parquet(out)
        if touched is not None and self.committed(name) is not None:
            link_untouched(self.path(name), out, self.bucket_col, touched, ".parquet")
        self._wrote.add(name)

    def rewrite(self, name: str, df=None, bucket=None) -> None:
        """Replace every committed segment of log table ``name`` by one
        segment of ``df`` at the next version (None: by no segment); the
        commit makes that version the log's base and removes the
        replaced segments."""
        if df is not None:
            self.write(name, df, bucket)
        self._rebased.add(name)

    def commit(self, doc: dict) -> None:
        """Publish ``doc`` plus the version bookkeeping: the next version
        if this operation wrote or rewrote a table (else the pinned one),
        with the written copy-on-write tables and the rewritten logs'
        bases at it. Clears that version's orphan log segments first;
        retires copy-on-write versions and replaced segments after."""
        changed = self._wrote | self._rebased
        version = self.version + 1 if changed else self.version
        tables = dict(self.doc["tables"])
        for name, kind in self.kinds.items():
            if kind == self.COW and name in self._wrote:
                tables[name] = version
            elif kind == self.LOG and changed and name not in self._wrote:
                remove_dir(version_dir(self.dir(name), version))
            if name in self._rebased:
                tables[name] = version
        self.doc = {**doc, "version": version, "tables": tables, "layout": self.layout}
        commit_json(self.doc_path, self.doc)
        rebased, self._wrote, self._rebased = self._rebased, set(), set()
        self.version = version
        for name, kind in self.kinds.items():
            if kind == self.COW:
                retire(self.dir(name), tables.get(name, -1), self.keep)
            elif name in rebased:
                for v in versions(self.dir(name)):
                    if v < version:
                        remove_dir(version_dir(self.dir(name), v))


def run_concurrently(jobs) -> list:
    """Run independent jobs from driver threads so their Spark jobs
    schedule concurrently (SparkSession is thread-safe); returns their
    results in submission order. Waits for EVERY job, then raises the
    first failure in submission order with the others attached as notes
    — siblings are not cancelled, so a failed operation may leave any
    subset of its writes on disk, all in not-yet-committed version
    directories a retry overwrites.

    Each job runs with a copy of the caller's Spark local properties (job
    group, scheduler pool, ...), so a streaming query's ``stop()`` can
    cancel the jobs its ``foreachBatch`` started here."""
    if len(jobs) <= 1:
        return [j() for j in jobs]
    from concurrent.futures import ThreadPoolExecutor, wait

    jobs = _inheriting_caller_properties(jobs)
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        futures = [ex.submit(j) for j in jobs]
        wait(futures)
    errors = [f.exception() for f in futures if f.exception() is not None]
    if errors:
        for e in errors[1:]:
            errors[0].add_note(f"concurrent job also failed: {e!r}")
        raise errors[0]
    return [f.result() for f in futures]


def _inheriting_caller_properties(jobs) -> list:
    """``jobs`` wrapped by ``inheritable_thread_target`` when a Spark
    context is active: one clone of the caller's local properties per job,
    since each Spark SQL execution sets its own id in them."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    if SparkContext._active_spark_context is None:
        return jobs
    session = SparkSession.getActiveSession()
    if session is None:
        with warnings.catch_warnings():  # only session tags need a session
            warnings.simplefilter("ignore", UserWarning)
            return [inheritable_thread_target(j) for j in jobs]
    return [inheritable_thread_target(session)(j) for j in jobs]
