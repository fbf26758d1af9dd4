"""Layer spans and counts for the traced run, installed from outside the
program: each public call named below is wrapped at its class or module
attribute, so the program's code is measured unchanged. Nothing here is
installed in an untraced run.
"""

from __future__ import annotations

import functools
import os
import sys

PKG = "sfguide_getting_started_openflow_postgresql_cdc_spark"


class SparkCounters:
    """Spark jobs and tasks started since a mark, read from the
    SparkContext status tracker (jobs of streaming queries run in a job
    group named by the query's run id)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spark = spark

    def _job_ids(self) -> set[int]:
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        for q in self.spark.streams.active:
            ids.update(st.getJobIdsForGroup(str(q.runId)))
        return ids

    def mark(self) -> int:
        ids = self._job_ids()
        return max(ids) if ids else -1

    def since(self, mark: int) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = [j for j in self._job_ids() if j > mark]
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class Py4jCounter:
    """Round trips through the py4j gateway client."""

    def __init__(self, spark):
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(*a, **kw):
            self.calls += 1
            return orig(*a, **kw)

        client.send_command = send_command


def _wrap(owner, attr: str, tracer, span: str, after=None, before=None):
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*a, **kw):
        # the operation may end before this call returns (a sync ends when
        # the watermark moves, inside write_merged), so take it now
        op = tracer.current_op()
        state = before(*a, **kw) if before else None
        with tracer.span(span):
            out = orig(*a, **kw)
        if after:
            after(state, op, *a, **kw)
        return out

    setattr(owner, attr, wrapper)


def _version_files(store, table: str) -> dict[tuple[int, int], str]:
    """(device, inode) -> path of every parquet file in the table's
    current replica version."""
    root = store.table_path(table)
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                out[(st.st_dev, st.st_ino)] = p
    return out


def install(tracer, spark, counters: SparkCounters) -> None:
    """Wrap the layer entry points; ``store.write`` also counts the files
    and rows each merge wrote (files of the new version that are not hard
    links to the previous one)."""
    import pyarrow.parquet as pq

    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
        MinHashLshIndex,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.sources import loader
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
        CdcEngine,
        ReplicaStore,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.curation import (
        IncrementalCurationManifest,
    )

    _wrap(CdcEngine, "apply_envelope_batch", tracer, "cdc.batch")
    _wrap(CdcEngine, "merge_batch", tracer, "cdc.merge")
    _wrap(CdcEngine, "append_journal", tracer, "cdc.journal")

    def before_write(store, _spark, table, *_a, **_kw):
        return _version_files(store, table)

    def after_write(old, op, store, _spark, table, *_a, **_kw):
        new = _version_files(store, table)
        written = [p for key, p in new.items() if key not in old]
        tracer.count("store.files_written", len(written), op)
        tracer.count("store.rows_written",
                     sum(pq.read_metadata(p).num_rows for p in written), op)

    _wrap(ReplicaStore, "write_merged", tracer, "store.write", after_write, before_write)
    _wrap(MinHashLshIndex, "ingest", tracer, "dedup_index.ingest")
    _wrap(IncrementalCurationManifest, "ingest", tracer, "curation.ingest")
    _wrap(IncrementalCurationManifest, "ingest_many", tracer, "curation.ingest_many")

    # load_table is imported by name into the operator modules: wrap it
    # wherever it is bound
    orig_load = loader.load_table

    @functools.wraps(orig_load)
    def load_table(*a, **kw):
        mark = counters.mark()
        with tracer.span("sources.load_table"):
            out = orig_load(*a, **kw)
        tracer.count("sources.load_table_jobs", counters.since(mark)[0])
        return out

    for name, mod in list(sys.modules.items()):
        if name.startswith(PKG) and getattr(mod, "load_table", None) is orig_load:
            mod.load_table = load_table
