"""Fixed costs of the CDC sync path: a table merge plans exactly one
exchange (hash partitioning on the replica bucket), and the Engine's
replica mapping reads only the tables a query touches, once per commit."""

import os
import re

import pytest

from sfguide_getting_started_openflow_postgresql_cdc_spark.engine import Engine
from sfguide_getting_started_openflow_postgresql_cdc_spark.plans.inspect import (
    explain_str,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
    CDC_SEQ,
    ENVELOPE,
    CdcEngine,
    ReplicaStore,
)

LOAD_TS = "2024-06-02 12:00:00"


def _merge_and_capture(spark, root, monkeypatch, write_partitions):
    """Bootstrap a 3-row table, merge 4 events, and return the physical
    plan of the frame ``merge_batch`` handed to ``write_merged`` plus the
    merged rows."""
    eng = CdcEngine(
        ReplicaStore(root),
        tables={"t": spark.createDataFrame([], "id long, v string").schema},
        primary_keys={"t": "id"},
        write_partitions=write_partitions,
    )
    snap = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    eng.bootstrap(spark, {"t": snap}, LOAD_TS, journal_snapshot=False)
    plans = []
    write_merged = ReplicaStore.write_merged

    def capture(self, spark_, table, changed_df, *a, **kw):
        plans.append(explain_str(changed_df, "simple"))
        return write_merged(self, spark_, table, changed_df, *a, **kw)

    monkeypatch.setattr(ReplicaStore, "write_merged", capture)
    events = spark.createDataFrame(
        [
            (1, "2024-06-03 08:00:00", "t", "U", {"id": "1", "v": "a1"}),
            (2, "2024-06-03 08:01:00", "t", "U", {"id": "1", "v": "a2"}),
            (3, "2024-06-03 08:02:00", "t", "D", {"id": "2"}),
            (4, "2024-06-03 08:03:00", "t", "I", {"id": "4", "v": "d"}),
        ],
        ENVELOPE,
    )
    eng.merge_batch(spark, "t", events)
    assert len(plans) == 1
    rows = {
        r["id"]: (r["v"], r["_SNOWFLAKE_DELETED"], r[CDC_SEQ])
        for r in eng.store.read(spark, "t").collect()
    }
    return plans[0], rows


@pytest.mark.parametrize("write_partitions", [None, 1])
def test_merge_plans_one_exchange_on_the_bucket(
    spark, tmp_path, monkeypatch, write_partitions
):
    plan, rows = _merge_and_capture(
        spark, str(tmp_path / "wh"), monkeypatch, write_partitions
    )
    assert len(re.findall(r"Exchange hashpartitioning\(_CDC_BUCKET", plan)) == 1, plan
    assert len(re.findall(r"Exchange", plan)) == 1, plan
    for operator in ("BroadcastExchange", "SortMergeJoin", "Window"):
        assert operator not in plan, plan
    assert ("Coalesce 1" in plan) == (write_partitions == 1), plan
    assert rows == {
        1: ("a2", False, 2),
        2: ("b", True, 3),
        3: ("c", False, -1),
        4: ("d", False, 4),
    }


def test_replicas_read_only_the_tables_a_query_uses(spark, tmp_path, monkeypatch):
    eng = Engine(spark, str(tmp_path / "wh"), write_partitions=1).bootstrap(
        load_ts=LOAD_TS
    )
    reads = []
    read = ReplicaStore.read

    def counting(self, spark_, table, *a, **kw):
        reads.append(table)
        return read(self, spark_, table, *a, **kw)

    monkeypatch.setattr(ReplicaStore, "read", counting)
    eng.analytics("current_day_status")
    assert reads == ["appointments"]

    frames = eng.replicas()
    assert list(frames) == [
        name for t in eng.cdc.tables for name in (f"{t}_raw", t)
    ]
    assert frames.get("no_such_table") is None and "no_such_table" not in frames
    with pytest.raises(KeyError):
        frames["no_such_table"]
    assert frames["doctors"] is frames["doctors"]  # built once, then kept
    assert reads == ["appointments", "doctors"]

    # a read is reused until the table's next commit
    eng.analytics("current_day_status")
    assert reads == ["appointments", "doctors"]
    eng.apply_batch(
        spark.createDataFrame(
            [(1, "2024-06-03 08:00:00", "appointments", "U",
              {"appointment_id": "1", "status": "completed"})],
            ENVELOPE,
        )
    )
    eng.analytics("current_day_status")
    assert reads == ["appointments", "doctors", "appointments"]


def test_a_pruned_replica_read_opens_only_its_buckets(spark, tmp_path):
    """A merge's read of 3 of 64 buckets names their files: Spark lists no
    bucket directory (past 32 paths a listing is a job of its own), so the
    count runs its own 2 jobs and nothing else."""
    import time

    from pyspark.sql import functions as F

    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "wh")),
        tables={"t": spark.createDataFrame([], "id long, v string").schema},
        primary_keys={"t": "id"},
        n_buckets=64,
    )
    snap = spark.range(5000).select("id", F.col("id").cast("string").alias("v"))
    eng.bootstrap(spark, {"t": snap}, LOAD_TS, journal_snapshot=False)
    assert len(os.listdir(eng.store.table_path("t"))) >= 64

    sc = spark.sparkContext
    group = f"pruned-read-{time.monotonic_ns()}"
    sc.setJobGroup(group, "a 3-bucket replica read")
    try:
        n = eng.store.read_buckets(spark, "t", [0, 1, 2]).count()
    finally:
        sc._jsc.clearJobGroup()
    assert 0 < n < 5000
    deadline = time.monotonic() + 10  # the status store is fed asynchronously
    while len(sc.statusTracker().getJobIdsForGroup(group)) < 2:
        assert time.monotonic() < deadline, "the count's jobs never showed up"
        time.sleep(0.05)
    time.sleep(0.5)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
