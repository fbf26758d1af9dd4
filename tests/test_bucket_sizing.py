"""Hash buckets sized to the data: ``state.bucket_count`` picks the
smallest power of two that keeps a bucket under the target, a replica
bootstrapped from a small snapshot is one bucket (one file per table per
sync), and stores given an explicit count keep it. Also: empty stored
tables are empty local relations, so the index's plans scan no RDD."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sfguide_getting_started_openflow_postgresql_cdc_spark import state
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
    IDX_BUCKET,
    MinHashLshIndex,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.plans.inspect import (
    explain_str,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
    CDC_BUCKET,
    ENVELOPE,
    CdcEngine,
    ReplicaStore,
)

LOAD_TS = "2024-01-01 00:00:00"
SCHEMA = T.StructType(
    [T.StructField("id", T.LongType(), False), T.StructField("v", T.StringType(), True)]
)
TABLES = {"a": SCHEMA, "b": SCHEMA}
KEYS = {"a": "id", "b": "id"}


def test_bucket_count_keeps_a_bucket_under_the_target():
    target = state.BUCKET_TARGET_BYTES
    assert state.bucket_count(0) == 1
    assert state.bucket_count(target - 1) == 1
    assert state.bucket_count(target) == 2
    assert state.bucket_count(2 * target - 1) == 2
    assert state.bucket_count(2 * target) == 4
    assert state.bucket_count(100 * target) == 128
    assert state.bucket_count(None) == state.UNSIZED_BUCKETS


def _snapshot(spark, tmp_path, name):
    path = str(tmp_path / f"{name}.parquet")
    spark.createDataFrame([(i, f"v{i}") for i in range(50)], SCHEMA).write.parquet(path)
    return path


def test_size_estimate_reads_file_sizes_and_none_without_one(spark, tmp_path):
    path = _snapshot(spark, tmp_path, "s")
    on_disk = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert state.size_estimate(spark.read.parquet(path)) == on_disk
    assert state.size_estimate(spark.createDataFrame([(1, "x")], SCHEMA)) is None
    # a projection narrowing the row above a leaf with no estimate scales
    # Spark's placeholder into a finite figure: still unknown
    wide = spark.createDataFrame([(1, "x", "y")], "id long, v string, w string")
    assert state.size_estimate(wide.select("id", "v")) is None
    assert state.bucket_count(state.size_estimate(wide.select("id"))) == (
        state.UNSIZED_BUCKETS
    )
    # ... and so is a join of a sized leaf with one that has none
    assert state.size_estimate(spark.read.parquet(path).join(wide, "id")) is None
    assert state.size_estimate(state.empty_frame(spark, "id long")) == 0


def _events(spark, seq0, n):
    """``n`` updates and one insert on each of tables a and b."""
    rows = []
    for t in ("a", "b"):
        for i in range(n):
            rows.append((seq0 + len(rows), LOAD_TS, t, "U", {"id": str(i), "v": f"{t}{i}"}))
        rows.append((seq0 + len(rows), LOAD_TS, t, "I", {"id": "900", "v": "new"}))
    return spark.createDataFrame(rows, ENVELOPE)


def _expected(n):
    return {i: f"a{i}" if i < n else f"v{i}" for i in range(50)} | {900: "new"}


def _bucket_dirs(path, bucket_col):
    return sorted(d for d in os.listdir(path) if d.startswith(f"{bucket_col}="))


def _new_files(store, table):
    """Parquet files of the current version that are not hard links of
    the previous version's."""
    path = store.table_path(table)
    out = []
    for bucket in os.listdir(path):
        sub = os.path.join(path, bucket)
        if os.path.isdir(sub):
            out += [
                f for f in os.listdir(sub)
                if f.endswith(".parquet") and os.stat(os.path.join(sub, f)).st_nlink == 1
            ]
    return out


def test_small_snapshot_replica_writes_one_file_per_table_per_sync(spark, tmp_path):
    eng = CdcEngine(ReplicaStore(str(tmp_path / "wh")), tables=TABLES, primary_keys=KEYS)
    eng.bootstrap(
        spark, {t: _snapshot(spark, tmp_path, t) for t in TABLES}, LOAD_TS,
        journal_snapshot=False,
    )
    for t in TABLES:
        assert eng.store.n_buckets(t) == 1
        assert _bucket_dirs(eng.store.table_path(t), CDC_BUCKET) == [f"{CDC_BUCKET}=0"]
    eng.apply_envelope_batch(spark, _events(spark, 1, 30))
    for t in TABLES:
        assert eng.store.version(t) == 1
        assert len(_new_files(eng.store, t)) == 1, t
    rows = {r["id"]: r["v"] for r in eng.store.read(spark, "a").collect()}
    assert rows == _expected(30)


def test_explicit_bucket_counts_are_kept_and_enforced(spark, tmp_path):
    root = str(tmp_path / "wh")
    eng16 = CdcEngine(ReplicaStore(root), tables=TABLES, primary_keys=KEYS, n_buckets=16)
    eng16.bootstrap(
        spark, {t: _snapshot(spark, tmp_path, t) for t in TABLES}, LOAD_TS,
        journal_snapshot=False,
    )
    assert {eng16.store.n_buckets(t) for t in TABLES} == {16}
    eng16.apply_envelope_batch(spark, _events(spark, 1, 30))
    # an engine given no count merges at the count pinned in the pointer
    sized = CdcEngine(ReplicaStore(root), tables=TABLES, primary_keys=KEYS)
    sized.apply_envelope_batch(spark, _events(spark, 100, 40))
    assert eng16.store.n_buckets("a") == 16
    assert len(_bucket_dirs(eng16.store.table_path("a"), CDC_BUCKET)) > 8  # of 16
    got = {r["id"]: r["v"] for r in eng16.store.read(spark, "a").collect()}
    assert got == _expected(40)
    # a rebuild from the journal keeps the pinned count
    rebuilt = ReplicaStore(str(tmp_path / "rebuilt"))
    sized.rebuild_replica(spark, "a", into=rebuilt)
    assert rebuilt.n_buckets("a") == 16
    # an engine given another count refuses the replica
    four = CdcEngine(ReplicaStore(root), tables=TABLES, primary_keys=KEYS, n_buckets=4)
    batch = _events(spark, 200, 1).filter(F.col("table_name") == "a")
    with pytest.raises(ValueError, match="bucketed 16-way"):
        four.merge_batch(spark, "a", batch)


def _docs(spark, tmp_path, name, rows):
    path = str(tmp_path / f"{name}.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    return spark.read.parquet(path)


BASE = "alpha beta gamma delta epsilon zeta eta theta"
DOCS1 = [(1, BASE), (2, BASE + " iota"), (3, "pack my box with five dozen liquor jugs")]
DOCS2 = [(4, BASE + " kappa"), (5, "pack my box with five dozen liquor mugs"), (6, "hi")]


def _pairs(idx):
    return sorted(tuple(r) for r in idx.pairs().select("doc_a", "doc_b").collect())


def test_explicit_16_bucket_index_ingests_like_the_default(spark, tmp_path):
    one = MinHashLshIndex(spark, str(tmp_path / "one"))
    sixteen = MinHashLshIndex(spark, str(tmp_path / "sixteen"), n_buckets=16)
    for name, rows in (("d1", DOCS1), ("d2", DOCS2)):
        docs = _docs(spark, tmp_path, name, rows)
        one.ingest(docs)
        sixteen.ingest(docs)
    assert _pairs(one) == _pairs(sixteen) == [(1, 2), (1, 4), (2, 4), (3, 5)]
    assert one.tables().doc["n_buckets"] == 1
    assert sixteen.tables().doc["n_buckets"] == 16
    # the default writes one file per table per dump
    for table in ("shingles", "bands", "df"):
        v2 = os.path.join(one.dir, table, "v2")
        assert _bucket_dirs(v2, IDX_BUCKET) == [f"{IDX_BUCKET}=0"], table
        files = os.listdir(os.path.join(v2, f"{IDX_BUCKET}=0"))
        assert len([f for f in files if f.endswith(".parquet")]) == 1, table
    # a reopened index keeps the count pinned at creation
    assert MinHashLshIndex(spark, sixteen.dir).n_buckets == 16


def test_index_verification_plan_scans_no_rdd_when_hot_is_empty(spark, tmp_path, monkeypatch):
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"))
    plans = []
    verified_pairs = MinHashLshIndex._verified_pairs

    def capture(self, *a, **kw):
        verified, invol_sh = verified_pairs(self, *a, **kw)
        plans.append(explain_str(verified, "extended"))
        return verified, invol_sh

    monkeypatch.setattr(MinHashLshIndex, "_verified_pairs", capture)
    idx.ingest(_docs(spark, tmp_path, "d1", DOCS1))
    assert idx.tables().committed("hot") is None  # hot is empty
    assert len(plans) == 1
    assert "ExistingRDD" not in plans[0] and "LogicalRDD" not in plans[0], plans[0]
