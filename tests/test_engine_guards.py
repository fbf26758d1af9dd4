"""Input guards of the maintained-state engines: the MinHash-LSH index
refuses a batch that repeats a doc_id or names one an earlier ingest
already holds (a document too short to shingle included), a late CDC
batch never moves a replica's watermark backwards, and a replayed
micro-batch's malformed events are quarantined once."""

import os

import pytest
from pyspark.sql import types as T

from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
    MinHashLshIndex,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
    ENVELOPE,
    CdcEngine,
    ReplicaStore,
)


def test_index_ingest_rejects_a_repeated_doc_id(spark, tmp_path):
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"))
    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (1, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="repeat a doc_id"):
        idx.ingest(batch)
    assert idx.tables().doc["version"] == 0  # nothing committed


def test_index_ingest_rejects_a_doc_id_an_earlier_ingest_holds(spark, tmp_path):
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"))
    text = "the quick brown fox jumps over the lazy dog"
    idx.ingest(
        spark.createDataFrame(
            [(1, text), (2, text + " dup")], "doc_id long, text string"
        )
    )
    again = spark.createDataFrame(
        [(1, text), (3, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match=r"already ingested .*\[1\]"):
        idx.ingest(again)
    man = idx.tables().doc
    assert (man["version"], man["n_docs"]) == (1, 2)  # nothing committed
    pairs = [tuple(r) for r in idx.pairs().select("doc_a", "doc_b").collect()]
    assert pairs == [(1, 2)]


def test_index_ingest_rejects_a_held_doc_with_no_shingle(spark, tmp_path):
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"))
    docs = "doc_id long, text string"
    idx.ingest(spark.createDataFrame([(1, "hello world"), (2, "the quick brown fox")], docs))
    with pytest.raises(ValueError, match=r"already ingested .*\[1\]"):
        idx.ingest(spark.createDataFrame([(1, "hello world")], docs))
    assert idx.tables().doc["n_docs"] == 2


def test_quarantine_lists_a_replayed_malformed_event_once(spark, tmp_path):
    eng = CdcEngine(ReplicaStore(str(tmp_path / "w")), write_partitions=1)
    from sfguide_getting_started_openflow_postgresql_cdc_spark.sources import healthcare

    eng.bootstrap(spark, healthcare.snapshot_dataframes(spark), "2024-06-02 12:00:00")
    batch = spark.createDataFrame(
        [
            (1, "2024-06-03 08:00:00", "doctors", "U",
             {"doctor_id": "1", "first_name": "Zed"}),
            (2, "2024-06-03 08:00:01", "doctors", "U", {"doctor_id": "not-a-number"}),
            (3, "2024-06-03 08:00:02", "doctors", "X", {"doctor_id": "2"}),
        ],
        ENVELOPE,
    )
    eng.apply_envelope_batch(spark, batch)
    eng.apply_envelope_batch(spark, batch)  # the foreachBatch replay
    seqs = [r["seq_no"] for r in eng.quarantine(spark, "doctors").collect()]
    assert sorted(seqs) == [2, 3]


def test_late_batch_never_lowers_the_watermark(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
        ]
    )
    eng = CdcEngine(
        ReplicaStore(os.path.join(tmp_path, "w")),
        tables={"t": schema},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=2,
    )
    eng.bootstrap(
        spark,
        {"t": spark.createDataFrame([(1, "a"), (2, "b")], schema)},
        "2024-01-01 00:00:00",
        journal_snapshot=False,
    )

    def merge(seq, grp):
        event = (seq, f"2024-01-01 00:0{seq}:00", "t", "U", {"id": "1", "grp": grp})
        eng.merge_batch(spark, "t", spark.createDataFrame([event], ENVELOPE))

    merge(5, "five")
    merge(3, "three")  # late: lower seq than what the replica holds
    assert eng.store.watermark("t") == 5
    rows = {r["id"]: r["grp"] for r in eng.store.read(spark, "t").collect()}
    assert rows == {1: "five", 2: "b"}
