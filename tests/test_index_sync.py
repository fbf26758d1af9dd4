"""CDC soft deletes reaching the maintained pipeline indexes
(streaming/index_sync.py + MinHashLshIndex.retract + IvfIndex.remove):
the reference's _SNOWFLAKE_DELETED semantics must not stop at the
replicas — a deleted document leaves the dedup pairs view and the ANN
index too."""

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.ann_index import (
    IvfIndex,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
    MinHashLshIndex,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
    load_table,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
    CdcEngine,
    ReplicaStore,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.index_sync import (
    sync_soft_deletes,
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)
LOAD_TS = "2024-01-01 00:00:00"


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _d_events(spark, doc_ids, seq_start=1):
    rows = [
        (seq_start + i, "2024-01-02 00:00:00", "D", int(d), None)
        for i, d in enumerate(doc_ids)
    ]
    return spark.createDataFrame(
        rows, "seq_no long, event_ts string, op string, doc_id long, text string"
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp_ntz"))


def _pairs_dict(idx):
    return {(r.doc_a, r.doc_b): r.jaccard for r in idx.pairs().collect()}


def test_cdc_soft_delete_reaches_dedup_index(spark, tmp_path):
    base = "c1 c2 c3 c4 c5 c6 c7 c8"
    mk = lambda i: f"{base} u{i} v{i} w{i}"  # noqa: E731
    docs = _mk_docs(spark, [(i, mk(i)) for i in (1, 2, 3)])

    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "wh")),
        tables={"documents": DOCS_SCHEMA},
        primary_keys={"documents": "doc_id"},
        write_partitions=1,
    )
    eng.bootstrap(spark, {"documents": docs}, LOAD_TS, journal_snapshot=False)
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"), cap=5, threshold=0.2)
    idx.ingest(docs)
    assert any(2 in k for k in _pairs_dict(idx)), "doc 2 should pair pre-delete"

    # source DELETE for doc 2 -> journal + replica soft delete
    ev = _d_events(spark, [2])
    eng.merge_batch(spark, "documents", ev, sync_ts="2024-01-02 00:00:00")
    deleted_flag = (
        eng.store.read(spark, "documents")
        .filter(F.col("doc_id") == 2)
        .select("_SNOWFLAKE_DELETED")
        .collect()[0][0]
    )
    assert deleted_flag is True

    state = str(tmp_path / "sync_state.json")
    out = sync_soft_deletes(spark, eng, "documents", "doc_id", idx, state)
    assert out["retracted"] == 1
    got = _pairs_dict(idx)
    assert not any(2 in k for k in got), "retracted doc still in pairs view"

    # equals a fresh build on the surviving docs
    fresh = MinHashLshIndex(spark, str(tmp_path / "fresh"), cap=5, threshold=0.2)
    fresh.ingest(_mk_docs(spark, [(i, mk(i)) for i in (1, 3)]))
    assert got == _pairs_dict(fresh)

    # idempotent: a replayed sync with no new watermark is a no-op
    again = sync_soft_deletes(spark, eng, "documents", "doc_id", idx, state)
    assert again["retracted"] == 0 and again["applied_watermark"] == out["applied_watermark"]


def test_resurrected_key_is_not_forwarded(spark, tmp_path):
    """D then I for the same key within the synced window: the latest
    state is live, so no retraction reaches the index."""
    base = "c1 c2 c3 c4 c5 c6 c7 c8"
    mk = lambda i: f"{base} u{i} v{i} w{i}"  # noqa: E731
    docs = _mk_docs(spark, [(1, mk(1)), (2, mk(2))])
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "wh")),
        tables={"documents": DOCS_SCHEMA},
        primary_keys={"documents": "doc_id"},
        write_partitions=1,
    )
    eng.bootstrap(spark, {"documents": docs}, LOAD_TS, journal_snapshot=False)
    idx = MinHashLshIndex(spark, str(tmp_path / "idx"), cap=5, threshold=0.2)
    idx.ingest(docs)
    assert any(2 in k for k in _pairs_dict(idx)), "precondition: doc 2 pairs"

    ev = spark.createDataFrame(
        [
            (1, "2024-01-02 00:00:00", "D", 2, None),
            (2, "2024-01-02 00:01:00", "I", 2, mk(2)),
        ],
        "seq_no long, event_ts string, op string, doc_id long, text string",
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp_ntz"))
    eng.merge_batch(spark, "documents", ev)

    out = sync_soft_deletes(
        spark, eng, "documents", "doc_id", idx, str(tmp_path / "st.json")
    )
    assert out["retracted"] == 0
    assert any(2 in k for k in _pairs_dict(idx))


def _search_set(idx, spark, queries, top_k=5):
    return {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in idx.search(spark, queries, top_k=top_k).collect()
    }


def test_ivf_remove_matches_fresh_build_and_compacts(spark, tmp_path):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = IvfIndex(str(tmp_path / "ivf"), n_cells=8, n_probe=4)
    idx.build(spark, emb)
    removed = list(range(10))
    queries = (
        emb.filter(F.col("vec_id").isin([100, 101, 102]))
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    idx.remove(spark, removed)

    # same quantizer, corpus minus removed: search must agree exactly
    fresh = IvfIndex(str(tmp_path / "ivf_fresh"), n_cells=8, n_probe=4)
    fresh.build(
        spark,
        emb.filter(~F.col("vec_id").isin(removed)),
        quantizer=idx._load_centroids(),
    )
    got = _search_set(idx, spark, queries)
    assert got == _search_set(fresh, spark, queries)
    assert not any(n in removed for n in got.values())

    # physical reclamation: compact rewrites only affected cells and
    # clears the tombstone log; search is unchanged
    out = idx.compact(spark)
    assert out["removed_rows"] == len(removed)
    assert idx.tables().files("tombstones") == []
    assert _search_set(idx, spark, queries) == got
    live_ids = {
        r["vec_id"] for r in idx.tables().read(spark, "cells").select("vec_id").collect()
    }
    assert not (live_ids & set(removed))


def test_cdc_soft_delete_reaches_ivf_index(spark, tmp_path):
    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "wh")),
        tables={"embeddings": emb_schema},
        primary_keys={"embeddings": "vec_id"},
        write_partitions=1,
    )
    eng.bootstrap(spark, {"embeddings": emb}, LOAD_TS, journal_snapshot=False)
    idx = IvfIndex(str(tmp_path / "ivf"), n_cells=8, n_probe=4)
    idx.build(spark, emb)

    ev = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00", "D", 7, None)],
        "seq_no long, event_ts string, op string, vec_id long, embedding array<float>",
    ).withColumn("event_ts", F.col("event_ts").cast("timestamp_ntz"))
    eng.merge_batch(spark, "embeddings", ev)

    out = sync_soft_deletes(
        spark, eng, "embeddings", "vec_id", idx, str(tmp_path / "st.json")
    )
    assert out["retracted"] == 1
    queries = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hits = {r["neighbor_id"] for r in idx.search(spark, queries, top_k=50).collect()}
    assert 7 not in hits


@pytest.fixture(autouse=True)
def _cleanup(tmp_path):
    yield
    shutil.rmtree(tmp_path, ignore_errors=True)
