"""Streaming NEAR-dup ingest filter (streaming/dedup.py): incremental
LSH banding with a persisted signature store — the streaming face of
dd4 (exact-dup streaming lives in test_stateful_streaming.py)."""

import pytest

# driver-budget default excludes this heavyweight suite (pytest.ini);
# builders run it via `-m ""` before shipping engine changes
pytestmark = pytest.mark.slow

def test_streaming_neardup_filter_across_batches_and_restarts(spark, tmp_path):
    """LSH near-dup ingest filter (streaming/dedup.py): a doc colliding
    with an ALREADY-ACCEPTED doc (previous batch, via the signature
    store — even across a query restart) or with a lower-id doc in the
    SAME batch is dropped; unique docs pass. Mirrors dd4's banding, so
    collision==candidate at the ~0.5 Jaccard banding threshold."""
    import time

    from pyspark.sql import Row

    from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import DOCUMENTS
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.dedup import (
        start_streaming_neardup,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    store = tmp_path / "store"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    uniq = "one two three four five six seven eight nine ten " * 4
    other = "red orange yellow green blue indigo violet umber black white " * 4

    def doc(i, text):
        return Row(doc_id=i, text=text, lang="en", source="s", n_chars=len(text))

    def write_batch(name, rows):
        spark.createDataFrame(rows, DOCUMENTS).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    # batch 1: 1 and 2 are near-dups of each other; 3 unique
    write_batch("b1", [doc(1, base), doc(2, base + " tailword"), doc(3, uniq)])
    q = start_streaming_neardup(
        spark, str(src / "b1"), str(out), str(store), str(ckpt / "c1")
    )
    q.awaitTermination(120)
    got1 = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert got1 == {1, 3}  # 2 dropped: same-batch collision, higher id

    # batch 2 (separate query+checkpoint, SAME store => restart survives):
    # 4 near-dups accepted doc 1; 5 is new
    write_batch("b2", [doc(4, base + " another"), doc(5, other)])
    q2 = start_streaming_neardup(
        spark, str(src / "b2"), str(out), str(store), str(ckpt / "c2")
    )
    q2.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert got == {1, 3, 5}  # 4 dropped via the persisted signature store

    # the store holds signatures ONLY for accepted docs (state bound)
    st = spark.read.parquet(str(store))
    assert {r["doc_id"] for r in st.select("doc_id").distinct().collect()} == {1, 3, 5}


def test_neardup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the SAME epoch (same
    commit_key) must accept the same docs — the batch must NOT collide
    with its own first attempt's signatures — and must not duplicate
    store rows (the pre-fix behavior silently dropped every doc on
    replay and doubled the store)."""
    from pyspark.sql import Row

    from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import DOCUMENTS
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.dedup import (
        neardup_filter_batch,
    )

    store = str(tmp_path / "store")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4

    def doc(i, text):
        return Row(doc_id=i, text=text, lang="en", source="s", n_chars=len(text))

    batch = spark.createDataFrame(
        [doc(1, base), doc(2, base + " tailword"), doc(3, "one two three four five")],
        DOCUMENTS,
    )
    key = ("ckpt0hash", 7)
    first = {
        r["doc_id"]
        for r in neardup_filter_batch(spark, batch, store, commit_key=key).collect()
    }
    assert first == {1, 3}
    replay = {
        r["doc_id"]
        for r in neardup_filter_batch(spark, batch, store, commit_key=key).collect()
    }
    assert replay == first  # no self-collision on replay
    st = spark.read.parquet(store)
    assert st.count() == st.dropDuplicates(["band_id", "sig", "doc_id"]).count()
    # a LATER epoch still sees epoch 7's accepted signatures
    nxt = {
        r["doc_id"]
        for r in neardup_filter_batch(
            spark,
            spark.createDataFrame([doc(4, base + " another")], DOCUMENTS),
            store,
            commit_key=("ckpt0hash", 8),
        ).collect()
    }
    assert nxt == set()  # 4 collides with accepted doc 1 via the store


def test_indexed_streaming_filter_unifies_state(spark, tmp_path):
    """Write-through variant (VERDICT r7 task 7): the streaming filter's
    accepted-signature state IS the maintained MinHashLshIndex. After
    streamed ingestion, (a) admission decisions match the legacy
    filter's, (b) the index equals a fresh index built by batch-
    ingesting the same accepted docs, (c) an epoch replay re-derives
    the same accepted set without re-ingesting (no df double-count),
    and (d) a CDC-style retraction through the SAME index frees the
    slot for streaming admission — the one-source-of-truth property
    the two-store design could not give."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
        MinHashLshIndex,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import DOCUMENTS
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.dedup import (
        neardup_filter_batch_indexed,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    uniq = "one two three four five six seven eight nine ten " * 4
    other = "red orange yellow green blue indigo violet umber black white " * 4

    def doc(i, text):
        return Row(doc_id=i, text=text, lang="en", source="s", n_chars=len(text))

    idx = MinHashLshIndex(spark, str(tmp_path / "idx"))

    b1 = spark.createDataFrame(
        [doc(1, base), doc(2, base + " tailword"), doc(3, uniq)], DOCUMENTS
    )
    got1 = {
        r["doc_id"]
        for r in neardup_filter_batch_indexed(
            spark, b1, idx, commit_key=("run0", 0)
        ).collect()
    }
    assert got1 == {1, 3}  # 2: same-batch collision, higher id (legacy rule)

    b2 = spark.createDataFrame([doc(4, base + " another"), doc(5, other)], DOCUMENTS)
    got2 = {
        r["doc_id"]
        for r in neardup_filter_batch_indexed(
            spark, b2, idx, commit_key=("run0", 1)
        ).collect()
    }
    assert got2 == {5}  # 4 collides with accepted doc 1 via the INDEX

    # (b) one source of truth: streamed index == batch-ingested index
    fresh = MinHashLshIndex(spark, str(tmp_path / "fresh"))
    fresh.ingest(b1.filter(F.col("doc_id").isin(1, 3)).select("doc_id", "text"))
    fresh.ingest(b2.filter(F.col("doc_id").isin(5)).select("doc_id", "text"))
    stored = lambda i: {  # noqa: E731
        r["doc_id"]
        for r in i.tables().read(spark, "shingles", "doc_id long, shingle string")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert stored(idx) == stored(fresh) == {1, 3, 5}
    pairs = lambda i: {  # noqa: E731
        (r["doc_a"], r["doc_b"]) for r in i.pairs().collect()
    }
    assert pairs(idx) == pairs(fresh)

    # (c) at-least-once replay of epoch 1: same accepted set, index
    # version untouched (no re-ingest, no df double-count)
    v_before = idx.tables().doc["version"]
    replay = {
        r["doc_id"]
        for r in neardup_filter_batch_indexed(
            spark, b2, idx, commit_key=("run0", 1)
        ).collect()
    }
    assert replay == got2
    assert idx.tables().doc["version"] == v_before

    # (d) retraction reaches streaming admission: retract doc 1, and a
    # near-dup of it is now admitted
    idx.retract([1])
    b3 = spark.createDataFrame([doc(6, base + " yetanother")], DOCUMENTS)
    got3 = {
        r["doc_id"]
        for r in neardup_filter_batch_indexed(
            spark, b3, idx, commit_key=("run0", 2)
        ).collect()
    }
    assert got3 == {6}


def test_indexed_streaming_e2e_query(spark, tmp_path):
    """start_streaming_neardup_indexed drives the same write-through
    filter from a real file-source streaming query."""
    from pyspark.sql import Row

    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
        MinHashLshIndex,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import DOCUMENTS
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.dedup import (
        start_streaming_neardup_indexed,
    )

    src, out = tmp_path / "src", tmp_path / "out"
    idx_dir, ckpt = tmp_path / "idx", tmp_path / "ckpt"
    src.mkdir()
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    uniq = "one two three four five six seven eight nine ten " * 4

    def doc(i, text):
        return Row(doc_id=i, text=text, lang="en", source="s", n_chars=len(text))

    spark.createDataFrame(
        [doc(1, base), doc(2, base + " tailword"), doc(3, uniq)], DOCUMENTS
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    q = start_streaming_neardup_indexed(
        spark, str(src / "b1"), str(out), str(idx_dir), str(ckpt / "c1")
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert got == {1, 3}
    idx = MinHashLshIndex(spark, str(idx_dir))
    assert idx.tables().doc["n_docs"] == 2


def test_indexed_replay_after_retraction_drops_tombstoned_docs(spark, tmp_path):
    """At-least-once replay AFTER a CDC retraction (r8 advice): the
    replay re-derivation reads the shingle log, which still names
    retracted docs — the accepted set must anti-join tombstones so
    retracted docs (shingled AND bandless) are not re-emitted, while
    replay DETECTION still fires off the raw log."""
    from pyspark.sql import Row

    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
        MinHashLshIndex,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import DOCUMENTS
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.dedup import (
        neardup_filter_batch_indexed,
    )

    uniq = "one two three four five six seven eight nine ten " * 4
    other = "red orange yellow green blue indigo violet umber black white " * 4

    def doc(i, text):
        return Row(doc_id=i, text=text, lang="en", source="s", n_chars=len(text))

    idx = MinHashLshIndex(spark, str(tmp_path / "idx"))
    # doc 3 is bandless (under 3 tokens): admitted, and held in the
    # shingle log as one NULL-shingle row
    batch = spark.createDataFrame(
        [doc(1, uniq), doc(2, other), doc(3, "a b")], DOCUMENTS
    )
    key = ("runR", 0)
    first = {
        r["doc_id"]
        for r in neardup_filter_batch_indexed(spark, batch, idx, commit_key=key).collect()
    }
    assert first == {1, 2, 3}

    # CDC soft-deletes docs 1 (shingled) and 3 (bandless), then the
    # epoch replays (crash before the sink commit downstream)
    idx.retract([1, 3])
    replay = {
        r["doc_id"]
        for r in neardup_filter_batch_indexed(spark, batch, idx, commit_key=key).collect()
    }
    assert replay == {2}, "replay re-emitted retracted docs as accepted"
    # still a replay: the index version must not move (no re-ingest)
    assert idx.tables().read(
        spark, "shingles", "doc_id long, shingle string"
    ).select("doc_id").distinct().count() == 3  # logs keep 1, 2 and 3
