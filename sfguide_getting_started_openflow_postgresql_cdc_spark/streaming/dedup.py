"""Streaming exact deduplication (the streaming face of dd1/dd2).

An LLM-ingest pipeline rarely sees its corpus as a static table — new
documents arrive continuously, and exact/near duplicates of
already-ingested content must be dropped online. This module provides:

- :func:`dedup_stream` — drop exact duplicates by key (or content
  fingerprint) within a watermark horizon via
  ``dropDuplicatesWithinWatermark``: state holds one entry per key seen
  inside the horizon and is evicted as the watermark advances, so state
  size is bounded by (arrival rate x horizon), independent of total
  corpus size. The batch twin is ``dropDuplicates`` / dd1.

Scale notes: the dedup state is hash-partitioned on the key — the same
single-shuffle layout as the batch hash-groupBy; no per-row Python.
Cross-horizon duplicates (re-ingested months later) are the batch dd1/
dd4 passes' job over the accumulated corpus — streaming dedup bounds the
common case, it does not replace offline dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import EVENTS


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Drop duplicate events by ``keys`` (default: event_id) arriving
    within the watermark horizon of each other. Works only on streaming
    frames (state eviction needs event time); exact replays of the same
    event — at-least-once sources, producer retries — collapse to one row.

    Watermarks require a TZ-aware event-time column, while the engine's
    canonical timestamps are NTZ — convert at the boundary (session TZ
    pinned UTC, so the round-trip is the identity on wall-clock values).
    """
    events.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys or ["event_id"])
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    )


def start_stream_dedup(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str = "deduped_events",
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """File-source stream -> watermark dedup -> memory sink (tests) —
    swap the sink for parquet/kafka in production; the plan is identical."""
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    deduped = dedup_stream(stream, keys=keys, watermark=watermark)
    writer = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- streaming NEAR-dup filter (the dd4 LSH path, incremental) -------------


def _batch_band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, sig) for one batch of (doc_id, text) — the SAME
    shingle->minhash->band construction dd4 uses (operators/dedup.py),
    applied to a static micro-batch frame, so streaming collisions mean
    exactly what batch dd4 collisions mean."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup import (
        _band_exprs,
        _minhash_sig_cols,
        gram_rows_distinct,
    )

    # r12: exchange-free distinct shingle build (dedup.gram_rows_distinct)
    sh = gram_rows_distinct(docs.select("doc_id", "text"), 3)
    sig = sh.groupBy("doc_id").agg(*_minhash_sig_cols())
    bands = None
    for name, expr in _band_exprs():
        part = sig.select(
            "doc_id", F.lit(name).alias("band_id"), expr.alias("sig")
        )
        bands = part if bands is None else bands.unionByName(part)
    return bands


def _store_epoch_dirs(store_dir: str) -> list[str]:
    """Committed signature-epoch directories (store_dir/run=*/epoch=*)."""
    import os

    out = []
    if os.path.exists(store_dir):
        for run in os.listdir(store_dir):
            rp = os.path.join(store_dir, run)
            if run.startswith("run=") and os.path.isdir(rp):
                out += [
                    os.path.join(rp, ep)
                    for ep in os.listdir(rp)
                    if ep.startswith("epoch=")
                ]
    return sorted(out)


def neardup_filter_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    commit_key: tuple[str, int] | None = None,
) -> DataFrame:
    """One incremental near-dup filtering step: drop every batch doc that
    LSH-collides (any band) with an already-ACCEPTED doc in the
    signature store, or with a lower-doc_id doc in the same batch; then
    commit the survivors' signatures to the store. Returns the accepted
    (doc_id, text) rows.

    IDEMPOTENT per ``commit_key`` (run_key, epoch_id): foreachBatch is
    at-least-once, so a retried epoch re-enters with the same key — its
    signatures land in the store under ``run=<key>/epoch=<id>`` with
    OVERWRITE (a partial first attempt is replaced, never duplicated),
    and the store READ excludes that directory, so the batch can never
    collide with its own first attempt (the silent-drop data-loss bug
    this replaced: append-before-output meant a retry saw its own
    signatures and discarded every doc). Without a key a unique one is
    generated — same behavior, minus replay idempotency.

    The store holds (band_id, sig, doc_id) for accepted docs only —
    state is one row per band per accepted doc, independent of total
    corpus text volume, and the join is keyed on (band_id, sig): the
    same bucket-collision cost model as batch dd4. Collision == LSH
    candidate (banding threshold ~0.5 Jaccard); like dd4's banding,
    precision comes from the band/row parameters, and a stricter
    pipeline can re-verify survivors offline with exact Jaccard (dd3)
    — streaming keeps ingest latency flat instead.
    """
    import os
    import uuid

    if commit_key is None:
        commit_key = (uuid.uuid4().hex[:12], 0)
    run_key, epoch_id = commit_key
    own_dir = os.path.join(store_dir, f"run={run_key}", f"epoch={epoch_id}")

    sigs = _batch_band_signatures(batch).persist()
    try:
        prior = [d for d in _store_epoch_dirs(store_dir) if d != own_dir]
        if prior:
            store = spark.read.parquet(*prior).select(
                "band_id", F.col("sig").alias("s_sig")
            )
            hit_store = (
                sigs.join(
                    store,
                    (sigs.band_id == store.band_id)
                    & (sigs.sig == store.s_sig),
                )
                .select(sigs.doc_id)
                .distinct()
            )
        else:
            hit_store = sigs.select("doc_id").filter(F.lit(False))
        a, b = sigs.alias("a"), sigs.alias("b")
        hit_batch = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") > F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_id"))
            .distinct()
        )
        dropped = hit_store.unionByName(hit_batch).distinct()
        accepted = batch.join(dropped, "doc_id", "left_anti")
        (
            sigs.join(dropped, "doc_id", "left_anti")
            .select("band_id", "sig", "doc_id")
            .write.mode("overwrite")
            .parquet(own_dir)
        )
        return accepted
    finally:
        sigs.unpersist()


def neardup_filter_batch_indexed(
    spark: SparkSession,
    batch: DataFrame,
    index,
    commit_key: tuple[str, int] | None = None,
) -> DataFrame:
    """One incremental near-dup filtering step WRITING THROUGH the
    maintained MinHash-LSH index (operators/dedup_index.py) — the
    unified-state variant of :func:`neardup_filter_batch`. The legacy
    filter keeps its own (band_id, sig, doc_id) store; that store and
    ``MinHashLshIndex``'s bands table are the same state kept twice, so
    batch dedup jobs and streaming admission could silently diverge.
    Here admission reads the index's stored bands (bucket-pruned to the
    batch's band signatures, tombstone-filtered) and survivors are
    ``index.ingest``-ed — ONE source of truth: batch pairs, retraction
    (CDC soft deletes via streaming/index_sync.py), and streaming
    admission all see the same corpus.

    Admission rule is the legacy filter's exactly: drop a doc that
    band-collides with an already-accepted doc (any prior epoch, via
    the index) or with a lower-doc_id doc in the same batch.

    IDEMPOTENT per ``commit_key`` (run_key, epoch_id) under
    at-least-once foreachBatch: ``index.ingest`` commits atomically
    (manifest flips last), so a replayed epoch is detected either by
    the recorded epoch watermark or by its doc_ids already being
    stored; the replay then RE-DERIVES the accepted set (batch ids
    present in the index — the shingle log holds a shingle-less doc
    too) instead of re-ingesting, so the batch can neither collide with
    its own first attempt nor double-count document frequencies."""
    import os
    import uuid

    from sfguide_getting_started_openflow_postgresql_cdc_spark import state
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
        BANDS,
        SHINGLES,
    )

    if commit_key is None:
        commit_key = (uuid.uuid4().hex[:12], 0)
    run_key, epoch_id = commit_key
    epochs_path = os.path.join(index.dir, "stream_epochs.json")
    applied = state.read_json(epochs_path, {})

    batch = batch.persist()
    ts = index.tables()
    try:
        doc_buckets = index._bucket_set(
            batch.select("doc_id"), index._doc_bucket()
        )
        stored_ids = (
            ts.read(index.spark, "shingles", SHINGLES, doc_buckets)
            .select("doc_id")
            .join(batch.select("doc_id"), "doc_id", "left_semi")
            .distinct()
        )
        # replay DETECTION reads the raw shingle log (tombstoned docs
        # still prove the epoch was ingested); the re-derived ACCEPTED
        # set must drop tombstones — docs retracted between the first
        # attempt and an at-least-once replay (CDC soft deletes) must
        # not be re-emitted as accepted output
        is_replay = applied.get(run_key, -1) >= epoch_id or bool(
            stored_ids.limit(1).count()
        )
        if is_replay:
            accepted_ids = index._anti_docs(stored_ids, index._tombstones(ts))
            accepted = batch.join(accepted_ids, "doc_id", "left_semi")
        else:
            sigs = _batch_band_signatures(batch).persist()
            band_buckets = index._bucket_set(sigs, index._band_bucket())
            stored = index._anti_docs(
                ts.read(index.spark, "bands", BANDS, band_buckets),
                index._tombstones(ts),
            ).select("band_id", F.col("sig").alias("s_sig"))
            hit_store = (
                sigs.join(
                    stored,
                    (sigs.band_id == stored.band_id) & (sigs.sig == stored.s_sig),
                )
                .select(sigs.doc_id)
                .distinct()
            )
            a, b = sigs.alias("a"), sigs.alias("b")
            hit_batch = (
                a.join(
                    b,
                    (F.col("a.band_id") == F.col("b.band_id"))
                    & (F.col("a.sig") == F.col("b.sig"))
                    & (F.col("a.doc_id") > F.col("b.doc_id")),
                )
                .select(F.col("a.doc_id").alias("doc_id"))
                .distinct()
            )
            dropped = hit_store.unionByName(hit_batch).distinct()
            accepted = batch.join(dropped, "doc_id", "left_anti")
            if accepted.limit(1).count():
                index.ingest(accepted.select("doc_id", "text"))
            sigs.unpersist()
        applied[run_key] = max(applied.get(run_key, -1), epoch_id)
        state.commit_json(epochs_path, applied)
        return accepted
    finally:
        batch.unpersist()


def start_streaming_neardup_indexed(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    query_name: str = "neardup_indexed_docs",
    available_now: bool = True,
    **index_kwargs,
):
    """Streaming near-dup ingest filter writing through the maintained
    MinHash-LSH index — :func:`start_streaming_neardup` with the
    signature store replaced by ``MinHashLshIndex`` at ``index_dir``
    (one state for streaming admission AND batch dedup; see
    :func:`neardup_filter_batch_indexed`)."""
    import hashlib
    import os

    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
        MinHashLshIndex,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import (
        DOCUMENTS,
    )

    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
    )
    run_key = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]
    index = MinHashLshIndex(spark, index_dir, **index_kwargs)

    def _process(batch: DataFrame, epoch_id: int) -> None:
        accepted = neardup_filter_batch_indexed(
            spark, batch, index, commit_key=(run_key, int(epoch_id))
        )
        accepted.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"run={run_key}", f"epoch={int(epoch_id)}")
        )

    writer = (
        stream.writeStream.queryName(query_name)
        .foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_neardup(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    query_name: str = "neardup_filtered_docs",
    available_now: bool = True,
):
    """Streaming near-dup ingest filter: parquet-dir source of
    (doc_id, text, ...) -> foreachBatch(neardup_filter_batch) ->
    accepted rows committed under ``out_dir/run=.../epoch=...``.
    foreachBatch is AT-LEAST-once, so both the signature store and the
    output are committed per (checkpoint, epoch) with overwrite — a
    retried epoch replaces its own partial first attempt instead of
    appending duplicates, and the store read excludes the in-flight
    epoch so the retry cannot collide with itself (idempotent replay).
    The run key derives from the CHECKPOINT path, not the query runId:
    a post-restart retry re-delivers the same epoch under the same
    checkpoint but a fresh runId. The signature store carries dedup
    state ACROSS batches and restarts (bounded by accepted docs x
    bands, not by text volume)."""
    import hashlib
    import os

    from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import (
        DOCUMENTS,
    )

    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
    )
    run_key = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]

    def _process(batch: DataFrame, epoch_id: int) -> None:
        accepted = neardup_filter_batch(
            spark, batch, store_dir, commit_key=(run_key, int(epoch_id))
        )
        accepted.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"run={run_key}", f"epoch={int(epoch_id)}")
        )

    writer = (
        stream.writeStream.queryName(query_name)
        .foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
