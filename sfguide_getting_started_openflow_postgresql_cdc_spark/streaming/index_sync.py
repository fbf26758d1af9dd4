"""Propagate CDC soft deletes into the maintained pipeline indexes.

The reference's central delete semantic is the SOFT delete: a source
DELETE becomes ``_SNOWFLAKE_DELETED = TRUE`` on the replica and every
downstream surface filters it by default
(/root/reference/sql/3.live_appointments.sql:18,413;
semantic-models/healthcare_cdc_semantic_model.yaml:593-594). The CDC
replicas honor that (streaming/cdc.py merge + default views), but a
training-data pipeline ALSO keeps derived state — the incremental
MinHash-LSH dedup index (operators/dedup_index.py) and the IVF ANN
index (operators/ann_index.py). A takedown/poisoned-doc/eval-leak
delete must reach those too, or the document keeps influencing
pairs/clusters/cells forever.

:func:`sync_soft_deletes` is that bridge: per sync interval it reads
the table's journal for keys whose LATEST event at the replica's
applied watermark is a delete, forwards the NEW ones (past the last
synced watermark) to the index's retraction surface
(``MinHashLshIndex.retract`` / ``IvfIndex.remove``), and records the
watermark in a small JSON state file — at-least-once safe (both
retraction surfaces are idempotent: tombstoned ids re-retract as
no-ops) and delta-bounded (the journal slice read is
seq_no-filtered; keys collected are delete-delta-sized, not
corpus-sized).

Keys re-inserted AFTER their delete (resurrection) are NOT forwarded —
the latest-event filter sees the insert — matching the replica's own
latest-state semantics. A key deleted and re-inserted across DIFFERENT
sync intervals would forward the delete first and then hit
``MinHashLshIndex.ingest``'s tombstone guard on re-ingest; pipelines
key documents by content-unique ids (upstream dd1 exact dedup), which
rules that sequence out by construction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sfguide_getting_started_openflow_postgresql_cdc_spark import state


def _newly_deleted_keys(
    spark: SparkSession,
    engine,
    table: str,
    pk: str,
    after_seq: int,
    upto_seq: int,
) -> DataFrame:
    """Keys whose latest journal event in (after_seq, upto_seq] is a
    delete. Reading the journal deduped on (seq_no, pk) tolerates
    at-least-once foreachBatch replays."""
    j = engine.store.read_journal(spark, table, pk=pk).filter(
        F.col("seq_no") <= upto_seq
    )
    w = Window.partitionBy(pk).orderBy(F.col("seq_no").desc())
    latest = (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        latest.filter((F.col("op") == "D") & (F.col("seq_no") > after_seq))
        .select(F.col(pk).alias("key"))
        .distinct()
    )


def sync_soft_deletes(
    spark: SparkSession,
    engine,
    table: str,
    pk: str,
    index,
    state_path: str,
) -> dict:
    """One retraction-sync step for one (table, index) pair. ``index``
    is a ``MinHashLshIndex`` (retract; id column ``doc_id``) or an
    ``IvfIndex`` (remove; id column ``vec_id``) — dispatched on the
    retraction surface it exposes. Returns
    {"applied_watermark", "retracted"}."""
    prev = int(state.read_json(state_path, {}).get("applied_watermark", -1))
    upto = engine.store.watermark(table)  # never run ahead of the replica
    if upto <= prev:
        return {"applied_watermark": prev, "retracted": 0}

    keys = _newly_deleted_keys(spark, engine, table, pk, prev, upto)
    if hasattr(index, "retract"):
        n = int(
            index.retract(keys.withColumnRenamed("key", "doc_id")).get(
                "retracted_docs", 0
            )
        )
    elif hasattr(index, "remove"):
        ids = keys.withColumnRenamed("key", "vec_id")
        n = ids.count()
        if n:
            index.remove(spark, ids)
    else:
        raise TypeError(f"no retraction surface on {type(index).__name__}")

    os.makedirs(os.path.dirname(state_path) or ".", exist_ok=True)
    state.commit_json(state_path, {"applied_watermark": upto})
    return {"applied_watermark": upto, "retracted": n}
