"""Incrementally-maintained materialized aggregates over CDC replicas.

The reference pipeline recomputes its dashboards from the replica on
every query (sql/3.live_appointments.sql:111-161 re-runs status counts
after each sync). This module maintains a grouped aggregate as a
DELTA-merged table instead: after each ``merge_batch``, only the rows
whose primary keys appeared in the batch are re-read (bucket-pruned —
the same partition pruning the merge itself uses), their before/after
group contributions are differenced, and the tiny delta is merged into
the stored aggregate.

Cost model at 100 TB: the batch touches K keys across B changed
buckets; maintenance reads O(B buckets) once more and shuffles
O(groups-in-batch) delta rows — the base table is never rescanned.
A full refresh would scan 100 TB per sync interval; this scans the
changed buckets twice (merge + MV delta).

Correctness under CDC semantics:
- soft deletes leave the row in the replica but remove it from the
  aggregate (``_DELETED`` filter on both the before and after reads);
- group-changing UPDATEs move the row between groups (−1 old, +1 new);
- out-of-order / replayed batches are safe because the before/after
  states are read AROUND the guarded merge — whatever the per-row
  ``_CDC_SEQ`` guard actually applied is exactly what is differenced;
- groups whose count reaches zero are dropped from the store so the
  MV equals a fresh GROUP BY at every point.

Storage: a one-table ``state.TableSet``, ``path/data/v<N>/`` published
by ``path/data/_POINTER.json``, which also records ``replica_version``,
the replica version the aggregate reflects. A merge whose replica commit
landed but whose aggregate commit did not (a crash between the two)
leaves the pointer's ``replica_version`` behind the replica; the next
merge sees that and recomputes the aggregate in full instead of applying
a delta.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sfguide_getting_started_openflow_postgresql_cdc_spark import schemas, state
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import CdcEngine


class IncrementalGroupCount:
    """COUNT(*) of live rows per ``group_col``, maintained incrementally.

    Usage::

        mv = IncrementalGroupCount(engine, "appointments", "status", mv_dir)
        mv.initialize(spark)                      # one full scan
        mv.merge_batch(spark, events)             # replica merge + MV delta
        mv.read(spark)                            # (group, n) DataFrame

    Subclasses add measures by overriding ``_measures()`` — a list of
    (name, aggregate-expression) pairs folded through the same delta
    machinery; ``n`` (the live-row count) must stay first, because group
    existence (and MV-row retirement) is decided by ``n != 0``.
    """

    def __init__(self, engine: CdcEngine, table: str, group_col: str, path: str):
        self.engine = engine
        self.table = table
        self.group_col = group_col
        self.path = path
        self.pk = engine.primary_keys[table]
        grp_fields = [f for f in engine.tables[table].fields if f.name == group_col]
        if not grp_fields:
            raise ValueError(f"{group_col!r} not in {table!r} schema")
        self._grp_type = grp_fields[0].dataType

    # -- storage (group-cardinality data: tiny at any base-table scale) ----
    def _tables(self) -> state.TableSet:
        return state.TableSet(
            os.path.join(self.path, "data"),
            "_POINTER.json",
            {".": state.TableSet.COW},
            layout=2,  # 1: the pointer named the data version alone
            empty={"replica_version": -1},
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return self._tables().read(spark, ".")

    def _publish(self, df: DataFrame | None, replica_version: int) -> None:
        """Write ``df`` (None: keep the current data) as the next version
        and commit it as reflecting ``replica_version``."""
        ts = self._tables()
        if df is not None:
            ts.write(".", df.coalesce(1))
        ts.commit({"replica_version": replica_version})

    # -- full compute (bootstrap / repair) ---------------------------------
    def _full_aggregate(self, spark: SparkSession) -> DataFrame:
        live = self.engine.store.read(spark, self.table).filter(
            ~F.col(schemas.META_DELETED)
        )
        return live.groupBy(F.col(self.group_col).alias("grp")).agg(
            *[expr.alias(name) for name, expr in self._measures()]
        )

    def initialize(self, spark: SparkSession) -> None:
        version = self.engine.store.version(self.table)
        self._publish(self._full_aggregate(spark), version)

    # -- measures ----------------------------------------------------------
    def _measures(self) -> list:
        """(name, aggregate expression) pairs; ``n`` must be first."""
        return [("n", F.count("*"))]

    # -- incremental maintenance -------------------------------------------
    def _group_state_for_keys(
        self, spark: SparkSession, keys: DataFrame
    ) -> DataFrame:
        """Per-group measure contribution of the given PKs' live rows,
        read only from the buckets those keys hash into. With no keys,
        an empty frame with the right schema comes from aggregating the
        always-false filter of the current table."""
        buckets = [
            r["b"]
            for r in keys.select(self.engine.bucket(self.table).alias("b"))
            .distinct()
            .collect()
        ]
        if not buckets:
            rows = self.engine.store.read(spark, self.table).filter(F.lit(False))
        else:
            part = self.engine.store.read_buckets(spark, self.table, buckets)
            rows = part.join(
                F.broadcast(keys), on=self.pk, how="left_semi"
            ).filter(~F.col(schemas.META_DELETED))
        return rows.groupBy(F.col(self.group_col).alias("grp")).agg(
            *[expr.alias(name) for name, expr in self._measures()]
        )

    def merge_batch(
        self,
        spark: SparkSession,
        events: DataFrame,
        sync_ts: str | None = None,
    ) -> None:
        """Apply one micro-batch to the replica AND the aggregate."""
        if "after" in events.columns:
            events = self.engine.project_after(events, self.table)
        store = self.engine.store
        ptr = self._tables().doc
        stale = ptr["replica_version"] != store.version(self.table)
        keys = events.filter(F.col(self.pk).isNotNull()).select(self.pk).distinct().cache()
        before_dir = os.path.join(self.path, "before")
        release: list = []
        try:
            # The before-state must be MATERIALIZED (written out) before the
            # merge rewrites the underlying buckets — a lazy DataFrame would
            # re-read post-merge files and difference the batch against
            # itself. The write is group-cardinality rows, not data-scale.
            if not stale:
                self._group_state_for_keys(spark, keys).write.mode(
                    "overwrite"
                ).parquet(before_dir)
            self.engine.merge_batch(spark, self.table, events, sync_ts=sync_ts)
            if stale:
                new = self._full_aggregate(spark)
            else:
                new = self._merged(
                    spark,
                    spark.read.parquet(before_dir),
                    self._group_state_for_keys(spark, keys),
                    release,
                )
            version = store.version(self.table)
            if new is not None or version != ptr["replica_version"]:
                self._publish(new, version)
        finally:
            for f in release:
                f.unpersist()
            keys.unpersist()
            state.remove_dir(before_dir)

    def _merged(
        self, spark: SparkSession, before: DataFrame, after: DataFrame, release: list
    ) -> DataFrame | None:
        """The new aggregate from the batch keys' before/after group
        contributions, or None when no group changed. Frames cached here
        go into ``release`` (unpersisted after the write)."""
        names = [name for name, _ in self._measures()]
        # Cluster-side delta: union the negated before-contribution with
        # the after-contribution and let groupBy fold them. groupBy treats
        # NULL as an ordinary group, so NULL-group rows difference
        # correctly (no driver-side dict, no collect of group state).
        keep_any = None
        delta = (
            before.select("grp", *[(-F.col(m)).alias(m) for m in names])
            .unionByName(after.select("grp", *names))
            .groupBy("grp")
            .agg(*[F.sum(m).alias(m) for m in names])
        )
        for m in names:
            cond = F.col(m) != 0
            keep_any = cond if keep_any is None else (keep_any | cond)
        delta = delta.filter(keep_any).cache()
        release.append(delta)
        if delta.isEmpty():
            return None
        mv = self.read(spark)
        # eqNullSafe: a plain equi-join never matches NULL keys, which
        # would leave two diverging NULL-group rows in the store.
        return (
            mv.join(delta, mv["grp"].eqNullSafe(delta["grp"]), "full_outer")
            .select(
                F.coalesce(mv["grp"], delta["grp"]).alias("grp"),
                *[
                    (
                        F.coalesce(mv[m], F.lit(0)) + F.coalesce(delta[m], F.lit(0))
                    ).alias(m)
                    for m in names
                ],
            )
            .filter(F.col("n") != 0)
        )

    # -- streaming wrapper ---------------------------------------------------
    def start_stream(
        self,
        spark: SparkSession,
        events_dir: str,
        checkpoint_dir: str,
        processing_time: str | None = "60 seconds",
        available_now: bool = False,
        max_files_per_trigger: int = 1,
    ):
        """Consume JSONL envelope events as a stream, keeping replica AND
        aggregate in sync per micro-batch — the live-dashboard loop with
        no per-refresh base scan. Same source contract as
        ``CdcEngine.start_cdc``; events for other tables are ignored."""
        from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
            ENVELOPE,
        )

        reader = (
            spark.readStream.schema(ENVELOPE)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .json(events_dir)
        )

        def _apply(df, _epoch):
            self.merge_batch(df.sparkSession, df.filter(F.col("table_name") == self.table))

        writer = reader.writeStream.foreachBatch(_apply).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()


class IncrementalGroupSum(IncrementalGroupCount):
    """COUNT(*) + SUM(value_col) of live rows per group, maintained
    incrementally — the reference's revenue-by-doctor dashboard
    (sql/4.analytics_queries.sql revenue queries) without re-scanning
    the base table per sync.

    Semantics: the stored sum is ``SUM(COALESCE(value, 0))`` — NULL
    values contribute 0, so the sum measure is never NULL and the delta
    algebra (negate-union-fold) is closed. Group existence is still
    decided by the row count ``n``: a group whose values sum to zero
    survives as ``(grp, n, s=0)`` until its last live row goes.

    The sum accumulates in a FIXED wide type (decimal columns sum at
    precision 38 with their original scale; integral columns as long),
    so the stored schema cannot drift as repeated merges re-add the
    measure, and decimal accumulation keeps results independent of
    partitioning/order — the same determinism contract as the query
    inventory.
    """

    def __init__(
        self,
        engine: CdcEngine,
        table: str,
        group_col: str,
        value_col: str,
        path: str,
    ):
        super().__init__(engine, table, group_col, path)
        self.value_col = value_col
        val_fields = [
            f for f in engine.tables[table].fields if f.name == value_col
        ]
        if not val_fields:
            raise ValueError(f"{value_col!r} not in {table!r} schema")
        vt = val_fields[0].dataType
        if isinstance(vt, T.DecimalType):
            self._sum_type = T.DecimalType(38, vt.scale)
        elif isinstance(vt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            self._sum_type = T.LongType()
        elif isinstance(vt, (T.FloatType, T.DoubleType)):
            # floats sum as double; order-dependent bits — prefer decimal
            # source columns where exactness matters (see module docstring)
            self._sum_type = T.DoubleType()
        else:
            raise ValueError(f"cannot SUM over {vt.simpleString()}")

    def _measures(self) -> list:
        zero = F.lit(0).cast(self._sum_type)
        return [
            ("n", F.count("*")),
            (
                "s",
                F.sum(
                    F.coalesce(F.col(self.value_col).cast(self._sum_type), zero)
                ).cast(self._sum_type),
            ),
        ]


class IncrementalGroupMinMax(IncrementalGroupCount):
    """COUNT(*) + MIN/MAX(value_col) of live rows per group, maintained
    incrementally — the dashboard family SUM's delta algebra cannot
    cover: a delete (or a group-moving / value-lowering update) can
    retire the CURRENT extreme, and no negate-union-fold recovers the
    runner-up. The classic resolution, implemented here per batch:

    - GROW path (groups the batch only ADDS rows to — none of the
      batch's keys had a live pre-merge row there): extremes extend
      monotonically, ``least/greatest(stored, batch contribution)`` —
      no base read beyond the changed buckets.
    - SHRINK path (groups where any batch key HAD a live row — updates,
      deletes, replays): the stored extreme may have lost its witness,
      so exactly those groups are recomputed from their live rows (a
      group-predicate scan; parquet zone stats prune it, and an MV with
      hot shrink traffic would store its base group-partitioned).

    Untouched groups are carried over verbatim, so per-batch cost
    tracks the batch's group footprint, never the table. NULL groups
    ride the same eqNullSafe joins as the other MVs; NULL values are
    ignored by MIN/MAX (a group of all-NULL values shows NULL extremes
    with a live count) — matching a fresh GROUP BY exactly, which the
    property test asserts after every batch."""

    def __init__(
        self,
        engine: CdcEngine,
        table: str,
        group_col: str,
        value_col: str,
        path: str,
    ):
        super().__init__(engine, table, group_col, path)
        self.value_col = value_col
        if not any(
            f.name == value_col for f in engine.tables[table].fields
        ):
            raise ValueError(f"{value_col!r} not in {table!r} schema")

    def _measures(self) -> list:
        v = F.col(self.value_col)
        return [
            ("n", F.count("*")),
            ("mn", F.min(v)),
            ("mx", F.max(v)),
        ]

    def _merged(
        self, spark: SparkSession, before: DataFrame, after: DataFrame, release: list
    ) -> DataFrame | None:
        shrink = before.select("grp").distinct().cache()
        grow = (
            after.alias("a")
            .join(
                shrink.alias("s"),
                F.col("a.grp").eqNullSafe(F.col("s.grp")),
                "left_anti",
            )
            .cache()
        )
        release += [shrink, grow]
        if shrink.isEmpty() and grow.isEmpty():
            return None
        mv = self.read(spark)
        touched = shrink.unionByName(grow.select("grp")).distinct()
        untouched = mv.alias("m").join(
            touched.alias("t"),
            F.col("m.grp").eqNullSafe(F.col("t.grp")),
            "left_anti",
        )
        # GROW: stored (if any) extended by the batch contribution
        mv_grow = mv.alias("m").join(
            grow.select("grp").alias("g"),
            F.col("m.grp").eqNullSafe(F.col("g.grp")),
            "left_semi",
        )
        g, m = grow.alias("g"), mv_grow.alias("m")
        grown = (
            g.join(m, F.col("g.grp").eqNullSafe(F.col("m.grp")), "left")
            .select(
                F.col("g.grp").alias("grp"),
                (F.coalesce(F.col("m.n"), F.lit(0)) + F.col("g.n")).alias("n"),
                F.least(F.col("m.mn"), F.col("g.mn")).alias("mn"),
                F.greatest(F.col("m.mx"), F.col("g.mx")).alias("mx"),
            )
        )
        # SHRINK: recompute exactly those groups from live rows
        live = self.engine.store.read(spark, self.table).filter(
            ~F.col(schemas.META_DELETED)
        )
        rec = (
            live.alias("l")
            .join(
                shrink.alias("s"),
                F.col(f"l.{self.group_col}").eqNullSafe(F.col("s.grp")),
                "left_semi",
            )
            .groupBy(F.col(f"l.{self.group_col}").alias("grp"))
            .agg(*[e.alias(nm) for nm, e in self._measures()])
        )
        return untouched.unionByName(grown).unionByName(rec)
