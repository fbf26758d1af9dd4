"""CDC core: snapshot bootstrap, keyed upsert merge with soft deletes,
change journal, Structured Streaming wrapper.

This is the engine's re-expression of the reference's OpenFlow connector
contract (SURVEY.md §2.I, §3 entry 2):

- I1  snapshot  -> replica tables created with ``_SNOWFLAKE_INSERTED_AT``
                   stamped, ``_SNOWFLAKE_UPDATED_AT`` NULL,
                   ``_SNOWFLAKE_DELETED`` FALSE
                   (sql/2.verify_snapshot.sql:41-49).
- I2  INSERT    -> new row appended, inserted_at = sync ts.
- I3  UPDATE    -> in-place upsert by PK, updated_at = sync ts
                   (sql/4.analytics_queries.sql:374-390).
- I4  DELETE    -> SOFT delete: row retained, deleted flag set
                   (sql/3.live_appointments.sql:18,413).
- I5  cadence   -> micro-batch per sync interval
                   (sql/3.live_appointments.sql:48-49).
- I6  journal   -> every typed event kept in a queryable per-table log,
                   written as a segment of the merge's own commit
                   (sql/3.live_appointments.sql:414).

Design for scale
----------------
Plain parquet has no MERGE, so each replica is a versioned directory
published by a pointer commit. Each version is PARTITIONED BY a PK hash
bucket (``_CDC_BUCKET = pmod(xxhash64(pk), n_buckets)``): a merge
rewrites only the buckets that contain changed keys and hard-links every
untouched bucket's files from the previous version — copy-on-write at
bucket granularity, NOT table granularity (the commit, copy-on-write and
retention rules live in ``state.py``). At 100 TB with thousands of buckets
a 1-minute sync interval rewrites only the few GB its keys actually
touch; the whole-table rewrite this replaces cannot ship 100 TB/minute.

The merge itself is pure DataFrame algebra with ONE exchange:

1. union the changed buckets' stored rows (as a struct) with the batch's
   events (as a struct, plus their ``seq_no``);
2. ``repartition(_CDC_BUCKET)`` — the only shuffle. Hash partitioning
   on the bucket already clusters rows by (bucket, pk), so the aggregate
   below needs no second exchange, and each bucket lands in one task,
   so the write makes one file per bucket. The rewritten buckets had to
   be shuffled into their write tasks anyway; this shuffle carries those
   rows and the events, nothing else;
3. ``groupBy(_CDC_BUCKET, pk)`` keeps the stored row (``first``,
   ignoring the event side's NULL) and the LATEST event
   (``max_by(event, seq_no)``);
4. guard every row with a stored per-row version (``_CDC_SEQ``): an
   event lands only if its ``seq_no`` beats the row's current version.
   This makes the merge idempotent under at-least-once ``foreachBatch``
   replay AND correct under out-of-order micro-batch delivery (global
   file/offset ordering is not guaranteed in a distributed source). A
   key with no stored row is an insert (a PK-only tombstone for a D).

The same plan serves a genuinely huge batch (initial backfill): there is
no broadcast side to outgrow, and AQE sizes the shuffle's partitions
from the data because the repartition fixes no count.
"""

from __future__ import annotations

import json
import os
import time
from functools import partial
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from sfguide_getting_started_openflow_postgresql_cdc_spark import schemas, state

# Raw JSONL change-event envelope: ``after`` is a string map so one
# schema carries every table's events; per-table projection casts each
# field to its declared type (schemas.py).
# Internal per-row version column stored in replica parquet (not part of
# the user-facing contract; stripped from registered views): highest
# seq_no applied to the row, the guard that makes merges idempotent and
# reorder-safe.
CDC_SEQ = "_CDC_SEQ"
# Partition column of the replica layout: pmod(xxhash64(pk), n_buckets).
# xxHash64 is a fixed, documented algorithm (seed 42 in Spark) — the
# bucket of a key is stable across sessions, versions, and cluster sizes.
CDC_BUCKET = "_CDC_BUCKET"

ENVELOPE = T.StructType(
    [
        T.StructField("seq_no", T.LongType(), False),
        T.StructField("event_ts", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("after", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


class ReplicaStore:
    """Versioned, PK-hash-bucketed parquet replica tables with their change
    journals: per table one ``state.TableSet`` holding the replica
    (copy-on-write, ``"."``) and its journal (a segment log,
    ``"journal"``), published together by the table's pointer commit.

    Layout::

        root/tables/<table>/v<N>/_CDC_BUCKET=<i>/*.parquet
        root/tables/<table>/journal/v<N>/*.parquet   (one segment per merge)
        root/tables/<table>/_POINTER.json
            {"version": N, "tables": {".": replica version, "journal": base},
             "watermark": seq, "n_buckets": B, "schema", "written_at",
             "watermarks": {retained replica version: watermark}}

    Readers resolve the pointer, so a crash mid-write never exposes a
    half-written version or journal segment; the watermark records the
    highest applied ``seq_no`` for idempotent replay. A merge writes ONLY
    the buckets containing changed keys into the new version, hard-links
    every other bucket's files from the previous version, and writes its
    batch's events as the journal segment of the same commit. A commit
    that wrote only the journal (a batch of malformed events, a
    compaction) adds no replica version: :meth:`version`,
    :meth:`versions` and time travel skip it. Commit, copy-on-write,
    segments and retention (``keep_versions``) follow ``state.py``.
    """

    # 3: the journal's segments in the table's set (2: a plain-append
    # root/journal/<table>; 1: a _VERSION.json stamp in each version)
    LAYOUT = 3

    def __init__(self, root: str, keep_versions: int = 2):
        if keep_versions < 2:
            raise ValueError("keep_versions >= 2 (current + 1 for in-flight readers)")
        self.root = root
        self.keep_versions = keep_versions
        os.makedirs(os.path.join(root, "tables"), exist_ok=True)

    # -- pointer ----------------------------------------------------------
    def tables(self, table: str) -> state.TableSet:
        """The table's set, bootstrapped or not."""
        return state.TableSet(
            os.path.join(self.root, "tables", table),
            "_POINTER.json",
            {".": state.TableSet.COW, "journal": state.TableSet.LOG},
            bucket_col=CDC_BUCKET,
            layout=self.LAYOUT,
            keep=self.keep_versions,
            empty={"version": -1, "watermark": -1, "n_buckets": 0},
        )

    def open(self, table: str, version: int | None = None) -> state.TableSet:
        """The bootstrapped table's set; ``version`` must be retained."""
        ts = self.tables(table)
        if ts.committed(".") is None:
            raise FileNotFoundError(f"replica '{table}' not bootstrapped")
        if version is not None and str(version) not in ts.doc["watermarks"]:
            raise FileNotFoundError(
                f"replica '{table}' version {version} retired or never written "
                f"(retained: {self.versions(table)})"
            )
        return ts

    def _pointer(self, table: str) -> dict:
        return self.tables(table).doc

    def watermark(self, table: str) -> int:
        return int(self._pointer(table)["watermark"])

    def version(self, table: str) -> int:
        """The committed replica version (-1 before bootstrap)."""
        return int(self._pointer(table)["tables"].get(".", -1))

    def written_at(self, table: str) -> float | None:
        """Time of the table's last pointer commit (merge, bootstrap or
        schema re-point); None before bootstrap."""
        return self._pointer(table).get("written_at")

    def n_buckets(self, table: str) -> int:
        return int(self._pointer(table).get("n_buckets", 0))

    def table_path(self, table: str, version: int | None = None) -> str:
        return self.open(table, version).path(".", version)

    def version_watermarks(self, table: str) -> dict[int, int]:
        """{version: watermark} for every RETAINED version — the map that
        lets readers time-travel by watermark instead of version number."""
        marks = self._pointer(table).get("watermarks", {})
        return {int(v): int(wm) for v, wm in marks.items()}

    def version_at_watermark(self, table: str, max_watermark: int) -> int:
        """Newest retained version whose watermark <= max_watermark."""
        candidates = [
            v for v, wm in self.version_watermarks(table).items()
            if wm <= max_watermark
        ]
        if not candidates:
            raise FileNotFoundError(
                f"no retained version of '{table}' at watermark <= "
                f"{max_watermark} (retained: {self.version_watermarks(table)})"
            )
        return max(candidates)

    def versions(self, table: str) -> list[int]:
        """Retained committed version numbers, oldest first (time-travel
        targets); a crashed write's orphan above the pointer is not one."""
        return sorted(self.version_watermarks(table))

    @staticmethod
    def _schema(doc: dict) -> T.StructType | None:
        raw = doc.get("schema")
        return T.StructType.fromJson(json.loads(raw)) if raw else None

    # -- io ----------------------------------------------------------------
    def read(
        self, spark: SparkSession, table: str, version: int | None = None
    ) -> DataFrame:
        """Replica state (bucket column stripped). ``version`` time-travels
        to a retained older version — every version is a complete
        snapshot (unchanged buckets are hard-linked, not omitted), so an
        old version reads exactly like the current one. Retention is
        ``keep_versions`` (AS OF by version number; map sync timestamps
        to versions via the pointer's ``written_at`` if needed).

        The read schema comes from the pointer: no footer-based inference
        (listing footers of a 100 TB replica just to learn the schema is
        wasted I/O), and a table with zero rows, which has no data files,
        stays readable."""
        ts = self.open(table, version)
        return ts.read(spark, ".", self._schema(ts.doc), version=version).drop(
            CDC_BUCKET
        )

    def read_buckets(
        self, spark: SparkSession, table: str, buckets: list[int]
    ) -> DataFrame:
        """Only the named buckets, read by their files: a merge never
        lists or scans the untouched part of the replica."""
        ts = self.open(table)
        return ts.read(spark, ".", self._schema(ts.doc), buckets).drop(CDC_BUCKET)

    def update_schema(self, table: str, schema: T.StructType) -> None:
        """Re-point the stored read schema without touching data files
        (ADD COLUMN evolution: files written before the change simply
        lack the column, and an explicit-schema parquet read yields NULL
        for it — a metadata-only operation at any data scale)."""
        self.publish(self.open(table), schema=json.dumps(schema.jsonValue()))

    def publish(self, ts: state.TableSet, watermark: int | None = None, **fields) -> None:
        """Commit what ``ts`` wrote, with the pointer ``fields`` updated:
        a replica version at ``watermark``, or (None) the journal alone.
        The pointer keeps the watermarks of the versions retention keeps."""
        doc = {**ts.doc, **fields, "written_at": time.time()}
        if watermark is not None:
            marks = sorted(ts.doc.get("watermarks", {}).items(), key=lambda m: int(m[0]))
            doc["watermark"] = watermark
            doc["watermarks"] = {
                **dict(marks[1 - self.keep_versions:]),
                str(ts.version + 1): watermark,
            }
        ts.commit(doc)

    def write_full(
        self,
        spark: SparkSession,
        table: str,
        df: DataFrame,
        watermark: int,
        n_buckets: int,
        ts: state.TableSet | None = None,
    ) -> None:
        """Write a complete new version (bootstrap / bucket-count change)
        into ``ts`` (default: the table's set) and commit it. ``df`` must
        carry the ``_CDC_BUCKET`` column."""
        ts = ts or self.tables(table)
        ts.write(".", df)
        self.publish(
            ts, watermark, n_buckets=n_buckets, schema=json.dumps(df.schema.jsonValue())
        )

    def write_merged(
        self,
        spark: SparkSession,
        table: str,
        changed_df: DataFrame,
        changed_buckets: list[int],
        watermark: int,
        ts: state.TableSet,
    ) -> None:
        """Write a new version into the merge's open set ``ts`` that
        materializes ``changed_df`` (which must cover exactly
        ``changed_buckets`` and carry ``_CDC_BUCKET``) and hard-links
        every other bucket directory from the current version — the
        copy-on-write path a 1-minute sync interval takes — and commit it
        with the journal segment ``ts`` holds."""
        ts.write(".", changed_df, touched=changed_buckets)
        # never backwards: the version guard applies none of a late batch
        self.publish(ts, max(int(ts.doc["watermark"]), watermark))

    def journal_files(self, table: str) -> list[str]:
        """The parquet files of the table's committed journal segments."""
        return self.open(table).files("journal")

    def read_journal(
        self, spark: SparkSession, table: str, pk: str | None = None
    ) -> DataFrame:
        """The committed event log, malformed events included. With
        ``pk``, duplicates on ``(seq_no, pk)`` are dropped: a replay of a
        micro-batch writes a second segment for a table the failed run
        had already committed. The key is part of the dedup because
        bootstrap's snapshot events all carry ``seq_no=0``."""
        j = self.open(table).read(spark, "journal")
        return j if pk is None else j.dropDuplicates(["seq_no", pk])


class ConsistentSnapshot(dict):
    """``dict[table -> DataFrame]`` from ``CdcEngine.consistent_snapshot``,
    annotated with the common ``watermark`` it was pinned to and the set of
    table names that could not be served at that watermark and ``fallbacks``
    to their current version instead (empty = strictly consistent)."""

    def __init__(self, frames: dict, watermark: int, fallbacks: Iterable[str] = ()):
        super().__init__(frames)
        self.watermark = watermark
        self.fallbacks = frozenset(fallbacks)


class CdcEngine:
    """Snapshot + incremental CDC maintenance for a set of keyed tables."""

    def __init__(
        self,
        store: ReplicaStore,
        tables: dict[str, T.StructType] | None = None,
        primary_keys: dict[str, str] | None = None,
        write_partitions: int | None = None,
        n_buckets: int | None = None,
        auto_compact_max_files: int | None = None,
        journal_retain_seqs: int = 10_000,
        access=None,
    ):
        self.store = store
        # optional AccessControl (access.py): when set, jdbc: bootstrap
        # sources must be covered by an EGRESS network rule (A18 twin)
        self.access = access
        self.tables = tables or schemas.HEALTHCARE_TABLES
        self.primary_keys = primary_keys or schemas.PRIMARY_KEYS
        # Output-file sizing: None lets AQE pick; small reference-scale
        # tables should pass 1 to avoid a spray of KB-sized files. At
        # cluster scale, size so files land ~128 MB-1 GB each.
        self.write_partitions = write_partitions
        # Replica layout granularity: a merge rewrites only buckets whose
        # keys changed, one file per bucket. None sizes each table at
        # bootstrap from its snapshot (state.bucket_count: one bucket per
        # 256 KiB, so a small table is one bucket) and pins the count in
        # the table's pointer; a given count is used for every table
        # and a replica bucketed otherwise is refused. A cluster whose
        # files cost more than a local disk's passes its own count.
        self.n_buckets = n_buckets
        # Journal hygiene under streaming: each micro-batch appends
        # files, so a 1-minute sync leaves ~1440 files/table/day. When
        # set, apply_envelope_batch compacts any journal whose file
        # count exceeds the threshold, keeping the last
        # journal_retain_seqs sequence numbers verbatim (full SCD2
        # fidelity inside the retention window).
        self.auto_compact_max_files = auto_compact_max_files
        self.journal_retain_seqs = journal_retain_seqs

    @staticmethod
    def _bucket(pk: str, n_buckets: int):
        return F.pmod(F.xxhash64(F.col(pk)), F.lit(n_buckets)).cast("int")

    def bucket(self, table: str):
        """``table``'s bucket expression at the count pinned in its pointer."""
        return self._bucket(self.primary_keys[table], self.store.n_buckets(table))

    # -- I1: snapshot bootstrap --------------------------------------------
    def bootstrap(
        self,
        spark: SparkSession,
        source: dict[str, DataFrame | str],
        load_ts: str,
        journal_snapshot: bool = True,
    ) -> None:
        """Initial full copy: replica = source + metadata columns
        (connector contract, sql/1.snowflake_setup.sql:47-49).

        Source values may be DataFrames, parquet paths, or ``jdbc:`` URLs
        (the reference's actual entry point is a live PostgreSQL —
        sql/0.init_healthcare.sql); string sources resolve through
        ``sources.loader.load_snapshot_source`` with this engine's
        declared schema (types never inferred from the remote catalog).

        ``journal_snapshot`` also writes the snapshot into the journal as
        seq-0 'I' events so the SCD2 history (:meth:`scd2_history`) covers
        every row from its first known version, not just live changes.
        """
        from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
            load_snapshot_source,
        )

        source = {
            table: load_snapshot_source(
                spark, src, table, self.tables[table], access=self.access
            )
            for table, src in source.items()
        }
        for table, df in source.items():
            n_buckets = self.n_buckets or state.bucket_count(state.size_estimate(df))
            replica = (
                df.withColumn(
                    schemas.META_INSERTED_AT, F.lit(load_ts).cast("timestamp_ntz")
                )
                .withColumn(
                    schemas.META_UPDATED_AT, F.lit(None).cast("timestamp_ntz")
                )
                .withColumn(schemas.META_DELETED, F.lit(False))
                .withColumn(CDC_SEQ, F.lit(-1).cast("long"))
                .withColumn(
                    CDC_BUCKET, self._bucket(self.primary_keys[table], n_buckets)
                )
            )
            if self.write_partitions:
                replica = replica.coalesce(self.write_partitions)
            else:
                replica = replica.repartition(n_buckets, F.col(CDC_BUCKET))
            ts = self.store.tables(table)
            if journal_snapshot:
                snap_events = df.select(
                    F.lit(0).cast("long").alias("seq_no"),
                    F.lit(load_ts).cast("timestamp_ntz").alias("event_ts"),
                    F.lit("I").alias("op"),
                    *[F.col(f.name) for f in self.tables[table].fields],
                )
                if self.write_partitions:
                    snap_events = snap_events.coalesce(self.write_partitions)
                self.append_journal(ts, snap_events)
            self.store.write_full(
                spark, table, replica, watermark=-1, n_buckets=n_buckets, ts=ts
            )

    # -- schema evolution ----------------------------------------------------
    @staticmethod
    def _is_widening(old: "T.DataType", new: "T.DataType") -> bool:
        """True when a parquet file written with ``old`` reads correctly
        under a read schema declaring ``new`` (metadata-only type
        widening, r10 verdict task 9 — verified against the Spark 4
        vectorized reader's widening promotions): the integral upcast
        chain, float->double, byte/short/int->double, and decimal
        growth where neither the scale nor the integral-digit budget
        shrinks.
        Everything else — every narrowing, string/binary changes,
        date/timestamp changes — is a rewrite, not an evolution."""
        integral = (T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType())
        if old in integral:
            if new in integral:
                return integral.index(old) < integral.index(new)
            # long -> double is EXCLUDED (r11 review): the parquet
            # reader refuses INT64 data under a double read schema
            # (probed: PARQUET_COLUMN_DATA_TYPE_MISMATCH), and even a
            # converting reader would silently corrupt values > 2^53
            return isinstance(new, T.DoubleType) and not isinstance(
                old, T.LongType
            )
        if isinstance(old, T.FloatType):
            return isinstance(new, T.DoubleType)
        if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
            return (
                new.scale >= old.scale
                and new.precision - new.scale >= old.precision - old.scale
                and (new.precision, new.scale)
                != (old.precision, old.scale)
            )
        return False

    def evolve_schema(self, table: str, new_schema: T.StructType) -> None:
        """ADD COLUMN + TYPE-WIDENING schema evolution (source ran
        ``ALTER TABLE ADD`` or widened a column; the connector contract
        keeps replicating — OpenFlow handles this transparently, so
        must we).

        Metadata-only: existing replica files are untouched; the
        pointer's read schema gains the new nullable fields (read as
        NULL from pre-evolution files) and/or the widened types (the
        parquet reader upcasts pre-widening files at scan time —
        int->long, float/integral->double, decimal precision/scale
        growth that keeps every old value representable; see
        ``_is_widening``). Subsequent merges project events at the new
        types and write rewritten buckets with them, so a replica mixes
        old-typed and new-typed files under one read schema.
        Constraints: new fields must be nullable, existing fields may
        only WIDEN (narrowing at 100 TB is a rewrite, not a metadata
        change — and silently truncating values is never acceptable),
        drops are not allowed (soft-deprecate by ignoring the column
        instead)."""
        old = self.tables[table]
        old_by_name = {f.name: f for f in old.fields}
        new_names = {f.name for f in new_schema.fields}
        missing = [n for n in old_by_name if n not in new_names]
        if missing:
            raise ValueError(f"schema evolution cannot drop columns: {missing}")
        added = []
        widened = []
        for f in new_schema.fields:
            if f.name in old_by_name:
                old_t = old_by_name[f.name].dataType
                if f.dataType != old_t:
                    if not self._is_widening(old_t, f.dataType):
                        raise ValueError(
                            f"schema evolution cannot change {f.name!r}: "
                            f"{old_t} -> {f.dataType} is not a metadata-"
                            "only widening"
                        )
                    widened.append(f)
            else:
                if not f.nullable:
                    raise ValueError(f"added column {f.name!r} must be nullable")
                added.append(f)
        self.tables[table] = new_schema
        if not added and not widened:
            return
        stored = self.store._schema(self.store._pointer(table))
        if stored is not None:
            widened_by_name = {f.name: f.dataType for f in widened}
            internal = {CDC_SEQ, CDC_BUCKET}
            user = [
                T.StructField(
                    f.name,
                    widened_by_name.get(f.name, f.dataType),
                    f.nullable,  # widening never changes nullability
                )
                for f in stored.fields
                if f.name not in internal
            ]
            tail = [f for f in stored.fields if f.name in internal]
            # new fields append just before the internal columns so
            # user columns stay contiguous in the read schema
            self.store.update_schema(table, T.StructType(user + added + tail))

    # -- event parsing -------------------------------------------------------
    def project_after(self, events: DataFrame, table: str) -> DataFrame:
        """Cast the string-map ``after`` payload to the table's declared
        types; keeps envelope columns (seq_no, event_ts, op).

        Payload casts are ``try_cast``: a malformed producer value lands
        as NULL (quarantine-able downstream) instead of failing the whole
        micro-batch under ANSI mode. Envelope fields stay strict — a
        broken seq_no/event_ts means the transport itself is corrupt."""
        schema = self.tables[table]
        cols = [
            F.element_at(F.col("after"), f.name).try_cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
        return events.select(
            F.col("seq_no"),
            F.col("event_ts").cast("timestamp_ntz").alias("event_ts"),
            F.col("op"),
            *cols,
        )

    # -- I2-I4: keyed upsert merge with soft delete ---------------------------
    def merge_batch(
        self,
        spark: SparkSession,
        table: str,
        events: DataFrame,
        sync_ts: str | None = None,
    ) -> None:
        """Apply one sync interval's events for one table.

        ``events``: raw envelope rows (already filtered to this table) OR
        pre-projected rows from :meth:`project_after`.
        """
        if "after" in events.columns:
            events = self.project_after(events, table)
        pk = self.primary_keys[table]
        ts = self.store.open(table)
        n_buckets = int(ts.doc["n_buckets"])
        if self.n_buckets not in (None, n_buckets):
            raise ValueError(
                f"replica '{table}' is bucketed {n_buckets}-way but the "
                f"engine is configured for {self.n_buckets}; re-bootstrap to "
                "change bucket counts"
            )
        bucket = self._bucket(pk, n_buckets)
        # A malformed payload whose PK fails try_cast lands as NULL; a
        # NULL key never matches the anti join against replica keys and
        # would be re-appended as a garbage row on every batch. The merge
        # applies only well-formed events; the journal segment keeps them
        # all for quarantine/inspection. Unknown ops are likewise
        # quarantined-not-applied: treating a corrupt op byte as an
        # upsert would materialize garbage state.
        good = F.col(pk).isNotNull() & F.col("op").isin("I", "U", "D")
        # The segment is the batch's first action: its write job fills a
        # caller's persisted events, where an aggregate first would cost
        # AQE one more job to build the cache. An empty batch's segment
        # stays uncommitted; the next commit at that version replaces or
        # removes it.
        self.append_journal(ts, events)
        stats = events.agg(
            F.count("*").alias("n"),
            F.count(F.when(good, 1)).alias("n_good"),
            F.max(F.when(good, F.col("seq_no"))).alias("max_seq"),
            F.max(F.when(good, F.col("event_ts"))).alias("max_ts"),
            F.collect_set(F.when(good, bucket)).alias("buckets"),
        ).collect()[0]
        if stats["n"] == 0:
            return
        if stats["n_good"] == 0:
            self.store.publish(ts)  # the journal segment alone
            return
        events = events.filter(good)
        # Buckets whose keys appear in this batch — the ONLY part of the
        # replica this merge reads or rewrites (bounded by n_buckets, so
        # the driver-side list stays tiny at any scale).
        changed_buckets = sorted(stats["buckets"])
        # Deterministic sync timestamp: the batch's newest commit ts
        # (reference stamps rows with the sync time; using event time keeps
        # replays byte-identical).
        sync_col = (
            F.lit(sync_ts).cast("timestamp_ntz")
            if sync_ts
            else F.lit(stats["max_ts"]).cast("timestamp_ntz")
        )

        # Partition-pruned read: only the changed buckets' files are
        # listed/scanned; untouched buckets never enter the plan.
        replica = self.store.read_buckets(spark, table, changed_buckets)
        src_fields = [f.name for f in self.tables[table].fields]
        values = [c for c in src_fields if c != pk]
        meta = [schemas.META_INSERTED_AT, schemas.META_UPDATED_AT,
                schemas.META_DELETED, CDC_SEQ]
        # The one exchange (module docstring): per key, the stored row if
        # any and the latest event if any (max_by skips the stored side's
        # NULL seq).
        sides = replica.select(
            pk, F.struct(*values, *meta).alias("_r")
        ).unionByName(
            events.select(
                pk,
                F.struct("seq_no", "op", *values).alias("_e"),
                F.col("seq_no").alias("_seq"),
            ),
            allowMissingColumns=True,
        )
        keyed = (
            sides.withColumn(CDC_BUCKET, bucket)
            .repartition(CDC_BUCKET)
            .groupBy(CDC_BUCKET, pk)
            .agg(
                F.first("_r", ignorenulls=True).alias("r"),
                F.max_by("_e", "_seq").alias("e"),
            )
        )
        r, e = F.col("r"), F.col("e")
        is_new = r.isNull()
        # Per-row version guard: an event lands only if its seq_no beats
        # the row's stored _CDC_SEQ. This makes the merge idempotent under
        # replay AND correct under out-of-order micro-batch delivery —
        # global ordering is not guaranteed once ingestion is distributed.
        # A key with no stored row takes its latest event whatever the op:
        # a D for a never-seen key materializes a PK-only tombstone, so a
        # late-arriving lower-seq INSERT for it is suppressed by the guard.
        op = F.when(is_new | (e["seq_no"] > r[CDC_SEQ]), e["op"])
        keep = op.isNull()  # no event lands: the stored row stays as it is
        merged = keyed.select(
            *[
                F.col(pk)
                if c == pk
                # existing rows keep their values on D (soft delete)
                else F.when(keep | ((op == "D") & ~is_new), r[c])
                .otherwise(e[c])
                .alias(c)
                for c in src_fields
            ],
            F.when(is_new, sync_col)
            .otherwise(r[schemas.META_INSERTED_AT])
            .alias(schemas.META_INSERTED_AT),
            F.when(keep, r[schemas.META_UPDATED_AT])
            .when(is_new & (op == "I"), F.lit(None).cast("timestamp_ntz"))
            .otherwise(sync_col)
            .alias(schemas.META_UPDATED_AT),
            F.when(keep, r[schemas.META_DELETED])
            .otherwise(op == "D")
            .alias(schemas.META_DELETED),
            F.when(keep, r[CDC_SEQ]).otherwise(e["seq_no"]).alias(CDC_SEQ),
            F.col(CDC_BUCKET),
        )
        if self.write_partitions:
            merged = merged.coalesce(self.write_partitions)
        self.store.write_merged(
            spark,
            table,
            merged,
            changed_buckets=changed_buckets,
            watermark=int(stats["max_seq"]),
            ts=ts,
        )

    # -- I6: journal -----------------------------------------------------------
    def append_journal(self, ts: state.TableSet, events: DataFrame) -> None:
        """Write typed events as the journal segment of the version ``ts``
        writes; the operation's commit publishes it."""
        ts.write("journal", events)

    def quarantine(self, spark: SparkSession, table: str) -> DataFrame:
        """Malformed events the merge refused: journal rows whose PK
        failed the typed cast (NULL key) or whose op is not I/U/D. The
        journal segment holds a batch's events before the merge's
        well-formedness filter, so a producer bug is inspectable after
        the fact instead of silently dropped — the operational complement
        of the merge-side guard."""
        pk = self.primary_keys[table]
        # deduplicated: a foreachBatch replay can journal its events again
        j = self.store.read_journal(spark, table, pk=pk)
        return j.filter(
            F.col(pk).isNull() | ~F.col("op").isin("I", "U", "D")
        )

    # -- batch driver ------------------------------------------------------------
    def apply_envelope_batch(self, spark: SparkSession, batch: DataFrame) -> None:
        """Process one micro-batch of mixed-table envelope rows. Each
        table's merge (replica and journal segment, one commit) and
        journal compaction run as one job of a single
        ``state.run_concurrently`` call, so the tables merge side by side.
        Every merge is idempotent under the version guard, so a failed
        micro-batch may have committed any subset of its tables; the
        ``foreachBatch`` replay of the batch completes the rest."""

        def apply_table(table: str) -> None:
            typed = self.project_after(
                batch.filter(F.col("table_name") == table), table
            )
            typed.persist()
            try:
                self.merge_batch(spark, table, typed)
            finally:
                typed.unpersist()
            self.maybe_compact_journal(spark, table)

        batch.persist()
        try:
            present = [
                row["table_name"]
                for row in batch.select("table_name").distinct().collect()
            ]
            state.run_concurrently(
                [partial(apply_table, t) for t in present if t in self.tables]
            )
        finally:
            batch.unpersist()

    def maybe_compact_journal(self, spark: SparkSession, table: str) -> bool:
        """Compact the table's journal when its file count exceeds
        ``auto_compact_max_files`` (no-op when unset). The horizon keeps
        the newest ``journal_retain_seqs`` sequence numbers verbatim;
        older history collapses to latest-per-key. File counting is a
        directory listing — O(files), no data read."""
        if self.auto_compact_max_files is None:
            return False
        if len(self.store.journal_files(table)) <= self.auto_compact_max_files:
            return False
        horizon = self.store.watermark(table) - self.journal_retain_seqs
        if horizon <= 0:
            return False
        self.compact_journal(spark, table, horizon)
        return True

    # -- I5: Structured Streaming wrapper ------------------------------------------
    def start_cdc(
        self,
        spark: SparkSession,
        events_dir: str,
        checkpoint_dir: str,
        processing_time: str | None = "60 seconds",
        available_now: bool = False,
        max_files_per_trigger: int = 1,
    ):
        """Consume JSONL change-event files as a stream; one merge per
        micro-batch (the reference's 1-minute sync interval —
        ``processingTime='60 seconds'``; tests use ``available_now`` with
        file-per-batch to replay the scripted scenario deterministically)."""
        reader = (
            spark.readStream.schema(ENVELOPE)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .json(events_dir)
        )
        writer = reader.writeStream.foreachBatch(
            lambda df, _epoch: self.apply_envelope_batch(df.sparkSession, df)
        ).option("checkpointLocation", checkpoint_dir)
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    # -- cross-table consistent reads ----------------------------------------------
    def consistent_snapshot(
        self,
        spark: SparkSession,
        tables: Iterable[str] | None = None,
        on_gap: str = "fallback",
    ) -> "ConsistentSnapshot":
        """Read ALL tables at one common watermark — the newest sequence
        number every table has fully applied (tables advance their
        watermarks independently, so 'current' reads taken mid-batch can
        mix states; this pins each table to the newest RETAINED version
        whose watermark does not exceed the common minimum).

        The global event sequence is totally ordered across tables, so
        'every table at watermark <= W' is a transactionally consistent
        prefix of the change stream. Retention (``keep_versions``)
        bounds how far the per-table versions can drift; when a table's
        retained versions are ALL above the common watermark (it drifted
        more than retention covers), behavior follows ``on_gap``:

        - ``"fallback"`` (default): read that table's CURRENT version and
          record its name in the returned snapshot's ``fallbacks`` — the
          caller sees exactly which tables broke strict consistency;
        - ``"raise"``: propagate the FileNotFoundError (strict mode).

        Returns a ``ConsistentSnapshot`` — a plain ``dict[table ->
        DataFrame]`` carrying ``.watermark`` and ``.fallbacks``."""
        if on_gap not in ("fallback", "raise"):
            raise ValueError(f"on_gap must be 'fallback' or 'raise', got {on_gap!r}")
        names = list(tables or self.tables)
        common = min(self.store.watermark(t) for t in names)
        out = {}
        fallbacks = []
        for t in names:
            try:
                v = self.store.version_at_watermark(t, common)
            except FileNotFoundError:
                if on_gap == "raise":
                    raise
                fallbacks.append(t)
                v = None  # newest retained version
            out[t] = self.store.read(spark, t, version=v)
        return ConsistentSnapshot(out, watermark=common, fallbacks=fallbacks)

    # -- disaster recovery: replica from journal ----------------------------------
    def rebuild_replica(
        self,
        spark: SparkSession,
        table: str,
        into: "ReplicaStore | None" = None,
    ) -> None:
        """Reconstruct the replica table from the journal alone — the
        journal is a complete source of truth when the engine was
        bootstrapped with ``journal_snapshot=True`` (snapshot rows are
        seq-0 'I' events). This is the disaster-recovery / migration
        path: the journal is read through the table's pointer, so while
        the pointer and the journal segments survive, lost or damaged
        replica files are rebuilt from them (``into``: into another
        store).

        State (source columns, soft-delete flag, per-row ``_CDC_SEQ``
        guard) is reconstructed EXACTLY — verified against the
        incrementally-maintained replica in tests. Metadata timestamps
        are event-time-derived (first event -> inserted_at, last event
        -> updated_at), which is deterministic and batch-independent;
        the incremental path stamps them with the enclosing batch's
        sync time, so they can differ when one batch carried several
        events for a key.

        One window + one aggregate over the journal, both shuffling on
        the PK — the same key layout as every other per-key operator."""
        store = into or self.store
        pk = self.primary_keys[table]
        j = self.store.read_journal(spark, table, pk=pk)
        j = j.filter(F.col(pk).isNotNull() & F.col("op").isin("I", "U", "D"))
        src_fields = [f.name for f in self.tables[table].fields]
        n_buckets = self.n_buckets or self.store.n_buckets(table)

        w = Window.partitionBy(pk).orderBy(F.col("seq_no").desc())
        last = (
            j.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col(pk).alias("_k"),
                F.col("seq_no").alias("_last_seq"),
                F.col("op").alias("_last_op"),
                F.col("event_ts").alias("_last_ts"),
            )
        )
        # post-image values come from the latest NON-delete event (a
        # soft-deleted row retains its last live values); D-only keys
        # materialize PK-only tombstones, as the merge does.
        vals = (
            j.filter(F.col("op") != "D")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col(pk).alias("_k"), *[F.col(c) for c in src_fields if c != pk])
        )
        first = j.groupBy(F.col(pk).alias("_k")).agg(
            F.min("seq_no").alias("_first_seq"),
            F.min_by("event_ts", "seq_no").alias("_first_ts"),
        )
        rebuilt = (
            last.join(vals, "_k", "left")
            .join(first, "_k")
            .select(
                F.col("_k").alias(pk),
                *[F.col(c) for c in src_fields if c != pk],
                F.col("_first_ts").alias(schemas.META_INSERTED_AT),
                F.when(F.col("_last_seq") > F.col("_first_seq"), F.col("_last_ts"))
                .otherwise(F.lit(None).cast("timestamp_ntz"))
                .alias(schemas.META_UPDATED_AT),
                (F.col("_last_op") == "D").alias(schemas.META_DELETED),
                # seq-0 snapshot rows carry the bootstrap guard value -1
                F.when(F.col("_last_seq") == 0, F.lit(-1))
                .otherwise(F.col("_last_seq"))
                .cast("long")
                .alias(CDC_SEQ),
            )
            .withColumn(CDC_BUCKET, self._bucket(pk, n_buckets))
        )
        if self.write_partitions:
            rebuilt = rebuilt.coalesce(self.write_partitions)
        else:
            rebuilt = rebuilt.repartition(n_buckets, F.col(CDC_BUCKET))
        watermark = self.store.watermark(table)
        store.write_full(
            spark, table, rebuilt, watermark=watermark, n_buckets=n_buckets
        )

    # -- SCD2 history over the journal --------------------------------------------
    def scd2_history(self, spark: SparkSession, table: str) -> DataFrame:
        """Slowly-changing-dimension type-2 view derived from the journal:
        one row per (key, version) with ``valid_from``/``valid_to``
        intervals, a version number, and current/deleted flags.

        The journal is append-only, so this is a pure window computation
        (no state): per-PK ``lead(event_ts)`` closes each version. At
        100 TB the journal partitions by table and the window shuffles on
        the PK once — same key layout as the merge itself.

        DELETE events carry a PK-only payload; their row closes the prior
        version and materializes a tombstone version (``is_deleted``).
        """
        pk = self.primary_keys[table]
        j = self.store.read_journal(spark, table, pk=pk)
        w = Window.partitionBy(pk).orderBy("seq_no")
        return (
            j.withColumn("valid_from", F.col("event_ts"))
            .withColumn("valid_to", F.lead("event_ts").over(w))
            .withColumn("version", F.row_number().over(w))
            .withColumn("is_deleted", F.col("op") == "D")
            .withColumn(
                "is_current",
                F.lead("event_ts").over(w).isNull() & (F.col("op") != "D"),
            )
            .drop("event_ts")
        )

    # -- I6: journal retention --------------------------------------------------
    def compact_journal(
        self, spark: SparkSession, table: str, retain_after_seq: int
    ) -> dict:
        """Bound journal growth: events newer than ``retain_after_seq``
        are kept verbatim (full SCD2 fidelity for the retention window);
        older WELL-FORMED history collapses to the LATEST event per key,
        so latest-state reads, replica rebuilds, and the version guard
        keep working while intermediate pre-horizon versions are dropped.
        Malformed events (NULL PK or unknown op) are excluded from the
        collapse and kept verbatim regardless of age — ``quarantine()``
        promises the journal preserves them for post-hoc inspection, and
        a latest-per-key window would otherwise fold every NULL-PK row
        into one arbitrary survivor.

        An append-only journal otherwise grows with total change volume
        forever — at 100 TB scale compaction is what keeps the journal a
        queryable table instead of cold sediment. Runs as one window over
        the pre-horizon slice (shuffles on the PK, the same key layout as
        every other per-key operator).

        The compacted journal is one segment that replaces every earlier
        one (``state.TableSet.rewrite``), published by the table's pointer
        commit: a crash before the commit leaves the old segments
        committed and the new one an orphan the next write replaces; a
        crash after it leaves replaced segments no reader sees.

        Returns ``{"before": n, "after": n, "horizon": seq}``.
        """
        pk = self.primary_keys[table]
        ts = self.store.open(table)
        j = ts.read(spark, "journal")
        before = j.count()
        j = j.dropDuplicates(["seq_no", pk])
        well_formed = F.col(pk).isNotNull() & F.col("op").isin("I", "U", "D")
        quarantined = j.filter(~well_formed)  # kept verbatim, any age
        good = j.filter(well_formed)
        old_slice = good.filter(F.col("seq_no") <= retain_after_seq)
        recent = good.filter(F.col("seq_no") > retain_after_seq)
        w = Window.partitionBy(pk).orderBy(F.col("seq_no").desc())
        latest_old = (
            old_slice.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        compacted = latest_old.unionByName(recent).unionByName(quarantined)
        if self.write_partitions:
            compacted = compacted.coalesce(self.write_partitions)

        ts.rewrite("journal", compacted)
        self.store.publish(ts)
        after = self.store.read_journal(spark, table).count()
        return {"before": before, "after": after, "horizon": retain_after_seq}

    # -- views -------------------------------------------------------------------
    def register_views(
        self, spark: SparkSession, tables: Iterable[str] | None = None
    ) -> None:
        """Register raw replicas (``<t>_raw``) and the semantic-layer
        default views (``<t>`` with ``_SNOWFLAKE_DELETED = FALSE`` —
        reference yaml:593-594,613-614)."""
        for t in tables or self.tables:
            df = self.store.read(spark, t).drop(CDC_SEQ)
            df.createOrReplaceTempView(f"{t}_raw")
            df.filter(~F.col(schemas.META_DELETED)).createOrReplaceTempView(t)
