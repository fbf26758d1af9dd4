"""Engine facade — the single entry point a user of the reference
quickstart would switch to.

Reference workflow -> engine method map:

- ``sql/0.init_healthcare.sql`` (seed PostgreSQL)  -> :meth:`bootstrap`
  (with the built-in healthcare fixture or caller-supplied DataFrames)
- OpenFlow connector snapshot + 1-min sync          -> :meth:`bootstrap` +
  :meth:`start_cdc` / :meth:`apply_batch`
- ``sql/2.verify_snapshot.sql`` golden checks       -> ``tests/test_cdc_engine.py``
- ``sql/4.analytics_queries.sql`` (24 queries)      -> :meth:`analytics`
- semantic model + verified queries                 -> :attr:`model`,
  :meth:`verified`
- ad-hoc SQL over replicas                          -> :meth:`sql`
- journal / SCD2 history                            -> :meth:`history`
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Mapping
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from sfguide_getting_started_openflow_postgresql_cdc_spark import schemas
from sfguide_getting_started_openflow_postgresql_cdc_spark.cache import memo
from sfguide_getting_started_openflow_postgresql_cdc_spark.semantic.analytics import (
    ANALYTICS,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.semantic.model import (
    healthcare_model,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.sources import healthcare
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
    CdcEngine,
    ReplicaStore,
)


class Engine:
    """CDC warehouse + analytics over a directory-backed replica store."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        write_partitions: int | None = None,
        access=None,
        warehouse=None,
    ):
        self.spark = spark
        self.access = access
        self.warehouse = warehouse  # optional Warehouse (compute sizing)
        if warehouse is not None:
            warehouse.apply(spark)
        self.cdc = CdcEngine(
            ReplicaStore(warehouse_dir),
            write_partitions=write_partitions,
            access=access,
        )
        self.model = healthcare_model()

    def _use_compute(self) -> None:
        """AUTO_RESUME hook: query entry points route through here so a
        suspended warehouse resumes (or refuses) before work runs."""
        if self.warehouse is not None:
            self.warehouse.ensure_active(self.spark)

    # -- authorization (SURVEY §2.A18 functional core) ---------------------
    def reader(self, role: str) -> "RoleReader":
        """Role-scoped table accessor: every ``.table(name)`` checks the
        role's effective SELECT privilege (role hierarchy included)
        before resolving the semantic-layer view. Requires the engine to
        be constructed with an AccessControl."""
        if self.access is None:
            raise ValueError("Engine built without an AccessControl")
        return RoleReader(self, role)

    def login(self, user: str) -> "UserSession":
        """Start a session as a USER principal: the session opens under
        the user's DEFAULT_ROLE and may ``use_role`` only among roles
        granted to the user — the warehouse session contract the
        reference exercises with USE ROLE
        (sql/1.snowflake_setup.sql:14,42,81,110)."""
        if self.access is None:
            raise ValueError("Engine built without an AccessControl")
        return UserSession(self, user)

    # -- lifecycle ---------------------------------------------------------
    def bootstrap(
        self,
        source: dict[str, DataFrame] | None = None,
        load_ts: str = "2024-06-02 12:00:00",
    ) -> "Engine":
        source = source or healthcare.snapshot_dataframes(self.spark)
        self.cdc.bootstrap(self.spark, source, load_ts)
        return self

    def start_cdc(self, events_dir: str, checkpoint_dir: str, **kw):
        return self.cdc.start_cdc(self.spark, events_dir, checkpoint_dir, **kw)

    def apply_batch(self, batch: DataFrame) -> None:
        self.cdc.apply_envelope_batch(self.spark, batch)

    # -- query surfaces ------------------------------------------------------
    def replicas(self, include_deleted: bool = False) -> Mapping[str, DataFrame]:
        """Current replica DataFrames; by default the semantic-layer view
        (soft-deleted rows hidden, internal columns stripped). Read-only
        and lazy: a table is read on first access, so a query pays only
        for the tables it uses, and a read is reused until the table's
        next commit."""
        from pyspark.sql import functions as F

        from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
            CDC_SEQ,
        )

        store = self.cdc.store

        def raw(t: str) -> DataFrame:
            # a committed version's files never change, so its read is
            # reused until the table's next commit (cache.py)
            return memo(
                self.spark,
                f"replica:{store.root}/{t}",
                store.written_at(t),
                lambda: store.read(self.spark, t).drop(CDC_SEQ),
                persist=False,
            )

        def live(t: str) -> DataFrame:
            df = frames[f"{t}_raw"]
            return df if include_deleted else df.filter(~F.col(schemas.META_DELETED))

        factories = {}
        for t in self.cdc.tables:
            factories[f"{t}_raw"] = partial(raw, t)
            factories[t] = partial(live, t)
        frames = LazyFrames(factories)
        return frames

    def refresh_views(self) -> "Engine":
        self.cdc.register_views(self.spark)
        return self

    def sql(self, query: str) -> DataFrame:
        """Ad-hoc Spark SQL over the registered replica views."""
        self._use_compute()
        self.refresh_views()
        return self.spark.sql(query)

    def analytics(self, name: str, as_of: dt.date = healthcare.AS_OF) -> DataFrame:
        """Run one of the reference's analytics queries by name."""
        self._use_compute()
        return ANALYTICS[name](self.replicas(), as_of)

    def analytics_names(self) -> list[str]:
        return sorted(ANALYTICS)

    def verified(self, name: str) -> DataFrame:
        """Run a semantic-model verified query."""
        self._use_compute()
        return self.model.run_verified(name, self.spark, self._model_dfs())

    def _model_dfs(self) -> Mapping:
        dfs = self.replicas(include_deleted=True)
        # verified queries / templates apply their own soft-delete filters
        factories = {t: partial(dfs.__getitem__, f"{t}_raw") for t in self.cdc.tables}
        factories["_as_of_date"] = healthcare.AS_OF.isoformat
        return LazyFrames(factories)

    def ask(self, question: str) -> DataFrame:
        """Natural-language entry: the deterministic router — verified
        catalog first, parameterized templates ('revenue by
        specialization') for the breadth beyond it, loud refusal when
        neither resolves (see SemanticModel.route)."""
        self._use_compute()
        # relative/named dates ('today', 'last month', 'between March
        # and May') resolve against the engine's pinned as_of — the same
        # determinism anchor the verified catalog's modified-today query
        # uses via _as_of_date
        kind, target = self.model.route(question, as_of=healthcare.AS_OF)
        if kind == "verified":
            return self.verified(target)
        return self.model.run_template(target, self.spark, self._model_dfs())

    def explain_route(self, question: str) -> dict:
        """Auditable routing decision for EXACTLY what :meth:`ask` would
        run — same pinned as_of, so relative dates audit as their
        resolved ISO bounds instead of refusing (r10 review: the bare
        ``model.explain_route`` has no as_of and would log a refusal
        for a question ``ask`` happily executes)."""
        return self.model.explain_route(question, as_of=healthcare.AS_OF)

    def history(self, table: str) -> DataFrame:
        """SCD2 type-2 history for a table (journal-derived)."""
        return self.cdc.scd2_history(self.spark, table)

    def as_of(self, table: str, version: int) -> DataFrame:
        """Time-travel read of a retained replica version (soft-deleted
        rows included — a historical version shows what the replica held
        then). ``versions(table)`` lists what is retained."""
        from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
            CDC_SEQ,
        )

        return self.cdc.store.read(self.spark, table, version=version).drop(CDC_SEQ)

    def versions(self, table: str) -> list[int]:
        return self.cdc.store.versions(table)

    def evolve_schema(self, table, new_schema) -> "Engine":
        """ADD COLUMN schema evolution (metadata-only; see
        CdcEngine.evolve_schema)."""
        self.cdc.evolve_schema(table, new_schema)
        return self

    def consistent_snapshot(self, on_gap: str = "fallback"):
        """All tables read at one common watermark; the returned dict
        carries ``.watermark`` and ``.fallbacks`` (tables whose retention
        forced a current-version read — see CdcEngine.consistent_snapshot
        for the ``on_gap`` contract)."""
        return self.cdc.consistent_snapshot(self.spark, on_gap=on_gap)

    def rebuild(self, table: str) -> "Engine":
        """Disaster recovery: reconstruct the replica from its journal
        (see CdcEngine.rebuild_replica)."""
        self.cdc.rebuild_replica(self.spark, table)
        return self

    def quarantine(self, table: str) -> DataFrame:
        """Malformed events the merge refused (NULL-cast PK, unknown op)."""
        return self.cdc.quarantine(self.spark, table)

    def ingest_documents(
        self, path: str, fmt: str = "jsonl", view: str | None = "documents"
    ) -> tuple[DataFrame, DataFrame]:
        """Typed corpus ingestion front door (sources/ingest.py): read a
        JSONL or CSV corpus under the DECLARED documents schema, return
        ``(docs, quarantine)`` — malformed lines are kept, never dropped
        — and (by default) register the good rows as the ``documents``
        temp view so every dd/tx/px/sim operator and :meth:`sql` can
        run on the ingested corpus directly."""
        from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.ingest import (
            read_documents_csv,
            read_documents_jsonl,
        )

        self._use_compute()
        if fmt == "jsonl":
            docs, bad = read_documents_jsonl(self.spark, path)
        elif fmt == "csv":
            docs, bad = read_documents_csv(self.spark, path)
        else:
            raise ValueError(f"unknown ingest format {fmt!r} (jsonl|csv)")
        if view:
            docs.createOrReplaceTempView(view)
        return docs, bad

    def materialized_count(self, table: str, group_col: str, path: str):
        """Create (and initialize) an incrementally-maintained COUNT(*)
        per group over the table's live rows; returns the MV handle
        (``merge_batch`` on it keeps replica and aggregate in sync)."""
        from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.mv import (
            IncrementalGroupCount,
        )

        mv = IncrementalGroupCount(self.cdc, table, group_col, path)
        mv.initialize(self.spark)
        return mv

    def materialized_sum(
        self, table: str, group_col: str, value_col: str, path: str
    ):
        """Incrementally-maintained COUNT(*) + SUM(value_col) per group —
        the revenue-dashboard twin (see IncrementalGroupSum)."""
        from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.mv import (
            IncrementalGroupSum,
        )

        mv = IncrementalGroupSum(self.cdc, table, group_col, value_col, path)
        mv.initialize(self.spark)
        return mv

    def materialized_minmax(
        self, table: str, group_col: str, value_col: str, path: str
    ):
        """Incrementally-maintained COUNT(*) + MIN/MAX(value_col) per
        group — extremes extend monotonically on growth and recompute
        per-group when a delete/update retires the witness (see
        IncrementalGroupMinMax)."""
        from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.mv import (
            IncrementalGroupMinMax,
        )

        mv = IncrementalGroupMinMax(self.cdc, table, group_col, value_col, path)
        mv.initialize(self.spark)
        return mv

    def verify_snapshot(
        self,
        expected_counts: dict[str, int] | None = None,
        snapshot_only: bool = True,
    ) -> DataFrame:
        """Replication verification report (the reference's
        sql/2.verify_snapshot.sql): golden counts, CDC metadata
        invariants, null checks, status distribution, FK integrity."""
        from sfguide_getting_started_openflow_postgresql_cdc_spark.semantic import (
            verification,
        )

        dfs = self.replicas(include_deleted=True)
        raw = {t: dfs[f"{t}_raw"] for t in self.cdc.tables}
        checks = verification.run_checks(
            raw, expected_counts=expected_counts, snapshot_only=snapshot_only
        )
        return verification.report(self.spark, checks)


class LazyFrames(Mapping):
    """Read-only ``name -> value`` mapping that calls a name's factory on
    its first access and keeps the result; iteration, ``len`` and ``in``
    never build. Unknown names raise ``KeyError``."""

    def __init__(self, factories: dict):
        self._factories = factories
        self._built: dict = {}

    def __getitem__(self, name):
        if name not in self._built:
            self._built[name] = self._factories[name]()
        return self._built[name]

    def __contains__(self, name) -> bool:
        return name in self._factories

    def __iter__(self):
        return iter(self._factories)

    def __len__(self) -> int:
        return len(self._factories)


class RoleReader:
    """Table accessor bound to one role (see :meth:`Engine.reader`):
    the single-process twin of a warehouse session running under
    ``USE ROLE`` — object access resolves through the AccessControl's
    effective-privilege check, everything else is denied loudly."""

    def __init__(self, engine: Engine, role: str):
        self._engine = engine
        self.role = role

    def table(self, name: str) -> DataFrame:
        self._engine.access.check(self.role, "SELECT", name)
        dfs = self._engine.replicas()
        if name not in dfs:
            raise KeyError(f"unknown table {name!r}")
        return dfs[name]

    def verified(self, name: str) -> DataFrame:
        """Run a semantic-model verified query AS this role: requires
        SELECT on every table the query declares it reads (reference
        separation — grants gate object access even through blessed
        queries, sql/1.snowflake_setup.sql:40-58)."""
        for t in self._engine.model.verified_tables(name):
            self._engine.access.check(self.role, "SELECT", t)
        return self._engine.verified(name)

    def ask(self, question: str) -> DataFrame:
        """NL entry as this role: route first (verified or template),
        then enforce the routed query's grant surface — an ungranted
        role is refused even when the router finds a match."""
        self._engine._use_compute()
        kind, target = self._engine.model.route(
            question, as_of=healthcare.AS_OF
        )
        if kind == "verified":
            return self.verified(target)
        for t in target.tables:
            self._engine.access.check(self.role, "SELECT", t)
        return self._engine.model.run_template(
            target, self._engine.spark, self._engine._model_dfs()
        )


class UserSession:
    """A principal's session (see :meth:`Engine.login`): opens under the
    user's default role; ``use_role`` re-binds the session to another
    role ONLY if it was granted to the user (``GRANT ROLE r TO USER u``)
    — the missing piece between "a string names a role" and "a caller
    is entitled to that role". All object access delegates to the
    current role's :class:`RoleReader`."""

    def __init__(self, engine: Engine, user: str):
        self._engine = engine
        engine.access._require_user(user)
        self.user = user
        self._reader = RoleReader(engine, engine.access.default_role(user))

    @property
    def role(self) -> str:
        return self._reader.role

    def use_role(self, role: str) -> "UserSession":
        self._engine.access.check_user_role(self.user, role)
        self._reader = RoleReader(self._engine, role)
        return self

    def table(self, name: str) -> DataFrame:
        return self._reader.table(name)

    def verified(self, name: str) -> DataFrame:
        return self._reader.verified(name)

    def ask(self, question: str) -> DataFrame:
        return self._reader.ask(question)
