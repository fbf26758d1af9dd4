"""Batch readers for the driver's parquet testdata.

Equivalent to the reference's snapshot read path (the OpenFlow connector's
initial full-table copy, ``sql/1.snowflake_setup.sql:47-49``) but over
columnar parquet: Catalyst pushes predicates and prunes columns into the
scan, so callers should express filters/projections declaratively and
never pre-materialize.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfguide_getting_started_openflow_postgresql_cdc_spark.cache import memo
from sfguide_getting_started_openflow_postgresql_cdc_spark.schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def spread_small(df: DataFrame) -> DataFrame:
    """Repartition to the cluster's default parallelism ONLY when the
    frame has fewer partitions — the guard that lets single-file toy
    inputs fan out before an expensive explode/decode WITHOUT paying a
    full shuffle of raw text at 100 TB, where the source arrives
    already split into >= cluster-width partitions (an unconditional
    ``repartition(defaultParallelism)`` there is a pure-cost whole-
    corpus exchange). ``getNumPartitions`` is plan metadata — no job."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Plain parquet read — schema comes from the
    file footer; filters/projections applied later push down into this scan.
    Inferring that schema is a Spark job of its own, so it is memoised per
    session (``cache.memo``), keyed by the path and the file's size and
    mtime: a rewritten file is read afresh.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which the vectorized Spark
    reader rejects; read it as raw nanos (legacy conf) and truncate to
    microseconds with integer division (nanos exceed 2^53 — float division
    would corrupt them). Matches DuckDB's ns->us truncation, so oracle
    comparisons agree.
    """
    # The driver may hand us a session it built itself; timestamp
    # semantics (cast-to-date, date_trunc, collect) must be UTC to match
    # the TZ-naive warehouse/oracle, so pin it defensively here.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            # -> timestamp_ntz: every other testdata timestamp reads as NTZ
            # (and the reference's warehouse type is TIMESTAMP_NTZ); NTZ
            # collect/display is process-TZ-independent.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        return df
    return _read_parquet(spark, path)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    st = os.stat(path)
    # one artifact per path: the memo's per-artifact bound then counts
    # versions of one file, and no table evicts another's schema
    schema = memo(
        spark, f"footer_schema:{path}", (st.st_size, st.st_mtime_ns),
        lambda: spark.read.parquet(path).schema,
    )
    return spark.read.schema(schema).parquet(path)


def load_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    schema,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetch_size: int = 10_000,
    properties: dict[str, str] | None = None,
    access=None,
) -> DataFrame:
    """A12 snapshot branch over a live database (the reference's entry
    point is PostgreSQL: sql/0.init_healthcare.sql:1-377; the OpenFlow
    connector's auto-snapshot is sql/1.snowflake_setup.sql:47-49).

    The declared ``StructType`` is enforced via the JDBC source's
    ``customSchema`` — column types are NEVER inferred from the remote
    catalog (driver type mapping varies by database/driver version; the
    warehouse contract types in schemas.py are authoritative).

    For a 100 TB-class snapshot pass ``partition_column`` +
    ``lower/upper_bound`` + ``num_partitions`` so the read issues one
    range-predicated query per partition (parallel snapshot, the way the
    reference's connector chunks its initial copy); an unpartitioned JDBC
    read is a single connection on one executor.
    """
    if access is not None:
        # A18 twin: the endpoint must be covered by an EGRESS network
        # rule, like the connector's EXTERNAL ACCESS INTEGRATION
        # (sql/1.snowflake_setup.sql:75-94) — fail closed before any
        # connection attempt.
        access.check_egress(url)
    custom = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetch_size))
        .option("customSchema", custom)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise ValueError(
                "partition_column requires lower_bound, upper_bound and "
                "num_partitions (Spark JDBC range-partitioned read)"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def load_snapshot_source(
    spark: SparkSession, src, table: str, schema, access=None
) -> DataFrame:
    """Resolve one bootstrap source: a DataFrame passes through; a
    ``jdbc:`` URL routes to :func:`load_jdbc_table` (gated by the
    optional AccessControl's network rules); any other string is a
    parquet path."""
    if isinstance(src, DataFrame):
        return src
    if isinstance(src, str) and src.startswith("jdbc:"):
        return load_jdbc_table(spark, src, table, schema, access=access)
    if isinstance(src, str):
        return spark.read.parquet(src)
    raise TypeError(f"unsupported snapshot source for '{table}': {type(src)!r}")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register testdata tables as temp views for the SQL API surface."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
