"""SparkSession factory.

Replaces the reference's warehouse provisioning
(``sql/1.snowflake_setup.sql:26-29`` — MEDIUM warehouse, auto-suspend) with
SparkSession configuration: AQE for runtime re-planning, shuffle
partitions sized to the local core count, UTC session timezone so
timestamp semantics match a TZ-naive warehouse (and the DuckDB oracle).

At cluster scale the same builder applies; only ``master`` and the
shuffle-partition count change (rule of thumb: 2-3x total executor cores,
or rely on AQE coalescing which is enabled here).

Three settings cut the fixed driver cost every small operation (a CDC sync,
a corpus dump ingest, a dashboard refresh) pays:

- ``spark.sql.codegen.cache.maxEntries`` = :data:`CODEGEN_CACHE_ENTRIES`.
  Spark's default keeps 100 generated classes, but one ~150-document
  corpus dump (``MinHashLshIndex.ingest`` then
  ``IncrementalCurationManifest.ingest``) generates about 280 distinct
  classes, so the LRU evicted each class before the next dump asked for
  it again: ~280 Janino compiles per dump in steady state. With room for
  the working set a dump compiles ~50 (mostly its own filter literals,
  which generated code inlines) and its process tree spends 21.5
  CPU-seconds instead of 29.4 (medians, 4 vCPUs). It is a static conf, so
  it is set here in the builder; a session that already exists keeps its
  own.
- ``spark.python.sql.dataFrameDebugging.enabled`` = ``false``. When on,
  PySpark captures the Python call site of every DataFrame method, which
  about doubles the py4j round trips of plan construction (dd5's build:
  11,909 -> 2,716 calls, 3.3 s -> 0.9 s). Tests turn it back on
  (``tests/conftest.py``) so a failing test still names its call site.
- ``spark.sql.sources.parallelPartitionDiscovery.threshold`` =
  :data:`LISTING_THRESHOLD`: a read of up to that many paths lists them
  on the driver instead of starting a Spark listing job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated-class cache size: one corpus dump compiles about 280 classes
# and one clinic sync about 100 (Janino compiles per operation, read from
# CodegenMetrics, 4 vCPUs), so 1000 holds either working set with room
# to spare. Metaspace at the end of a corpus benchmark run: 164 MB,
# against 166 MB with Spark's 100-entry cache.
CODEGEN_CACHE_ENTRIES = 1000
# Paths a read lists on the driver before Spark lists them in a job of
# its own. A table-set read passes one path per committed file, so a log
# of one segment per sync passes Spark's 32 after its 33rd sync. Read +
# count() of N one-file log segments (4 vCPUs, local disk, medians of 7),
# serial driver listing against the listing job: 40 files 0.19 s against
# 0.43 s, 250 files 0.28 s against 1.11 s, 1000 files 0.58 s against
# 3.53 s.
LISTING_THRESHOLD = 1024


def get_spark(
    app_name: str = "cdc-analytics-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` (driver contract) controls local parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(LISTING_THRESHOLD),
        )
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
