"""The session's generated-code cache holds a whole operation's working
set (``session.CODEGEN_CACHE_ENTRIES``): repeating a small index ingest
with the same literals compiles close to nothing. With Spark's default
100-entry cache the repeat recompiles about 150 classes, since the ingest
generates more classes than the cache holds."""

from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup_index import (
    MinHashLshIndex,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog dup"),
    (3, "pack my box with five dozen liquor jugs"),
]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_ingest_reuses_generated_code(spark, tmp_path):
    counts = []
    for i in range(2):
        before = _compiles(spark)
        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        MinHashLshIndex(spark, str(tmp_path / f"idx{i}")).ingest(docs)
        counts.append(_compiles(spark) - before)
    assert counts[1] <= 20, f"compiles per ingest (first, repeat): {counts}"
