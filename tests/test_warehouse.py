"""Warehouse lifecycle twin (SURVEY §2.A15): size presets map to the
Spark knobs that govern parallel capacity; suspend releases cached
state; auto-resume re-applies the preset on next use."""

import pytest

from sfguide_getting_started_openflow_postgresql_cdc_spark.warehouse import (
    SIZE_PRESETS,
    Warehouse,
)

_KNOBS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.autoBroadcastJoinThreshold",
)


@pytest.fixture
def restore_conf(spark):
    """Snapshot the session conf the presets touch and restore it after —
    the session is shared and its defaults are host-dependent (CPU
    count), so tests must not assume any preset equals them."""
    before = {k: spark.conf.get(k) for k in _KNOBS}
    yield
    for k, v in before.items():
        spark.conf.set(k, v)


def test_size_presets_apply_and_resize(spark, restore_conf):
    wh = Warehouse("wh", size="MEDIUM").apply(spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    wh.resize(spark, "SMALL")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == "64m"
    with pytest.raises(ValueError, match="unknown size"):
        wh.resize(spark, "HUGE")
    with pytest.raises(ValueError, match="unknown size"):
        Warehouse("bad", size="TINY")


def test_suspend_releases_cache_and_auto_resume(spark, restore_conf):
    wh = Warehouse("wh", size="MEDIUM", auto_suspend_seconds=300).apply(spark)
    df = spark.range(1000).cache()
    df.count()
    assert df.storageLevel.useMemory
    # idle long enough -> maybe_suspend fires and clears the cache
    assert wh.maybe_suspend(spark, now=wh._last_used + 301)
    assert wh.suspended
    assert not df.storageLevel.useMemory  # blocks released
    # auto-resume on next use
    wh.ensure_active(spark)
    assert not wh.suspended
    # not idle -> no suspend
    assert not wh.maybe_suspend(spark, now=wh._last_used + 1)


def test_suspend_invalidates_dedup_memo(spark, restore_conf, sf_dir):
    """ADVICE r5: suspend() unpersists cached blocks — the dd4 shingle
    memo must not keep serving the now-uncached frames (either suspend
    clears it, or the memo self-heals on storageLevel); both hold."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark import cache
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators import dedup

    sh, capped = dedup._dd4_shingle_cache(spark, sf_dir)
    sh.count()
    pairs = dedup._dd4_pairs_cache(spark, sf_dir)
    pairs.count()
    assert sh.storageLevel.useMemory and pairs.storageLevel.useMemory
    wh = Warehouse("wh", size="MEDIUM").apply(spark)
    wh.suspend(spark)
    assert not sh.storageLevel.useMemory
    assert not pairs.storageLevel.useMemory
    assert not cache._ENTRIES  # suspend released the memos themselves
    wh.ensure_active(spark)
    sh2, capped2 = dedup._dd4_shingle_cache(spark, sf_dir)
    assert sh2.storageLevel.useMemory or sh2.storageLevel.useDisk
    # self-heal path: clearCache WITHOUT going through suspend
    spark.catalog.clearCache()
    sh3, _ = dedup._dd4_shingle_cache(spark, sf_dir)
    assert sh3 is not sh2  # stale entry was detected and rebuilt
    assert sh3.storageLevel.useMemory or sh3.storageLevel.useDisk
    cache.release()


def test_auto_resume_off_refuses(spark, restore_conf):
    wh = Warehouse("wh", auto_resume=False).apply(spark)
    wh.suspend(spark)
    with pytest.raises(RuntimeError, match="AUTO_RESUME"):
        wh.ensure_active(spark)


def test_presets_are_a_monotone_ladder():
    parts = [SIZE_PRESETS[s][0] for s in
             ("XSMALL", "SMALL", "MEDIUM", "LARGE", "XLARGE")]
    assert parts == sorted(parts) and len(set(parts)) == len(parts)


def test_engine_warehouse_integration(spark, restore_conf, tmp_path):
    """Engine(warehouse=...) applies the preset at construction and
    resumes a suspended warehouse on the next query (or refuses with
    AUTO_RESUME off) — including the NL ask() path (ADVICE r5)."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.engine import Engine

    wh = Warehouse("quickstart_pgcdc_wh", size="SMALL")
    eng = Engine(
        spark, str(tmp_path / "w"), write_partitions=1, warehouse=wh
    ).bootstrap()
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    wh.suspend(spark)
    assert eng.sql("SELECT COUNT(*) AS n FROM appointments").collect()[0]["n"] == 170
    assert not wh.suspended  # auto-resumed by the query

    # ask() routes through the warehouse gate on BOTH routing outcomes
    wh.suspend(spark)
    eng.ask("revenue by specialization")  # template path
    assert not wh.suspended
    wh.suspend(spark)
    eng.ask("How many appointments do we have in total?")  # verified path
    assert not wh.suspended

    wh.auto_resume = False
    wh.suspend(spark)
    with pytest.raises(RuntimeError, match="AUTO_RESUME"):
        eng.analytics("revenue_by_doctor")
    with pytest.raises(RuntimeError, match="AUTO_RESUME"):
        eng.ask("revenue by specialization")
    wh.auto_resume = True
