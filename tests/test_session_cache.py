"""The session memo registry (cache.py): hits, ownership, the per-artifact
bound, self-heal after a foreign clearCache, release, and a structure
check that no other module keeps a memo registry of its own. Frames are
small ``spark.range`` plans, distinct per test so no two tests share a
CacheManager entry."""

import ast
import pathlib
import re

import pytest

from sfguide_getting_started_openflow_postgresql_cdc_spark import cache
from sfguide_getting_started_openflow_postgresql_cdc_spark.cache import memo, release

PACKAGE = pathlib.Path(cache.__file__).parent


def _cached(df):
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def _keys(artifact):
    return [k[2] for k in cache._ENTRIES if k[1] == artifact]


def _n_rdds(spark):
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


@pytest.fixture(autouse=True)
def _empty_registry():
    release()
    yield
    release()


def test_hit_returns_the_same_object(spark):
    built = []

    def build():
        built.append(1)
        return spark.range(1001)

    first = memo(spark, "t_hit", "k", build)
    assert _cached(first)
    assert memo(spark, "t_hit", "k", build) is first
    assert len(built) == 1
    rows = memo(spark, "t_rows", "k", lambda: [1, 2, 3])
    assert memo(spark, "t_rows", "k", lambda: []) is rows


def test_unpersisted_memo_keeps_the_plan_only(spark):
    first = memo(spark, "t_plan", "k", lambda: spark.range(1005), persist=False)
    assert not _cached(first)
    assert memo(spark, "t_plan", "k", lambda: pytest.fail("a hit")) is first
    release()
    assert _keys("t_plan") == []


def test_caller_persisted_frame_survives_release(spark):
    mine = spark.range(1002).persist()
    try:
        assert memo(spark, "t_own", "k", lambda: mine) is mine
        release()
        assert _cached(mine)
    finally:
        mine.unpersist()


def test_fifth_key_evicts_the_oldest_of_its_artifact_only(spark):
    other = memo(spark, "t_other", "k", lambda: spark.range(1003))
    frames = [
        memo(spark, "t_bound", i, lambda i=i: spark.range(1010 + i))
        for i in range(cache.MAX_KEYS + 1)
    ]
    assert not _cached(frames[0])
    assert all(_cached(df) for df in frames[1:])
    assert _keys("t_bound") == list(range(1, cache.MAX_KEYS + 1))
    assert _cached(other) and _keys("t_other") == ["k"]
    # a hit refreshes recency: the next insert evicts key 2, not key 1
    memo(spark, "t_bound", 1, lambda: pytest.fail("key 1 is live"))
    memo(spark, "t_bound", "new", lambda: spark.range(1020))
    assert not _cached(frames[2]) and _cached(frames[1])


def test_hit_after_clear_cache_rebuilds(spark):
    first = memo(spark, "t_heal", "k", lambda: spark.range(1004))
    spark.catalog.clearCache()
    second = memo(spark, "t_heal", "k", lambda: spark.range(1004))
    assert second is not first
    assert _cached(second)


def test_release_returns_storage_to_its_starting_count(spark):
    base = _n_rdds(spark)
    a, b = memo(
        spark,
        "t_release",
        "pair",
        lambda: (spark.range(1005), spark.range(1005).selectExpr("id * 2 AS id")),
    )
    memo(spark, "t_release", "one", lambda: spark.range(1006)).count()
    a.count()
    b.count()
    assert _n_rdds(spark) == base + 3
    release()
    assert not cache._ENTRIES
    assert _n_rdds(spark) == base


def test_entry_point_aliases_are_the_one_release():
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.ann_auto import (
        release_ann_cache,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup import (
        clear_dedup_cache,
    )

    assert clear_dedup_cache is release_ann_cache is release


# -- structure: one registry ------------------------------------------------

_REGISTRY_NAME = re.compile(r"^_\w*(CACHE|MEMO)\w*$")
_CONTAINERS = (ast.Dict, ast.List, ast.Set, ast.DictComp, ast.ListComp, ast.SetComp)
_CONTAINER_CALLS = {"dict", "list", "set", "OrderedDict", "defaultdict", "WeakValueDictionary"}


def _registries(source: str) -> list[str]:
    """Module-level names matching ``_*CACHE*`` / ``_*MEMO*`` bound to a
    mutable container — a hand-rolled memo registry."""
    found = []
    for node in ast.parse(source).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        call = value.func if isinstance(value, ast.Call) else None
        name = getattr(call, "id", getattr(call, "attr", None))
        if not (isinstance(value, _CONTAINERS) or name in _CONTAINER_CALLS):
            continue
        found += [
            t.id for t in targets if isinstance(t, ast.Name) and _REGISTRY_NAME.match(t.id)
        ]
    return found


def test_structure_check_catches_a_registry():
    assert _registries("_DD4_CACHE: dict = {}") == ["_DD4_CACHE"]
    assert _registries("import collections\n_X_MEMO = collections.OrderedDict()") == [
        "_X_MEMO"
    ]
    assert _registries("_ANN_CACHE_MAX = 4\nCACHE = {}\n_SEEN = set()") == []


def test_no_memo_registry_outside_the_cache_module():
    offenders = {
        str(path.relative_to(PACKAGE)): names
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "cache.py"
        and (names := _registries(path.read_text()))
    }
    assert not offenders, offenders


def test_load_table_memoises_the_footer_schema(spark, tmp_path):
    """Schema inference is a Spark job of its own: a second load_table of
    the same file starts none, and a rewritten file is read afresh."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
        load_table,
    )

    sc = spark.sparkContext
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "k long, v string").coalesce(1).write.parquet(path)

    def jobs(group):
        sc.setJobGroup(group, group)
        try:
            df = load_table(spark, str(tmp_path), "t")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    df, n_first = jobs("footer-1")
    _, n_again = jobs("footer-2")
    assert (n_first, n_again) == (1, 0)
    assert df.collect() == [(1, "a")]
    spark.createDataFrame([(2, "b", 3.0)], "k long, v string, w double").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    df, _ = jobs("footer-3")
    assert df.columns == ["k", "v", "w"]
