"""Property-based CDC merge tests (hypothesis): for ANY event sequence,
ANY partition into micro-batches, and ANY batch delivery order, the
replica must satisfy the batch-independent invariants of the connector
contract — the per-row _CDC_SEQ guard is what makes these hold.

Batch-DEPENDENT observables (e.g. which historical values a soft-deleted
row retains) are intentionally not asserted: they depend on sync timing
in the reference connector too.
"""

import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sfguide_getting_started_openflow_postgresql_cdc_spark import schemas
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
    CDC_SEQ,
    ENVELOPE,
    CdcEngine,
    ReplicaStore,
)

# driver-budget default excludes this heavyweight suite (pytest.ini);
# builders run it via `-m ""` before shipping engine changes
pytestmark = pytest.mark.slow

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.LongType(), True),
    ]
)


def _events_strategy():
    ev = st.tuples(
        st.integers(min_value=0, max_value=4),  # key
        st.sampled_from(["I", "U", "D"]),
        st.integers(min_value=0, max_value=99),  # value
    )
    return st.lists(ev, min_size=1, max_size=12)


@st.composite
def _scenario(draw):
    events = draw(_events_strategy())
    n = len(events)
    # split points partition the sequence into 1..n batches
    cuts = sorted(draw(st.sets(st.integers(min_value=1, max_value=max(n - 1, 1)),
                               max_size=min(3, n - 1) if n > 1 else 0)))
    bounds = [0, *cuts, n]
    batches = [events[a:b] for a, b in zip(bounds, bounds[1:]) if a < b]
    order = draw(st.permutations(range(len(batches))))
    return events, batches, order


# one hypothesis run per bucket count: one bucket is the sizing rule's
# count for small data, where every merge rewrites the whole table
@pytest.mark.parametrize("n_buckets", [1, 4])
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(scenario=_scenario())
def test_merge_invariants_hold_for_any_batching(spark, n_buckets, scenario):
    events, batches, order = scenario
    eng = CdcEngine(
        ReplicaStore(tempfile.mkdtemp(prefix="cdc_prop_")),
        tables={"t": SCHEMA},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=n_buckets,
    )
    eng.bootstrap(
        spark,
        {"t": spark.createDataFrame([], SCHEMA)},
        "2024-01-01 00:00:00",
        journal_snapshot=False,
    )
    # global seq numbers in event order; batches delivered in `order`
    seq_of = {i: i + 1 for i in range(len(events))}
    idx = 0
    indexed_batches = []
    for b in batches:
        indexed_batches.append([(seq_of[idx + j], *e) for j, e in enumerate(b)])
        idx += len(b)
    for bi in order:
        rows = [
            (
                seq,
                f"2024-01-01 00:{seq:02d}:00",
                "t",
                op,
                {"id": str(key), "v": str(val)},
            )
            for seq, key, op, val in indexed_batches[bi]
        ]
        eng.merge_batch(spark, "t", spark.createDataFrame(rows, ENVELOPE))

    replica = {r["id"]: r for r in eng.store.read(spark, "t").collect()}

    # model: winner = event with max seq per key
    winners = {}
    for i, (key, op, val) in enumerate(events):
        winners[key] = (seq_of[i], op, val)

    assert set(replica) == set(winners)
    for key, (seq, op, val) in winners.items():
        row = replica[key]
        assert row[CDC_SEQ] == seq, (key, dict(row.asDict()))
        assert row[schemas.META_DELETED] == (op == "D")
        if op != "D":
            assert row["v"] == val


@pytest.mark.parametrize("n_buckets", [1, 4])
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)
@given(scenario=_scenario())
def test_incremental_mv_equals_full_recompute_for_any_batching(
    spark, n_buckets, scenario
):
    """The incrementally-maintained grouped count must equal a fresh
    GROUP BY over live rows after ANY event sequence, batch partition,
    and delivery order."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark import schemas
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.mv import (
        IncrementalGroupCount,
    )

    events, batches, order = scenario
    root = tempfile.mkdtemp(prefix="cdc_mvprop_")
    eng = CdcEngine(
        ReplicaStore(root),
        tables={"t": SCHEMA},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=n_buckets,
    )
    eng.bootstrap(
        spark,
        {"t": spark.createDataFrame([], SCHEMA)},
        "2024-01-01 00:00:00",
        journal_snapshot=False,
    )
    mv = IncrementalGroupCount(eng, "t", "v", root + "/mv")
    mv.initialize(spark)

    seq_of = {i: i + 1 for i in range(len(events))}
    idx = 0
    indexed_batches = []
    for b in batches:
        indexed_batches.append([(seq_of[idx + j], *e) for j, e in enumerate(b)])
        idx += len(b)
    for bi in order:
        rows = [
            (
                seq,
                f"2024-01-01 00:{seq:02d}:00",
                "t",
                op,
                {"id": str(key), "v": str(val)},
            )
            for seq, key, op, val in indexed_batches[bi]
        ]
        mv.merge_batch(spark, spark.createDataFrame(rows, ENVELOPE))
        got = {r["grp"]: r["n"] for r in mv.read(spark).collect()}
        want = {
            r["v"]: r["n"]
            for r in eng.store.read(spark, "t")
            .filter(~F.col(schemas.META_DELETED))
            .groupBy("v")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == want, (got, want)
