"""Time-travel reads (versioned replica retention) and incrementally-
maintained materialized aggregates (streaming/mv.py).

The MV invariant: after ANY sequence of merge_batch calls — inserts,
group-moving updates, soft deletes, replays — the stored aggregate
equals a fresh GROUP BY over the live replica rows.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sfguide_getting_started_openflow_postgresql_cdc_spark import schemas
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.cdc import (
    ENVELOPE,
    CdcEngine,
    ReplicaStore,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.mv import (
    IncrementalGroupCount,
)

# driver-budget default excludes this heavyweight suite (pytest.ini);
# builders run it via `-m ""` before shipping engine changes
pytestmark = pytest.mark.slow

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("grp", T.StringType(), True),
    ]
)


def _events(spark, rows):
    env = [
        (seq, f"2024-01-01 00:{seq % 60:02d}:00", "t", op, {"id": str(i), "grp": g})
        for seq, op, i, g in rows
    ]
    return spark.createDataFrame(env, ENVELOPE)


def _mk_engine(tmp_path, keep_versions=2):
    return CdcEngine(
        ReplicaStore(str(tmp_path), keep_versions=keep_versions),
        tables={"t": SCHEMA},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=4,
    )


def _bootstrap(spark, eng, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    eng.bootstrap(spark, {"t": df}, "2024-01-01 00:00:00", journal_snapshot=False)


# -- time travel -----------------------------------------------------------


def test_time_travel_reads_previous_version(spark, tmp_path):
    eng = _mk_engine(tmp_path / "w", keep_versions=3)
    _bootstrap(spark, eng, [(1, "a"), (2, "b")])
    eng.merge_batch(spark, "t", _events(spark, [(1, "I", 3, "a")]))
    eng.merge_batch(spark, "t", _events(spark, [(2, "U", 1, "b")]))

    store = eng.store
    assert store.versions("t") == [0, 1, 2]
    v0 = {r["id"]: r["grp"] for r in store.read(spark, "t", version=0).collect()}
    v2 = {r["id"]: r["grp"] for r in store.read(spark, "t", version=2).collect()}
    assert v0 == {1: "a", 2: "b"}
    assert v2 == {1: "b", 2: "b", 3: "a"}
    # default read == newest version
    assert {r["id"]: r["grp"] for r in store.read(spark, "t").collect()} == v2


def test_retention_retires_and_rejects_old_versions(spark, tmp_path):
    eng = _mk_engine(tmp_path / "w", keep_versions=2)
    _bootstrap(spark, eng, [(1, "a")])
    for seq in range(1, 4):
        eng.merge_batch(spark, "t", _events(spark, [(seq, "U", 1, f"g{seq}")]))
    assert eng.store.versions("t") == [2, 3]
    with pytest.raises(FileNotFoundError, match="retired"):
        eng.store.read(spark, "t", version=0)


# -- incremental MV --------------------------------------------------------


def _assert_mv_consistent(spark, mv, eng):
    got = {r["grp"]: r["n"] for r in mv.read(spark).collect()}
    want = {
        r["grp"]: r["n"]
        for r in eng.store.read(spark, "t")
        .filter(~F.col(schemas.META_DELETED))
        .groupBy("grp")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_mv_tracks_inserts_updates_deletes(spark, tmp_path):
    eng = _mk_engine(tmp_path / "w")
    _bootstrap(spark, eng, [(1, "a"), (2, "a"), (3, "b")])
    mv = IncrementalGroupCount(eng, "t", "grp", str(tmp_path / "mv"))
    mv.initialize(spark)
    assert {r["grp"]: r["n"] for r in mv.read(spark).collect()} == {"a": 2, "b": 1}

    # insert into new group, group-moving update, soft delete — one batch
    mv.merge_batch(
        spark,
        _events(spark, [(1, "I", 4, "c"), (2, "U", 1, "b"), (3, "D", 2, None)]),
    )
    _assert_mv_consistent(spark, mv, eng)
    assert {r["grp"]: r["n"] for r in mv.read(spark).collect()} == {
        "b": 2,
        "c": 1,
    }

    # empty group disappears; replayed batch is a no-op for the MV
    mv.merge_batch(spark, _events(spark, [(4, "D", 4, None)]))
    _assert_mv_consistent(spark, mv, eng)
    assert "c" not in {r["grp"] for r in mv.read(spark).collect()}
    mv.merge_batch(
        spark,
        _events(spark, [(1, "I", 4, "c"), (2, "U", 1, "b"), (3, "D", 2, None)]),
    )
    _assert_mv_consistent(spark, mv, eng)


def test_mv_out_of_order_batches(spark, tmp_path):
    eng = _mk_engine(tmp_path / "w")
    _bootstrap(spark, eng, [(1, "a")])
    mv = IncrementalGroupCount(eng, "t", "grp", str(tmp_path / "mv"))
    mv.initialize(spark)
    # later batch lands first; the earlier one must not clobber the MV
    mv.merge_batch(spark, _events(spark, [(10, "U", 1, "z")]))
    mv.merge_batch(spark, _events(spark, [(5, "U", 1, "m")]))
    _assert_mv_consistent(spark, mv, eng)
    assert {r["grp"]: r["n"] for r in mv.read(spark).collect()} == {"z": 1}


def test_mv_null_group_rows(spark, tmp_path):
    """NULL is an ordinary group: inserts/updates/deletes of NULL-grp rows
    must merge into ONE NULL-group MV row (the delta join is null-safe)."""
    eng = _mk_engine(tmp_path / "w")
    _bootstrap(spark, eng, [(1, None), (2, "a")])
    mv = IncrementalGroupCount(eng, "t", "grp", str(tmp_path / "mv"))
    mv.initialize(spark)
    assert {r["grp"]: r["n"] for r in mv.read(spark).collect()} == {None: 1, "a": 1}

    # insert another NULL-grp row: must fold into the existing NULL row,
    # not create a second one
    mv.merge_batch(spark, _events(spark, [(1, "I", 3, None)]))
    _assert_mv_consistent(spark, mv, eng)
    got = {r["grp"]: r["n"] for r in mv.read(spark).collect()}
    assert got == {None: 2, "a": 1}
    assert mv.read(spark).count() == 2  # ONE null row, not two

    # move a row INTO the NULL group and one OUT of it, same batch
    mv.merge_batch(spark, _events(spark, [(2, "U", 2, None), (3, "U", 1, "b")]))
    _assert_mv_consistent(spark, mv, eng)
    got = {r["grp"]: r["n"] for r in mv.read(spark).collect()}
    assert got == {None: 2, "b": 1}

    # delete a NULL-grp row; repeated batches stay consistent (no compounding)
    mv.merge_batch(spark, _events(spark, [(4, "D", 2, None)]))
    _assert_mv_consistent(spark, mv, eng)
    mv.merge_batch(spark, _events(spark, [(5, "I", 4, None), (6, "D", 4, None)]))
    _assert_mv_consistent(spark, mv, eng)
    got = {r["grp"]: r["n"] for r in mv.read(spark).collect()}
    assert got == {None: 1, "b": 1}


def test_mv_incremental_group_sum(spark, tmp_path):
    """IncrementalGroupSum invariant: after any batch sequence the store
    equals a fresh GROUP BY of COUNT(*) and SUM(COALESCE(v, 0)) over the
    live rows — including NULL values (contribute 0), group moves, value
    updates, sum-to-zero groups (retained while rows live), deletes, and
    NULL group keys."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.mv import (
        IncrementalGroupSum,
    )

    schema_v = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "w")),
        tables={"t": schema_v},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=4,
    )
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "b", None), (4, None, 7)], schema_v
    )
    eng.bootstrap(spark, {"t": df}, "2024-01-01 00:00:00", journal_snapshot=False)
    mv = IncrementalGroupSum(eng, "t", "grp", "v", str(tmp_path / "mv"))
    mv.initialize(spark)

    def events(rows):
        env = [
            (seq, f"2024-01-01 00:{seq % 60:02d}:00", "t", op,
             {"id": str(i), "grp": g, "v": None if v is None else str(v)})
            for seq, op, i, g, v in rows
        ]
        return spark.createDataFrame(env, ENVELOPE)

    def check():
        got = {r["grp"]: (r["n"], r["s"]) for r in mv.read(spark).collect()}
        want = {
            r["grp"]: (r["n"], r["s"])
            for r in eng.store.read(spark, "t")
            .filter(~F.col(schemas.META_DELETED))
            .groupBy("grp")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.coalesce(F.col("v"), F.lit(0))).alias("s"),
            )
            .collect()
        }
        assert got == want, (got, want)

    assert {r["grp"]: (r["n"], r["s"]) for r in mv.read(spark).collect()} == {
        "a": (2, 15), "b": (1, 0), None: (1, 7),
    }

    # value update, group move, NULL-group insert, NULL-value insert
    mv.merge_batch(
        spark,
        events([
            (1, "U", 1, "a", 20),      # a: 10 -> 20
            (2, "U", 2, "b", 5),       # move a -> b carrying 5
            (3, "I", 5, None, 3),      # NULL group gains (1, 3)
            (4, "I", 6, "b", None),    # NULL value counts, adds 0
        ]),
    )
    check()
    got = {r["grp"]: (r["n"], r["s"]) for r in mv.read(spark).collect()}
    assert got == {"a": (1, 20), "b": (3, 5), None: (2, 10)}

    # drive a group's sum to zero while rows stay live -> row retained
    mv.merge_batch(spark, events([(5, "U", 2, "b", 0), (6, "U", 6, "b", 0)]))
    check()
    got = {r["grp"]: (r["n"], r["s"]) for r in mv.read(spark).collect()}
    assert got["b"] == (3, 0)  # n=3 rows, sum 0 — NOT dropped

    # soft-delete the last rows of a group -> row retired; replay no-op
    batch = events([(7, "D", 1, None, None)])
    mv.merge_batch(spark, batch)
    check()
    assert "a" not in {r["grp"] for r in mv.read(spark).collect()}
    mv.merge_batch(spark, batch)  # replay
    check()


def test_mv_incremental_group_sum_decimal(spark, tmp_path):
    """Decimal value columns accumulate exactly at a FIXED wide type
    (decimal(38, scale)) — no schema drift across repeated merges."""
    from decimal import Decimal

    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.mv import (
        IncrementalGroupSum,
    )

    schema_v = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
            T.StructField("v", T.DecimalType(10, 2), True),
        ]
    )
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "w")),
        tables={"t": schema_v},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=4,
    )
    df = spark.createDataFrame(
        [(1, "a", Decimal("0.10")), (2, "a", Decimal("0.20"))], schema_v
    )
    eng.bootstrap(spark, {"t": df}, "2024-01-01 00:00:00", journal_snapshot=False)
    mv = IncrementalGroupSum(eng, "t", "grp", "v", str(tmp_path / "mv"))
    mv.initialize(spark)

    stype = dict(mv.read(spark).dtypes)["s"]
    assert stype == "decimal(38,2)"
    for seq, val in ((1, "0.30"), (2, "0.01"), (3, "99.99")):
        env = [(seq, f"2024-01-01 00:0{seq}:00", "t", "I",
                {"id": str(10 + seq), "grp": "a", "v": val})]
        mv.merge_batch(spark, spark.createDataFrame(env, ENVELOPE))
        # type stays pinned across merges
        assert dict(mv.read(spark).dtypes)["s"] == "decimal(38,2)"
    got = {r["grp"]: r["s"] for r in mv.read(spark).collect()}
    assert got == {"a": Decimal("100.60")}


def test_mv_wide_batch_many_groups(spark, tmp_path):
    """A single batch touching ~10^4 distinct groups stays cluster-side and
    correct — the delta is a DataFrame fold, never a driver-side dict."""
    import inspect

    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming import mv as mv_mod

    # apply-path guard: no collect() of group state (the only collect in the
    # module is the bounded bucket-id listing)
    src = inspect.getsource(mv_mod.IncrementalGroupCount.merge_batch)
    assert ".collect()" not in src

    eng = _mk_engine(tmp_path / "w")
    _bootstrap(spark, eng, [(0, "seed")])
    mv = IncrementalGroupCount(eng, "t", "grp", str(tmp_path / "mv"))
    mv.initialize(spark)

    n = 10_000
    env = [
        (1, "2024-01-01 00:01:00", "t", "I", {"id": str(i), "grp": f"g{i}"})
        for i in range(1, n + 1)
    ]
    mv.merge_batch(spark, spark.createDataFrame(env, ENVELOPE))
    got = mv.read(spark)
    assert got.count() == n + 1
    assert got.agg(F.sum("n")).collect()[0][0] == n + 1
    # spot-check + full consistency
    _assert_mv_consistent(spark, mv, eng)


# -- schema evolution ------------------------------------------------------


def test_schema_evolution_add_column(spark, tmp_path):
    eng = _mk_engine(tmp_path / "w")
    _bootstrap(spark, eng, [(1, "a"), (2, "b")])
    eng.merge_batch(spark, "t", _events(spark, [(1, "U", 2, "b2")]))

    evolved = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
            T.StructField("score", T.LongType(), True),
        ]
    )
    eng.evolve_schema("t", evolved)

    # pre-evolution rows read the new column as NULL — no file rewrite
    rows = {r["id"]: r for r in eng.store.read(spark, "t").collect()}
    assert rows[1]["score"] is None and rows[2]["score"] is None

    # post-evolution events carry the new column through the merge
    env = [(5, "2024-01-01 00:05:00", "t", "I",
            {"id": "3", "grp": "c", "score": "42"}),
           (6, "2024-01-01 00:06:00", "t", "U",
            {"id": "1", "grp": "a", "score": "7"})]
    eng.merge_batch(spark, "t", spark.createDataFrame(env, ENVELOPE))
    rows = {r["id"]: r for r in eng.store.read(spark, "t").collect()}
    assert rows[3]["score"] == 42 and rows[1]["score"] == 7
    assert rows[2]["score"] is None  # untouched old row still NULL


def test_schema_evolution_rejects_drops_and_type_changes(spark, tmp_path):
    eng = _mk_engine(tmp_path / "w")
    _bootstrap(spark, eng, [(1, "a")])
    with pytest.raises(ValueError, match="drop"):
        eng.evolve_schema("t", T.StructType([T.StructField("id", T.LongType(), False)]))
    with pytest.raises(ValueError, match="cannot change"):
        eng.evolve_schema(
            "t",
            T.StructType(
                [
                    T.StructField("id", T.LongType(), False),
                    T.StructField("grp", T.IntegerType(), True),
                ]
            ),
        )
    with pytest.raises(ValueError, match="nullable"):
        eng.evolve_schema(
            "t",
            T.StructType(
                [
                    T.StructField("id", T.LongType(), False),
                    T.StructField("grp", T.StringType(), True),
                    T.StructField("score", T.LongType(), False),
                ]
            ),
        )


def test_schema_evolution_type_widening(spark, tmp_path):
    """r11 (VERDICT r10 task 9): metadata-only TYPE WIDENING — int ->
    long and decimal precision growth evolve without rewriting a single
    replica file; pre-widening files read correctly (the parquet reader
    upcasts at scan time), post-widening merges write the new types,
    and the mixed-file replica stays merge-correct. Narrowing keeps
    refusing."""
    wide0 = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
            T.StructField("v", T.IntegerType(), True),
            T.StructField("d", T.DecimalType(10, 2), True),
        ]
    )
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "w")),
        tables={"t": wide0},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=4,
    )
    from decimal import Decimal

    df = spark.createDataFrame(
        [(1, "a", 7, Decimal("99999999.99")), (2, "b", -3, Decimal("0.01"))],
        wide0,
    )
    eng.bootstrap(spark, {"t": df}, "2024-01-01 00:00:00", journal_snapshot=False)

    import glob

    files_before = sorted(glob.glob(str(tmp_path / "w" / "**" / "*.parquet"),
                                    recursive=True))
    wide1 = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
            T.StructField("v", T.LongType(), True),
            T.StructField("d", T.DecimalType(16, 2), True),
        ]
    )
    eng.evolve_schema("t", wide1)
    # metadata-only: no replica file was rewritten by the evolution
    assert sorted(glob.glob(str(tmp_path / "w" / "**" / "*.parquet"),
                            recursive=True)) == files_before

    # pre-widening files read correctly at the widened types
    got = eng.store.read(spark, "t")
    assert dict(got.dtypes)["v"] == "bigint"
    assert dict(got.dtypes)["d"] == "decimal(16,2)"
    rows = {r["id"]: r for r in got.collect()}
    assert rows[1]["v"] == 7 and rows[1]["d"] == Decimal("99999999.99")
    assert rows[2]["v"] == -3 and rows[2]["d"] == Decimal("0.01")

    # post-widening merge carries values only the WIDE types can hold,
    # touching one bucket; untouched buckets keep their old-typed files
    env = [
        (1, "2024-01-01 00:01:00", "t", "I",
         {"id": "3", "grp": "c", "v": str(2**40),
          "d": "99999999999999.99"}),
        (2, "2024-01-01 00:02:00", "t", "U",
         {"id": "1", "grp": "a", "v": "8", "d": "1.00"}),
    ]
    eng.merge_batch(spark, "t", spark.createDataFrame(env, ENVELOPE))
    rows = {r["id"]: r for r in eng.store.read(spark, "t").collect()}
    assert rows[3]["v"] == 2**40
    assert rows[3]["d"] == Decimal("99999999999999.99")
    assert rows[1]["v"] == 8
    assert rows[2]["v"] == -3  # untouched old-typed row still reads

    # widen-then-merge == merge-then-widen? the replica state equals a
    # fresh engine bootstrapped at the wide schema fed the same data
    eng2 = CdcEngine(
        ReplicaStore(str(tmp_path / "w2")),
        tables={"t": wide1},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=4,
    )
    eng2.bootstrap(
        spark,
        {"t": df.withColumn("v", F.col("v").cast("long"))
               .withColumn("d", F.col("d").cast("decimal(16,2)"))},
        "2024-01-01 00:00:00",
        journal_snapshot=False,
    )
    eng2.merge_batch(spark, "t", spark.createDataFrame(env, ENVELOPE))
    a = sorted(eng.store.read(spark, "t").drop("_CDC_SEQ").collect())
    b = sorted(eng2.store.read(spark, "t").drop("_CDC_SEQ").collect())
    assert a == b

    # narrowing refuses — both directions of the widening matrix.
    # long -> double is ALSO refused (r11 review): the parquet reader
    # fails INT64 data under a double read schema, and doubles corrupt
    # longs above 2^53 anyway.
    for bad_v, bad_d in [
        (T.IntegerType(), T.DecimalType(16, 2)),   # long -> int
        (T.DoubleType(), T.DecimalType(16, 2)),    # long -> double
        (T.LongType(), T.DecimalType(10, 2)),      # precision shrink
        (T.LongType(), T.DecimalType(16, 4)),      # integral digits shrink
    ]:
        with pytest.raises(ValueError, match="widening"):
            eng.evolve_schema(
                "t",
                T.StructType(
                    [
                        T.StructField("id", T.LongType(), False),
                        T.StructField("grp", T.StringType(), True),
                        T.StructField("v", bad_v, True),
                        T.StructField("d", bad_d, True),
                    ]
                ),
            )


# -- journal auto-compaction ----------------------------------------------


def test_auto_compaction_bounds_journal_files(spark, tmp_path):
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "w")),
        tables={"t": SCHEMA},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=4,
        auto_compact_max_files=4,
        journal_retain_seqs=3,
    )
    _bootstrap(spark, eng, [(1, "a")])
    # many tiny batches through the streaming apply path
    for seq in range(1, 13):
        env = spark.createDataFrame(
            [(seq, f"2024-01-01 00:{seq:02d}:00", "t", "U",
              {"id": "1", "grp": f"g{seq}"})],
            ENVELOPE,
        )
        eng.apply_envelope_batch(spark, env)

    assert len(eng.store.journal_files("t")) <= 5  # bounded, not 12

    # journal content is still correct: latest-per-key pre-horizon
    # collapsed, recent window verbatim, latest state intact
    j = eng.store.read_journal(spark, "t", pk="id")
    seqs = sorted(r["seq_no"] for r in j.select("seq_no").collect())
    assert seqs[-1] == 12
    assert len(seqs) < 12  # pre-horizon collapsed
    state = {r["id"]: r["grp"] for r in eng.store.read(spark, "t").collect()}
    assert state == {1: "g12"}


# -- Engine facade surfaces ------------------------------------------------


def test_engine_facade_timetravel_and_mv(spark, tmp_path):
    from sfguide_getting_started_openflow_postgresql_cdc_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "w"), write_partitions=1).bootstrap()
    assert eng.versions("appointments") == [0]
    v0 = eng.as_of("appointments", 0)
    assert v0.count() == 170

    mv = eng.materialized_count("appointments", "status", str(tmp_path / "mv"))
    got = {r["grp"]: r["n"] for r in mv.read(spark).collect()}
    assert sum(got.values()) == 170


# -- quarantine ------------------------------------------------------------


def test_quarantine_surfaces_malformed_events(spark, tmp_path):
    eng = _mk_engine(tmp_path / "w")
    _bootstrap(spark, eng, [(1, "a")])
    env = [
        (1, "2024-01-01 00:01:00", "t", "U", {"id": "1", "grp": "b"}),     # good
        (2, "2024-01-01 00:02:00", "t", "I", {"id": "oops", "grp": "c"}),  # bad PK
        (3, "2024-01-01 00:03:00", "t", "X", {"id": "2", "grp": "d"}),     # bad op
    ]
    eng.apply_envelope_batch(spark, spark.createDataFrame(env, ENVELOPE))

    q = eng.quarantine(spark, "t").collect()
    assert sorted(r["seq_no"] for r in q) == [2, 3]
    # the good event applied; neither malformed one reached the replica
    state = {r["id"]: r["grp"] for r in eng.store.read(spark, "t").collect()}
    assert state == {1: "b"}


def test_compaction_preserves_quarantined_events_verbatim(spark, tmp_path):
    """compact_journal collapses pre-horizon history per key, but
    malformed events (NULL PK / unknown op) must survive VERBATIM — the
    quarantine() contract — and never fold into one arbitrary NULL-key
    survivor."""
    eng = _mk_engine(tmp_path / "w")
    _bootstrap(spark, eng, [(1, "a")])
    env = [
        (1, "2024-01-01 00:01:00", "t", "U", {"id": "1", "grp": "b"}),      # good
        (2, "2024-01-01 00:02:00", "t", "I", {"id": "oops", "grp": "c"}),   # bad PK
        (3, "2024-01-01 00:03:00", "t", "X", {"id": "2", "grp": "d"}),      # bad op
        (4, "2024-01-01 00:04:00", "t", "I", {"id": "nope", "grp": "e"}),   # bad PK
        (5, "2024-01-01 00:05:00", "t", "U", {"id": "1", "grp": "f"}),      # good
        (6, "2024-01-01 00:06:00", "t", "U", {"id": "1", "grp": "g"}),      # good
    ]
    eng.apply_envelope_batch(spark, spark.createDataFrame(env, ENVELOPE))
    before_q = {
        (r["seq_no"], r["op"], r["grp"])
        for r in eng.quarantine(spark, "t").collect()
    }
    assert len(before_q) == 3  # seqs 2, 3, 4

    # compact with the horizon PAST every malformed event
    stats = eng.compact_journal(spark, "t", retain_after_seq=5)
    assert stats["after"] < stats["before"]

    after_q = {
        (r["seq_no"], r["op"], r["grp"])
        for r in eng.quarantine(spark, "t").collect()
    }
    assert after_q == before_q  # all three, verbatim — not one survivor

    # well-formed pre-horizon history still collapsed to latest-per-key
    j = eng.store.read_journal(spark, "t", pk="id")
    good_old = j.filter(
        (F.col("seq_no") <= 5) & F.col("id").isNotNull()
        & F.col("op").isin("I", "U", "D")
    ).collect()
    assert sorted(r["seq_no"] for r in good_old) == [5]  # latest per key only
    # post-horizon slice verbatim, latest state intact
    assert [r["seq_no"] for r in j.filter(F.col("seq_no") > 5).collect()] == [6]


def test_consistent_snapshot_falls_back_with_flag(spark, tmp_path):
    """When one table's retained versions are ALL above the common
    watermark, the snapshot succeeds with that table read at current and
    flagged in .fallbacks; on_gap='raise' keeps strict behavior."""
    two = {"t": SCHEMA, "u": SCHEMA}
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "w"), keep_versions=2),
        tables=two,
        primary_keys={"t": "id", "u": "id"},
        write_partitions=1,
        n_buckets=4,
    )
    eng.bootstrap(
        spark,
        {
            "t": spark.createDataFrame([(1, "a")], SCHEMA),
            "u": spark.createDataFrame([(1, "x")], SCHEMA),
        },
        "2024-01-01 00:00:00",
        journal_snapshot=False,
    )

    def env(seq, table, val):
        return spark.createDataFrame(
            [(seq, f"2024-01-01 00:{seq:02d}:00", table, "U",
              {"id": "1", "grp": val})],
            ENVELOPE,
        )

    # 't' races ahead: with keep_versions=2 only versions at watermarks
    # 3 and 4 survive — both ABOVE the common watermark ('u' is still at
    # its bootstrap watermark -1)
    eng.merge_batch(spark, "t", env(1, "t", "a1"))
    eng.merge_batch(spark, "t", env(2, "t", "a2"))
    eng.merge_batch(spark, "t", env(3, "t", "a3"))
    eng.merge_batch(spark, "t", env(4, "t", "a4"))
    assert eng.store.watermark("t") == 4 and eng.store.watermark("u") == -1

    snap = eng.consistent_snapshot(spark)
    assert snap.watermark == -1
    assert snap.fallbacks == {"t"}
    assert {r["id"]: r["grp"] for r in snap["t"].collect()} == {1: "a4"}  # current
    assert {r["id"]: r["grp"] for r in snap["u"].collect()} == {1: "x"}

    with pytest.raises(FileNotFoundError):
        eng.consistent_snapshot(spark, on_gap="raise")
    with pytest.raises(ValueError, match="on_gap"):
        eng.consistent_snapshot(spark, on_gap="maybe")

    # no drift -> strictly consistent, no flags
    eng.merge_batch(spark, "u", env(5, "u", "x5"))
    eng.merge_batch(spark, "u", env(6, "u", "x6"))
    # u retains watermarks {5,6}; t retains {3,4}; common=4 -> t@4, u has
    # nothing <= 4 retained... so u falls back this time
    snap2 = eng.consistent_snapshot(spark)
    assert snap2.watermark == 4 and snap2.fallbacks == {"u"}


# -- crash safety & snapshot isolation -------------------------------------


def test_crashed_merge_leaves_readers_on_old_version_and_retries(spark, tmp_path):
    """A merge that died after writing files but BEFORE the pointer swap
    must be invisible to readers, and the retried merge must reuse the
    version slot cleanly (overwrite the stray directory)."""
    import os

    eng = _mk_engine(tmp_path / "w")
    _bootstrap(spark, eng, [(1, "a")])

    # simulate the crash: a half-written v1 exists, pointer still at v0
    tdir = str(tmp_path / "w" / "tables" / "t")
    stray = os.path.join(tdir, "v1", "_CDC_BUCKET=0")
    os.makedirs(stray)
    with open(os.path.join(stray, "garbage.parquet"), "wb") as f:
        f.write(b"not parquet")

    # readers resolve the pointer -> still v0, unaffected by the stray dir
    assert {r["id"]: r["grp"] for r in eng.store.read(spark, "t").collect()} == {
        1: "a"
    }

    # the retried merge claims v1, clobbering the stray files
    eng.merge_batch(spark, "t", _events(spark, [(1, "U", 1, "b")]))
    assert {r["id"]: r["grp"] for r in eng.store.read(spark, "t").collect()} == {
        1: "b"
    }
    assert not os.path.exists(os.path.join(stray, "garbage.parquet"))


def test_reader_snapshot_survives_concurrent_merge(spark, tmp_path):
    """A DataFrame resolved before a merge keeps reading its version's
    files after the merge commits (retention keeps the previous version
    alive for in-flight readers) — snapshot isolation without locks."""
    eng = _mk_engine(tmp_path / "w", keep_versions=2)
    _bootstrap(spark, eng, [(1, "a"), (2, "b")])

    snapshot = eng.store.read(spark, "t")  # resolves v0's path now
    eng.merge_batch(spark, "t", _events(spark, [(1, "U", 1, "z")]))

    # the pre-merge handle still sees the old state; a fresh read sees new
    assert {r["id"]: r["grp"] for r in snapshot.collect()} == {1: "a", 2: "b"}
    assert {r["id"]: r["grp"] for r in eng.store.read(spark, "t").collect()} == {
        1: "z",
        2: "b",
    }


# -- disaster recovery -----------------------------------------------------


def test_rebuild_replica_from_journal_matches_incremental(spark, tmp_path):
    """Lose the replica, keep the journal: rebuild must reproduce the
    incrementally-maintained state exactly (source values, soft-delete
    flags, per-row seq guard) — including out-of-order batches, group
    moves, deletes, and tombstones for never-seen keys."""
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "w")),
        tables={"t": SCHEMA},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=4,
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
    eng.bootstrap(spark, {"t": df}, "2024-01-01 00:00:00", journal_snapshot=True)
    for batch in (
        [(5, "U", 1, "a2"), (6, "I", 3, "c")],
        [(9, "D", 2, None), (10, "D", 99, None)],  # 99: tombstone, never seen
        [(7, "U", 3, "c2")],  # out-of-order: rejected by guard (9,10 applied)
        [(11, "U", 3, "c3")],
    ):
        eng.apply_envelope_batch(spark, _events(spark, batch))  # journals too

    rebuilt_store = ReplicaStore(str(tmp_path / "rebuilt"))
    eng.rebuild_replica(spark, "t", into=rebuilt_store)

    cols = ["id", "grp", "_SNOWFLAKE_DELETED", "_CDC_SEQ"]
    orig = {r["id"]: tuple(r[c] for c in cols) for r in
            eng.store.read(spark, "t").select(cols).collect()}
    reb = {r["id"]: tuple(r[c] for c in cols) for r in
           rebuilt_store.read(spark, "t").select(cols).collect()}
    assert orig == reb
    assert set(orig) == {1, 2, 3, 99}
    assert rebuilt_store.watermark("t") == eng.store.watermark("t")


def test_mv_streaming_end_to_end(spark, tmp_path):
    """File stream -> replica merge + MV delta per micro-batch; the
    stored aggregate equals a fresh GROUP BY after the stream drains."""
    import json
    import os

    eng = _mk_engine(tmp_path / "w")
    _bootstrap(spark, eng, [(1, "a"), (2, "a")])
    mv = IncrementalGroupCount(eng, "t", "grp", str(tmp_path / "mv"))
    mv.initialize(spark)

    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)
    batches = [
        [(1, "I", 3, "b"), (2, "U", 1, "b")],
        [(3, "D", 2, None), (4, "I", 4, "c")],
    ]
    for i, rows in enumerate(batches):
        with open(os.path.join(events_dir, f"b{i}.jsonl"), "w") as f:
            for seq, op, key, val in rows:
                f.write(json.dumps({
                    "seq_no": seq,
                    "event_ts": f"2024-01-01 00:{seq:02d}:00",
                    "table_name": "t",
                    "op": op,
                    "after": {"id": str(key), "grp": val},
                }) + "\n")

    q = mv.start_stream(
        spark, events_dir, str(tmp_path / "ck"), available_now=True
    )
    q.awaitTermination(180)
    _assert_mv_consistent(spark, mv, eng)
    assert {r["grp"]: r["n"] for r in mv.read(spark).collect()} == {
        "b": 2,
        "c": 1,
    }


def test_mv_sum_streaming_end_to_end(spark, tmp_path):
    """The SUM MV through the inherited streaming wrapper: per-batch
    replica merge + multi-measure delta; the stored (n, s) per group
    equals a fresh GROUP BY after the stream drains."""
    import json
    import os

    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.mv import (
        IncrementalGroupSum,
    )

    schema_v = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "w")),
        tables={"t": schema_v},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=4,
    )
    eng.bootstrap(
        spark,
        {"t": spark.createDataFrame([(1, "a", 10), (2, "a", 5)], schema_v)},
        "2024-01-01 00:00:00",
        journal_snapshot=False,
    )
    mv = IncrementalGroupSum(eng, "t", "grp", "v", str(tmp_path / "mv"))
    mv.initialize(spark)

    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)
    batches = [
        [(1, "I", 3, "b", "7"), (2, "U", 1, "b", "20")],
        [(3, "D", 2, None, None), (4, "I", 4, "a", None)],
    ]
    for i, rows in enumerate(batches):
        with open(os.path.join(events_dir, f"b{i}.jsonl"), "w") as f:
            for seq, op, key, grp, val in rows:
                f.write(json.dumps({
                    "seq_no": seq,
                    "event_ts": f"2024-01-01 00:{seq:02d}:00",
                    "table_name": "t",
                    "op": op,
                    "after": {"id": str(key), "grp": grp, "v": val},
                }) + "\n")

    q = mv.start_stream(
        spark, events_dir, str(tmp_path / "ck"), available_now=True
    )
    q.awaitTermination(180)
    got = {r["grp"]: (r["n"], r["s"]) for r in mv.read(spark).collect()}
    # live rows: 1->(b,20), 3->(b,7), 4->(a,NULL=0); 2 soft-deleted
    assert got == {"a": (1, 0), "b": (2, 27)}
    want = {
        r["grp"]: (r["n"], r["s"])
        for r in eng.store.read(spark, "t")
        .filter(~F.col(schemas.META_DELETED))
        .groupBy("grp")
        .agg(F.count("*").alias("n"),
             F.sum(F.coalesce(F.col("v"), F.lit(0))).alias("s"))
        .collect()
    }
    assert got == want


# -- cross-table consistent snapshot ---------------------------------------


def test_consistent_snapshot_pins_tables_to_common_watermark(spark, tmp_path):
    """Two tables advance their watermarks independently; the consistent
    snapshot must read both at the newest COMMON watermark — the table
    that advanced further time-travels back to its matching version."""
    two = {
        "t": SCHEMA,
        "u": T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("grp", T.StringType(), True),
            ]
        ),
    }
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "w"), keep_versions=4),
        tables=two,
        primary_keys={"t": "id", "u": "id"},
        write_partitions=1,
        n_buckets=4,
    )
    eng.bootstrap(
        spark,
        {
            "t": spark.createDataFrame([(1, "a")], SCHEMA),
            "u": spark.createDataFrame([(1, "x")], two["u"]),
        },
        "2024-01-01 00:00:00",
        journal_snapshot=False,
    )

    def env(seq, table, key, val):
        return spark.createDataFrame(
            [(seq, f"2024-01-01 00:{seq:02d}:00", table, "U",
              {"id": str(key), "grp": val})],
            ENVELOPE,
        )

    # seq 1-2 hit both tables; seq 3 advances only 't'
    eng.merge_batch(spark, "t", env(1, "t", 1, "a1"))
    eng.merge_batch(spark, "u", env(2, "u", 1, "x2"))
    eng.merge_batch(spark, "t", env(3, "t", 1, "a3"))

    assert eng.store.watermark("t") == 3 and eng.store.watermark("u") == 2

    snap = eng.consistent_snapshot(spark)
    # common watermark = 2: 't' must time-travel back to its seq<=2 state
    assert {r["id"]: r["grp"] for r in snap["t"].collect()} == {1: "a1"}
    assert {r["id"]: r["grp"] for r in snap["u"].collect()} == {1: "x2"}
    # current (inconsistent) read would show a3
    assert {r["id"]: r["grp"] for r in eng.store.read(spark, "t").collect()} == {
        1: "a3"
    }


def test_mv_incremental_group_minmax(spark, tmp_path):
    """IncrementalGroupMinMax invariant: after any batch sequence the
    store equals a fresh GROUP BY of COUNT/MIN/MAX over live rows. The
    shrink cases are the ones SUM's delta algebra cannot express: the
    extreme's witness row is deleted or updated downward, and the
    runner-up must surface (targeted per-group recompute)."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.streaming.mv import (
        IncrementalGroupMinMax,
    )

    schema_v = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )
    eng = CdcEngine(
        ReplicaStore(str(tmp_path / "w")),
        tables={"t": schema_v},
        primary_keys={"t": "id"},
        write_partitions=1,
        n_buckets=4,
    )
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "b", None), (4, None, 7)], schema_v
    )
    eng.bootstrap(spark, {"t": df}, "2024-01-01 00:00:00", journal_snapshot=False)
    mv = IncrementalGroupMinMax(eng, "t", "grp", "v", str(tmp_path / "mv"))
    mv.initialize(spark)

    def events(rows):
        env = [
            (seq, f"2024-01-01 00:{seq % 60:02d}:00", "t", op,
             {"id": str(i), "grp": g, "v": None if v is None else str(v)})
            for seq, op, i, g, v in rows
        ]
        return spark.createDataFrame(env, ENVELOPE)

    def check():
        got = {
            r["grp"]: (r["n"], r["mn"], r["mx"])
            for r in mv.read(spark).collect()
        }
        want = {
            r["grp"]: (r["n"], r["mn"], r["mx"])
            for r in eng.store.read(spark, "t")
            .filter(~F.col(schemas.META_DELETED))
            .groupBy("grp")
            .agg(F.count("*").alias("n"), F.min("v").alias("mn"),
                 F.max("v").alias("mx"))
            .collect()
        }
        assert got == want, (got, want)
        return got

    assert check() == {
        "a": (2, 5, 10), "b": (1, None, None), None: (1, 7, 7),
    }

    # pure growth: new keys extend extremes without touching the base
    mv.merge_batch(spark, events([
        (1, "I", 5, "a", 50),          # new max for a
        (2, "I", 6, "a", 1),           # new min for a
        (3, "I", 7, None, 2),          # NULL group grows
    ]))
    assert check()["a"] == (4, 1, 50)

    # the hard shrink cases:
    mv.merge_batch(spark, events([
        (4, "D", 5, None, None),       # delete the max witness of a
        (5, "U", 6, "a", 8),           # raise the min witness of a
    ]))
    assert check()["a"] == (3, 5, 10)  # runner-ups resurfaced

    # group move: row leaves b (shrink b) and enters a (grow a)
    mv.merge_batch(spark, events([(6, "U", 3, "a", 100)]))
    got = check()
    assert got["a"] == (4, 5, 100) and "b" not in got

    # replayed batch is a no-op (seq guard) and stays consistent
    batch = events([(7, "U", 1, "a", 0)])
    mv.merge_batch(spark, batch)
    mv.merge_batch(spark, batch)
    assert check()["a"] == (4, 0, 100)

    # all-NULL-value group keeps NULL extremes with a live count
    mv.merge_batch(spark, events([(8, "I", 8, "c", None)]))
    assert check()["c"] == (1, None, None)
