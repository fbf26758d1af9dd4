"""Corpus-adaptive LSH geometry (operators/ann_auto.py): the derivation
rules, bit-identical reduction to the pinned oracle-checked twins, and
recall/precision/plan gates under the derived geometry."""

import math

from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.ann_auto import (
    TARGET_BUCKET_ROWS,
    auto_band_geometry,
    auto_planes,
    embedding_dup_pairs,
    knn_graph,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (
    QUERIES,
)
import pytest

# driver-budget default excludes this heavyweight suite (pytest.ini);
# builders run it via `-m ""` before shipping engine changes
pytestmark = pytest.mark.slow

SF01 = "/root/testdata/sf0.01"
SF1 = "/root/testdata/sf0.1"


def test_auto_geometry_holds_occupancy_and_recall():
    """bits tracks corpus size (expected bucket occupancy stays within
    2x of the target at every scale), bands tracks the OR-amplification
    bound at the requested threshold/recall."""
    prev_bits = 0
    for n in (500, 5_000, 50_000, 5_000_000, 500_000_000):
        bands, bits = auto_band_geometry(n, threshold=0.9, target_recall=0.99)
        assert bits >= prev_bits  # monotone in corpus size
        prev_bits = bits
        if 2 < bits < 24:  # unclamped region: occupancy actually held
            assert n / 2**bits <= 2 * TARGET_BUCKET_ROWS
        # the recall bound the band count was solved for actually holds
        p = 1.0 - math.acos(0.9) / math.pi
        if bands < 32:  # unclamped
            assert 1 - (1 - p**bits) ** bands >= 0.99
    # 500 vectors at threshold 0.9 lands exactly on dd6's pinned 4x2 —
    # the small-scale config is the adaptive rule's own output
    assert auto_band_geometry(500, 0.9, 0.99) == (4, 2)
    # degenerate corpora don't divide by zero
    assert auto_band_geometry(0) == (1, 2)
    assert auto_band_geometry(1, threshold=1.0) == (1, 2)


def test_auto_planes_deterministic():
    assert auto_planes(4, 6, 64) == auto_planes(4, 6, 64)
    assert auto_planes(4, 6, 64, seed=1) != auto_planes(4, 6, 64, seed=2)


def test_dup_pairs_forced_to_pinned_twin_is_bit_identical(spark):
    """embedding_dup_pairs under dd6_scaled's exact geometry+planes must
    reproduce the oracle-checked registry row bit-for-bit — the adaptive
    surface is the same plan, not a reimplementation."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
        load_table,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.similarity import (
        DD6_SCALED_BAND_BITS,
        DD6_SCALED_N_BANDS,
        dd6_scaled_planes,
    )

    emb = load_table(spark, SF01, "embeddings")
    got = {
        (r["id_a"], r["id_b"]): r["similarity"]
        for r in embedding_dup_pairs(
            emb,
            threshold=0.5,  # COSINE_DUP_THRESHOLD — the twin's pin
            geometry=(DD6_SCALED_N_BANDS, DD6_SCALED_BAND_BITS),
            planes=dd6_scaled_planes(),
        ).collect()
    }
    want = {
        (r["vec_a"], r["vec_b"]): r["similarity"]
        for r in QUERIES["dd6_embedding_cosine_dups_scaled"](spark, SF01).collect()
    }
    assert got == want


def test_knn_graph_forced_to_sim10_is_bit_identical(spark):
    from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
        load_table,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.similarity import (
        SCALED_BAND_BITS,
        SCALED_N_BANDS,
        scaled_planes,
    )

    emb = load_table(spark, SF01, "embeddings")
    got = {
        (r["vec_id"], r["rank"]): (r["neighbor_id"], r["similarity"])
        for r in knn_graph(
            emb,
            k=3,
            geometry=(SCALED_N_BANDS, SCALED_BAND_BITS),
            planes=scaled_planes(),
        ).collect()
    }
    want = {
        (r["vec_id"], r["rank"]): (r["neighbor_id"], r["similarity"])
        for r in QUERIES["sim10_knn_graph_scaled"](spark, SF01).collect()
    }
    assert got == want


def test_auto_dup_pairs_recall_precision_plan_at_sf01(spark):
    """Fully-derived geometry at sf0.1 (5k vectors -> 6-bit bands):
    precision exact (subset of all-pairs truth, bit-identical sims),
    recall >= the pinned twins' gate, no cross product, and the derived
    occupancy bound actually holds on this corpus."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.dedup import (
        embedding_cosine_allpairs,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
        load_table,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.plans.inspect import (
        explain_str,
    )

    emb = load_table(spark, SF1, "embeddings")
    n = emb.count()
    bands, bits = auto_band_geometry(n, threshold=0.5)
    assert bits > 2, "sf0.1 must NOT get the toy 2-bit geometry"
    assert n / 2**bits <= 2 * TARGET_BUCKET_ROWS

    df = embedding_dup_pairs(emb, threshold=0.5)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = {(r["id_a"], r["id_b"]): r["similarity"] for r in df.collect()}
    exact = {
        (r["vec_a"], r["vec_b"]): r["similarity"]
        for r in embedding_cosine_allpairs(spark, SF1).collect()
    }
    assert set(got).issubset(set(exact))
    for k in got:
        assert got[k] == exact[k]
    assert exact
    recall = len(got) / len(exact)
    assert recall >= 0.7, f"auto-geometry recall {recall:.2f} ({len(got)}/{len(exact)})"


def test_auto_oracle_corpus_contract():
    """The sim11/dd16 DuckDB oracles embed the geometry derived at
    AUTO_ORACLE_N because oracle SQL is static while the Spark side
    derives from the live corpus. This pins the assumption: BOTH parity
    scales must have exactly AUTO_ORACLE_N embeddings of dim AUTO_DIM —
    if the testdata contract changes, fail here (loudly, locally), not
    in the driver's hash compare."""
    import duckdb

    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.ann_auto import (
        AUTO_DIM,
        AUTO_ORACLE_N,
    )

    for sf in ("sf0.001", "sf0.01"):
        n, dim = duckdb.sql(
            "SELECT COUNT(*), MIN(len(embedding)) "
            f"FROM '/root/testdata/{sf}/embeddings.parquet'"
        ).fetchone()
        assert (n, dim) == (AUTO_ORACLE_N, AUTO_DIM), (sf, n, dim)


def test_auto_registry_rows_registered():
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import (
        ORACLES,
    )

    assert "sim11_knn_graph_auto" in QUERIES and "sim11_knn_graph_auto" in ORACLES
    assert "dd16_embedding_dups_auto" in QUERIES and "dd16_embedding_dups_auto" in ORACLES


def test_ann_cache_bounded_across_distinct_corpora(spark):
    """r12 (VERDICT r11 item 5): repeated knn_graph/embedding_dup_pairs
    calls over DISTINCT corpora must not accumulate persisted augmented
    frames — the session memo registry caps live entries and its release
    drops them all. getRDDStorageInfo is the ground truth the verdict
    asked to watch."""
    import pyspark.sql.functions as F

    from sfguide_getting_started_openflow_postgresql_cdc_spark import cache
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.ann_auto import (
        embedding_dup_pairs,
        knn_graph,
    )

    def n_cached_rdds():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    def n_entries():
        return sum(k[1] == "ann_augmented" for k in cache._ENTRIES)

    cache.release()
    base = n_cached_rdds()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # 8 distinct corpora (offset vec_ids -> distinct plans/cache keys)
    for i in range(8):
        corpus = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * 1000))
        if i % 2 == 0:
            knn_graph(corpus, k=2).count()
        else:
            embedding_dup_pairs(corpus, threshold=0.5).count()
    assert n_entries() <= cache.MAX_KEYS
    assert n_cached_rdds() - base <= cache.MAX_KEYS
    # repeated calls over the SAME corpus reuse one entry (no growth)
    before = n_entries()
    for _ in range(3):
        knn_graph(emb, k=2).count()
    assert n_entries() <= max(before, 1) + 1
    cache.release()
    assert n_entries() == 0
    assert n_cached_rdds() <= base
