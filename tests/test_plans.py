"""Physical-plan assertions: the scale properties the operators claim
(pushdown, pruning, broadcast, top-k) must actually appear in the plan."""

from pyspark.sql import functions as F

from sfguide_getting_started_openflow_postgresql_cdc_spark.operators import QUERIES
from sfguide_getting_started_openflow_postgresql_cdc_spark.plans import (
    explain_str,
    has_broadcast_hash_join,
    has_take_ordered,
    pushed_filters,
    scan_read_schema,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["b1_project_filter"](spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("c_acctbal" in p for p in pushed), pushed


def test_column_pruning(spark, sf_dir):
    df = QUERIES["b1_project_filter"](spark, sf_dir)
    schemas = scan_read_schema(df)
    assert schemas and all("c_mktsegment" not in s for s in schemas), schemas


def test_flagship_broadcasts_dims(spark, sf_dir):
    df = QUERIES["flagship_revenue_by_nation"](spark, sf_dir)
    assert has_broadcast_hash_join(df)
    # the fact (orders) scan must not read o_orderdate/o_orderpriority
    schemas = scan_read_schema(df)
    orders_scan = [s for s in schemas if "o_custkey" in s]
    assert orders_scan and "o_orderdate" not in orders_scan[0]


def test_topk_plans_take_ordered(spark, sf_dir):
    assert has_take_ordered(QUERIES["f4_topk_global"](spark, sf_dir))


def test_semi_join_stays_semi(spark, sf_dir):
    plan = explain_str(QUERIES["c6_semi_join"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_date_range_pushdown(spark, sf_dir):
    pushed = pushed_filters(QUERIES["b6_date_range"](spark, sf_dir))
    assert any("l_shipdate" in p for p in pushed), pushed


def test_metadata_only_scan_prunes_payload(spark, sf_dir):
    """mm2 must not read the text-derived payload column beyond length:
    the scan should read only doc_id/text... here: lang + text (for
    length) — crucially NOT a full-width read of every column."""
    df = QUERIES["mm2_media_metadata_stats"](spark, sf_dir)
    schemas = scan_read_schema(df)
    assert schemas and all("source" not in s and "doc_id" not in s for s in schemas), (
        schemas
    )


def test_c3_c4_aggregate_below_join(spark, sf_dir):
    """The aggregate-below-join rewrite must hold in the physical plan:
    the HashAggregate on the fact appears BELOW the join (the shuffle
    carries one row per key, not one per order), and c4's residual date
    predicate is pushed into the parquet scan."""
    for name in ("c3_left_join_count", "c4_left_join_residual_on"):
        plan = explain_str(QUERIES[name](spark, sf_dir))
        join_pos = min(
            p for p in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"),
                        plan.find("ShuffledHashJoin"))
            if p >= 0
        )
        agg_pos = plan.find("HashAggregate")
        assert agg_pos >= 0 and join_pos >= 0
        # formatted explain lists operators leaves-last: the agg node id
        # is larger than the join's => it executes first (below the join)
        assert agg_pos > join_pos, f"{name}: aggregate not below join"
    pushed = pushed_filters(QUERIES["c4_left_join_residual_on"](spark, sf_dir))
    assert any("o_orderdate" in p for p in pushed), pushed


def test_asof_and_range_join_have_no_cross_product(spark, sf_dir):
    """The custom temporal joins must stay equi-join shaped: as-of is a
    union+window (no join at all on the probe path), range join hashes on
    (user, time-bucket) — neither may degenerate to a nested-loop/cartesian."""
    for name in ("i10_asof_join", "i11_range_join"):
        plan = explain_str(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_rollup_cube_single_expand_pass(spark, sf_dir):
    """Grouping sets must run as ONE Expand + aggregate, not one scan
    per grouping level."""
    for name in ("d17_rollup", "d18_cube"):
        plan = explain_str(QUERIES[name](spark, sf_dir))
        assert plan.count("Expand") >= 1, name
        # formatted explain prints each scan twice (tree + details)
        assert plan.count("Scan parquet") == 2 * (3 if name == "d17_rollup" else 1), name


def test_c8_broadcasts_aggregate_side(spark, sf_dir):
    """The per-nation average (25 rows) must broadcast, leaving the
    customer scan shuffle-free on the join."""
    assert has_broadcast_hash_join(QUERIES["c8_scalar_subquery"](spark, sf_dir))


def test_c9_pushes_filter_below_anti_join(spark, sf_dir):
    """NOT EXISTS: the price predicate must reach the orders scan so
    the anti side is pre-filtered, and the join must stay LeftAnti."""
    df = QUERIES["c9_not_exists"](spark, sf_dir)
    plan = explain_str(df)
    assert "LeftAnti" in plan
    assert any("o_totalprice" in p for p in pushed_filters(df))


def test_f7_pagination_plans_bounded_selection(spark, sf_dir):
    """LIMIT+OFFSET must plan a bounded top-(offset+limit) selection,
    never a full global sort of the table."""
    plan = explain_str(QUERIES["f7_pagination"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan or "CollectLimit" in plan, plan


def test_px2_split_is_single_scan_single_shuffle(spark, sf_dir):
    """The train/val/test split audit must be one scan + one 3-group
    aggregation exchange — no join, no second pass."""
    plan = explain_str(QUERIES["px2_hash_split"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2  # one scan, printed twice
    assert "Join" not in plan


def test_bucketed_join_has_zero_exchanges(spark, sf_dir, tmp_path):
    """Co-located bucketed layout: a join of two tables bucketed on the
    join key must contain NO Exchange — the shuffle a 100 TB fact-fact
    join cannot afford happens once at write time, not per query."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.bucketed import (
        co_located_join,
        write_bucketed,
    )
    from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
        load_table,
    )

    write_bucketed(
        load_table(spark, sf_dir, "orders"), "b_orders", "o_custkey", 8
    )
    write_bucketed(
        load_table(spark, sf_dir, "customer"), "b_customer", "c_custkey", 8
    )
    # at test scale Catalyst prefers broadcasting the small side; force
    # the merge path to exercise what a fact-fact join would plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = co_located_join(spark, "b_orders", "b_customer", "o_custkey", "c_custkey")
        plan = explain_str(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # sanity: result is the plain join's row count
        expected = (
            load_table(spark, sf_dir, "orders")
            .join(
                load_table(spark, sf_dir, "customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .count()
        )
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_tfidf_single_pass_and_limits_window(spark, sf_dir):
    """tx10 (r11 shape): doc frequency comes from a term-keyed window
    over the tf frame, so the plan must contain exactly ONE explode of
    the corpus (the old join-against-dfreq shape recomputed the whole
    explode+aggregate subtree on the broadcast side — and broadcast a
    vocabulary-sized frame, which a 100 TB vocabulary would OOM); the
    per-doc top-3 must still plan as WindowGroupLimit (top-k evaluated
    below the final window, not a full per-group sort of every term)."""
    import re

    df = QUERIES["tx10_tfidf_top_terms"](spark, sf_dir)
    plan = explain_str(df)
    n_explodes = len(re.findall(r"\(\d+\) Generate", plan))
    assert n_explodes == 1, "corpus must be exploded exactly once"
    assert "BroadcastExchange" not in plan, (
        "vocabulary-sized dfreq must not be broadcast"
    )
    assert "WindowGroupLimit" in plan


def test_spread_small_is_identity_when_already_spread(spark, sf_dir):
    """spread_small must add NO Exchange when the frame already has >=
    defaultParallelism partitions (the 100 TB case — r5/r6 advice: an
    unconditional repartition there is a whole-corpus shuffle), and
    must fan out a single-file toy read."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import (
        load_table,
        spread_small,
    )

    par = spark.sparkContext.defaultParallelism
    wide = load_table(spark, sf_dir, "documents").repartition(par + 3)
    assert spread_small(wide) is wide  # identity: not even a new plan node

    narrow = load_table(spark, sf_dir, "documents")
    if narrow.rdd.getNumPartitions() < par:
        spread = spread_small(narrow)
        assert spread.rdd.getNumPartitions() == par


def test_evidence_window_tool_is_valid():
    """tools/evidence_window.py must keep producing a valid 50-name
    window of registered queries (the registry list is generated output;
    this guards the generator itself from rotting). The generator is
    re-run PINNED to the committed _EVIDENCE_FILES list, so a driver
    artifact (CORRECTNESS_r{N}.json) dropped into the tree after the
    commit cannot redden a shipped tree — the window only moves when a
    human regenerates (VERDICT r6 task 0)."""
    import re
    import subprocess
    import sys

    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators import (
        _EVIDENCE_FILES,
        _NEEDS_EVIDENCE_FIRST,
    )

    out = subprocess.run(
        [
            sys.executable,
            "tools/evidence_window.py",
            "--files",
            ",".join(_EVIDENCE_FILES),
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-500:]
    names = re.findall(r'^    "([A-Za-z0-9_.]+)",', out.stdout, re.M)
    files = [n for n in names if n.startswith("CORRECTNESS_")]
    names = [n for n in names if not n.startswith("CORRECTNESS_")]
    assert files == list(_EVIDENCE_FILES)
    assert len(names) == 50 and len(set(names)) == 50
    assert all(n in QUERIES for n in names), set(names) - set(QUERIES)
    # the committed list is generated output — fail on drift between the
    # generator and what operators/__init__.py actually ships
    assert names == list(_NEEDS_EVIDENCE_FIRST), (
        "regenerate: python tools/evidence_window.py > paste into "
        "operators/__init__.py (_EVIDENCE_FILES + _NEEDS_EVIDENCE_FIRST)"
    )


def test_d25_top_percent_plans_take_ordered_not_global_window(spark, sf_dir):
    """d25's selection must be TakeOrderedAndProject (per-partition k-row
    heaps) — the single-partition global ROW_NUMBER over the full table
    is the one plan that cannot scale. The only Window left operates on
    the k already-selected rows."""
    df = QUERIES["d25_top_percent"](spark, sf_dir)
    assert has_take_ordered(df)
    plan = explain_str(df)
    # the Window (rank over k rows) must sit ABOVE the TakeOrdered
    # selection, i.e. the full-table scan feeds TakeOrdered, not Window
    assert plan.index("TakeOrderedAndProject") > plan.index("Window"), plan


def test_with_global_rank_exact_and_partitioned(spark):
    """functions/ranking.with_global_rank must equal the single-partition
    ROW_NUMBER exactly (ties broken by the total order) while its plan
    windows only WITHIN range partitions — the scale-safe global-rank
    primitive px9 builds on."""
    from pyspark.sql.window import Window

    from sfguide_getting_started_openflow_postgresql_cdc_spark.functions.ranking import (
        ntile_from_rank,
        with_global_rank,
    )

    rows = [(i, (i * 37) % 11) for i in range(1, 501)]  # ties in score
    df = spark.createDataFrame(rows, ["id", "score"]).repartition(13)
    order = [F.col("score").desc(), F.col("id")]
    got = {
        r["id"]: r["global_rank"]
        for r in with_global_rank(df, order, num_partitions=8).collect()
    }
    want = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy(*order)).alias("rn")
        ).collect()
    }
    assert got == want

    # ntile formula matches the builtin for awkward n/k combinations
    for n, k in ((500, 4), (7, 3), (3, 4), (10, 10)):
        sub = spark.createDataFrame(rows[:n], ["id", "score"])
        w = Window.orderBy(*order)
        builtin = {
            r["id"]: r["t"]
            for r in sub.select("id", F.ntile(k).over(w).alias("t")).collect()
        }
        mine = {
            r["id"]: r["t"]
            for r in with_global_rank(sub, order, num_partitions=4)
            .select("id", ntile_from_rank(F.col("global_rank"), n, k).alias("t"))
            .collect()
        }
        assert mine == builtin, (n, k)

    # empty input: empty output, schema preserved
    empty = with_global_rank(df.filter(F.lit(False)), order)
    assert empty.count() == 0 and "global_rank" in empty.columns


def test_e11_rank_distributions_no_single_partition_sort(spark, sf_dir):
    """e11 derives PERCENT_RANK/CUME_DIST/NTILE arithmetically from the
    distributed global rank: the plan must contain NO SinglePartition
    exchange and no no-key Window over the full table (the windows it
    does have operate within range partitions)."""
    df = QUERIES["e11_rank_distributions"](spark, sf_dir)
    plan = explain_str(df)
    assert "SinglePartition" not in plan, plan


def test_sim7_kmeans_assign_broadcasts_seeds_and_takes_ordered(spark, sf_dir):
    """sim7's seed selection must plan as TakeOrderedAndProject (never a
    global sort) and the corpus x centroids join as a broadcast — the
    corpus itself is never shuffled for the assignment."""
    df = QUERIES["sim7_kmeans_assign"](spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_dd4_standalone_plan_never_hits_pairs_memo(spark, sf_dir):
    """The dd4 pairs memo must serve ONLY the composers: Spark's
    CacheManager substitutes a persisted frame into any query whose
    analyzed plan contains it, so if the FULL dd4 output were persisted,
    dd4's own standalone run (and its bench timing) would silently
    become a cache lookup. The memo persists the 2-column projection,
    which dd4's 3-column plan does not contain."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark import cache
    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators import dedup

    cache.release()
    try:
        dedup._dd4_pairs_cache(spark, sf_dir).count()  # memo warm
        plan = explain_str(QUERIES["dd4_minhash_lsh_pairs"](spark, sf_dir))
        # dd4's plan legitimately scans the SHINGLE memo, so the check is
        # not "no InMemoryTableScan" — it is that the banding/verify JOINS
        # still execute (a substituted pairs frame would leave a bare
        # cache scan with no joins above it)
        assert "Join" in plan, plan
        # (the composer side is not plan-assertable: dd7's returned frame
        # begins at the CC loop's localCheckpoints, so the pairs-cache
        # scan happens in intermediate jobs — its effect is covered by
        # the dd7/px6 timing drop and the oracle equality tests)
    finally:
        cache.release()


def test_dedup_verify_is_sizes_join_free(spark, sf_dir):
    """The r8 verdict's scale-killer: dd4/dd3/dd10 broadcast a sizes
    frame with ONE ROW PER CORPUS DOC in their jaccard/containment
    verify (executor OOM at billion-doc scale). Now every capped
    shingle row carries its doc's set size (one window, computed once
    in the shared memo / dd3's own build), so |A| and |B| ride the
    verify joins and min() inside the pair aggregate reproduces them —
    the sizes join no longer EXISTS: everything above the pair-level
    Aggregate (the first one in the top-down plan string) must be
    join-free in all three plans, and dd3's whole plan has exactly its
    one shingle self-join."""
    for name in (
        "dd4_minhash_lsh_pairs",
        "dd3_ngram_jaccard_pairs",
        "dd10_containment_pairs",
    ):
        df = QUERIES[name](spark, sf_dir)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        head = opt.split("Aggregate", 1)[0]
        assert "Join" not in head, f"{name}: sizes join above verify agg"
    d3 = QUERIES["dd3_ngram_jaccard_pairs"](spark, sf_dir)
    opt3 = d3._jdf.queryExecution().optimizedPlan().toString()
    assert opt3.count("Join ") == 1, opt3[:2000]
