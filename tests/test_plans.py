"""Plan tests beyond the plan digest (SCALE.md contract).

tests/test_scan_budgets.py holds every registry query to its line in
tests/plan_digest.json (scans, exchanges by kind, joins by operator,
Python-eval nodes, window/aggregate/top-k operators), plus two
invariants for all of them: no CartesianProduct and no range exchange.
That equality is the only count-based plan check, at any core count.

The Spark tests here check what a count cannot hold: filters pushed to
the scan, pruned read schemas, join types, operator order, which table
a plan reads, collected results, plans of frames outside the registry,
and the number of shuffles or SinglePartition exchanges, which the
digest counts without the REPARTITION_BY_NUM exchanges. Every other
former per-query plan test states its reason as one-sided bounds on
its query's recorded digest line (`tests.util.assert_recorded`): it
builds no plan, and a line regenerated with
`python tools/gen_plan_digest.py <query>` that crosses the reason
fails that test by name.
"""

from __future__ import annotations

import re

from eventstreams_spark import registry
from eventstreams_spark.plans import (
    assert_read_schema_at_most,
    formatted_plan,
    plan_digest,
    pushed_filters,
)
from tests.util import assert_recorded, shuffle_exchanges

registry._ensure_loaded()


def q(name, spark, sf_dir):
    """Build a registry query from a clear cache: a subtree left
    persisted by an earlier test substitutes InMemoryRelation (or
    blocks substitution mid-analysis), changing the plan. Builders that
    persist within a query still do so fresh."""
    spark.catalog.clearCache()
    return registry.REGISTRY[name].builder(spark, sf_dir)


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def join_types(df) -> list[str]:
    """Operator and join type of every join in the plan, e.g.
    ``"BroadcastHashJoin LeftAnti"``."""
    return re.findall(r"(\w+Join \w+)", formatted_plan(df).split("\n\n")[0])


# -- pushed filters and pruned read schemas -------------------------------


def test_q5_pushdown_and_pruning(spark, sf_dir):
    df = q("join_multiway_tpch_q5", spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed  # date predicate reached the scan
    assert_read_schema_at_most(
        df,
        "l_orderkey",
        {"l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"},
    )


def test_pricing_summary_two_phase_agg(spark, sf_dir):
    assert_recorded("agg_pricing_summary", {"op.HashAggregate": ">=2"})
    assert "l_shipdate" in " ".join(pushed_filters(q("agg_pricing_summary", spark, sf_dir)))


def test_project_compute_prunes_scan(spark, sf_dir):
    df = q("project_compute", spark, sf_dir)
    assert_read_schema_at_most(
        df,
        "l_orderkey",
        {
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_quantity",
        },
    )
    assert "l_orderkey" in " ".join(pushed_filters(df))


def test_q6_pushdown_all_predicates(spark, sf_dir):
    """Q6 is the pushdown showcase: every predicate reaches the scan
    and ReadSchema is exactly the 4 referenced columns."""
    assert_recorded("tpch_q6_forecast_revenue", {"op.HashAggregate": ">=2"})
    df = q("tpch_q6_forecast_revenue", spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    assert_read_schema_at_most(
        df,
        "l_shipdate",
        {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"},
    )


def test_q10_take_ordered_top20(spark, sf_dir):
    assert_recorded("tpch_q10_returned_items", {"op.TakeOrderedAndProject": ">=1"})
    assert "l_returnflag" in " ".join(pushed_filters(q("tpch_q10_returned_items", spark, sf_dir)))


def test_percentile_bands_pushdown(spark, sf_dir):
    """Bands: the time filter must reach the scan."""
    assert_recorded("hourly_percentile_bands", {"join": 0, "window": 0})
    pushed = " ".join(pushed_filters(q("hourly_percentile_bands", spark, sf_dir)))
    assert "ts" in pushed, pushed


# -- join types -------------------------------------------------------------


def test_q16_not_in_is_broadcast_anti(spark, sf_dir):
    """Q16 shape: NOT IN over the non-null complaint-supplier set must
    plan as a broadcast LEFT ANTI hash join; distinct-pair extraction
    and distinct supplier counts stay hash aggregates."""
    assert_recorded(
        "tpch_q16_supplier_part_counts", {"join.BroadcastHashJoin": ">=1", "join.BroadcastNestedLoopJoin": 0}
    )
    joins = join_types(q("tpch_q16_supplier_part_counts", spark, sf_dir))
    assert "BroadcastHashJoin LeftAnti" in joins, joins


def test_q20_nested_semi_no_reexecution(spark, sf_dir):
    """Q20 shape: nested correlated aggregates decorrelate to two
    grouped aggregates joined on partkey; the supplier membership test
    is a broadcast LEFT SEMI. The 1997 predicate pushes to the scan."""
    assert_recorded(
        "tpch_q20_excess_shippers", {"join.BroadcastNestedLoopJoin": 0, "op.HashAggregate": ">=4"}
    )
    df = q("tpch_q20_excess_shippers", spark, sf_dir)
    assert "BroadcastHashJoin LeftSemi" in join_types(df), join_types(df)
    assert "l_shipdate" in " ".join(pushed_filters(df))


def test_gdpr_purge_broadcast_anti_semi(spark, sf_dir):
    """Purge audit: deletion list broadcasts into anti/semi joins;
    only the two 1-row count scalars cross-join."""
    joins = join_types(q("gdpr_purge_audit", spark, sf_dir))
    assert {"BroadcastHashJoin LeftAnti", "BroadcastHashJoin LeftSemi"} <= set(joins), joins


def test_incremental_dedup_bipartite_only(spark, sf_dir):
    """Incremental (crawl-update) dedup: candidate pairs come from
    band-bucket equi joins between NEW and REF only — no cartesian;
    the bounded nested-loops are the documented tiny scalar frames
    (seeds x2 sides + 3 scalar-census combines)."""
    assert_recorded("incremental_dedup_vs_reference", {"join.BroadcastNestedLoopJoin": "<=5"})
    # the anti/semi joins that subtract ref-dups must all broadcast
    joins = join_types(q("incremental_dedup_vs_reference", spark, sf_dir))
    assert "BroadcastHashJoin LeftAnti" in joins, joins


def test_kmeans_rounds_broadcast_both_estep(spark, sf_dir):
    """Both Lloyd E-steps must broadcast their k-row centroid side —
    the corpus never shuffles for assignment; both argmax windows are
    partitioned by vec_id. Every nested-loop join is a broadcast
    cross join of the centroids."""
    assert_recorded("kmeans_lloyd_rounds", {"op.Window": ">=2"})
    joins = join_types(q("kmeans_lloyd_rounds", spark, sf_dir))
    nested = [j for j in joins if j.startswith("BroadcastNestedLoopJoin")]
    assert nested and set(nested) == {"BroadcastNestedLoopJoin Cross"}, joins


def test_snapshot_diff_joins_snapshots_not_events(spark, sf_dir):
    """Snapshot diff: the full-outer join runs on the two keep-latest
    SNAPSHOT frames (post-aggregation)."""
    assert_recorded("snapshot_diff_audit", {"join.BroadcastNestedLoopJoin": 0})
    joins = join_types(q("snapshot_diff_audit", spark, sf_dir))
    assert {"SortMergeJoin FullOuter", "ShuffledHashJoin FullOuter"} & set(joins), joins


# -- operator order and plan text ------------------------------------------


def test_mann_whitney_window_on_buckets_only(spark, sf_dir):
    """Mann-Whitney: the prefix-sum window may be global BUT runs on
    the distinct-bucket frame (post-aggregation), never raw events —
    assert the window sits above a HashAggregate in the plan."""
    df = q("mann_whitney_u", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # the aggregate reducing events to buckets must be below the window
    assert plan.index("Window") < plan.rindex("HashAggregate"), plan[:2000]


def test_pareto_no_single_partition_rank(spark, sf_dir):
    """Pareto: rank from the bucketed construction; the only
    unpartitioned window runs on the 10-row decile frame (cum share).
    Legitimate SinglePartitions: the decile cum-share window, the 1-row
    grand total, and exact_global_rank's bounded bucket-count metadata."""
    plan = executed_plan(q("pareto_revenue_deciles", spark, sf_dir))
    assert "row_number" in plan
    assert plan.count("SinglePartition") <= 3, plan[:2000]


def test_fagin_no_single_partition_rank(spark, sf_dir):
    """TA census: the |users|-sized ra/rb ranks must ride
    exact_global_rank (bucket-partitioned windows); the ONLY
    SinglePartition allowed is the rf window over the bounded
    top-10 probe frame, which must sit under a top-10 limit."""
    plan = executed_plan(q("fagin_ta_depth_census", spark, sf_dir))
    assert plan.count("SinglePartition") <= 1, plan[:2000]
    assert "TakeOrderedAndProject(limit=10" in plan or "GlobalLimit 10" in plan, plan[:2000]


def test_suffix_array_no_cartesian_bucketed_ranks(spark, sf_dir):
    """Suffix array: the construction runs ONCE per input and lands
    in the materialized SA cache (SCALE.md \u00a724); the visible plan
    reads the cache parquet — equi joins only, the lone cross join is
    the broadcast 1-row stats frame."""
    assert_recorded("suffix_array_doubling_gate", {"join.BroadcastNestedLoopJoin": "<=1"})
    plan = executed_plan(q("suffix_array_doubling_gate", spark, sf_dir))
    assert "_sa_cache" in plan, plan[:2000]


def test_repeat_family_and_bwt_ride_checkpointed_sa(spark, sf_dir):
    """Both suffix-array derivatives must consume the MATERIALIZED SA
    cache (head20/bwt columns ride it — no documents re-join: zero
    documents scans in either plan)."""
    for name in ("repeat_family_census", "bwt_run_length_census"):
        plan = executed_plan(q(name, spark, sf_dir))
        assert "_sa_cache" in plan, (name, plan[:2000])
        assert "documents.parquet" not in plan, (name, plan[:2000])


def test_fm_index_bounded_probe_plan(spark, sf_dir):
    """FM-index backward search: the returned plan consumes the
    checkpointed SA/Occ blocks with the interval frame broadcast — no
    cartesian, no Python eval."""
    assert_recorded("fm_index_backward_search", {"python": 0})
    plan = executed_plan(q("fm_index_backward_search", spark, sf_dir))
    assert "_sa_cache" in plan, plan[:2000]


def test_cross_lcs_rides_checkpointed_sa(spark, sf_dir):
    """Cross-group LCS: consumes the checkpointed SA frame, adjacent
    pairs via the sa_idx+1 equi self-join (no window over the SA),
    lang dims broadcast, top-10 via TakeOrderedAndProject."""
    assert_recorded("cross_group_lcs_via_gsa", {"op.TakeOrderedAndProject": ">=1", "python": 0})
    plan = executed_plan(q("cross_group_lcs_via_gsa", spark, sf_dir))
    assert "_sa_cache" in plan, plan[:2000]


# -- collected results and frames outside the registry ---------------------


def test_markov_attribution_count_pipeline_shape(spark, sf_dir):
    """Markov removal effect: the distributed piece is journeys →
    pairs → counts. Pin the pair construction: windows over user
    partitions, no cartesian, unions of the four pair sources."""
    # builder returns literals AFTER collecting the bounded count
    # table; assert on the final frame shape instead of the plan
    df = q("markov_removal_attribution", spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 4
    shares = [r.attribution_share for r in rows]
    assert abs(sum(shares) - 1.0) <= 1e-4
    assert all(r.removal_effect >= 0 for r in rows)


def test_join_strategy_hints_respected(spark, sf_dir):
    """§4 optimizer control surface: users migrating hand-tuned
    queries need join-strategy hints to stick. merge → SortMergeJoin,
    shuffle_hash → ShuffledHashJoin, broadcast → BroadcastHashJoin,
    regardless of size estimates."""
    from eventstreams_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    for hint, op in (
        ("merge", "SortMergeJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
        ("broadcast", "BroadcastHashJoin"),
    ):
        digest = plan_digest(li.join(o.hint(hint), li.l_orderkey == o.o_orderkey))
        joins = {col: n for col, n in digest.items() if col.startswith("join.")}
        assert joins == {f"join.{op}": 1}, (hint, digest)


def test_cached_plans_get_aqe_replanning(spark):
    """Tripwire for the r10 sim-wall fix: persist()ed subplans are
    compiled WITHOUT adaptive execution unless
    canChangeCachedPlanOutputPartitioning is on — on a vanilla
    driver session that means every exchange under a cached frame
    runs at the raw 200 shuffle partitions (association_rules was
    2x slower for it). The conf must ride _RUNTIME_CONFS so
    catalog.load_table applies it to ANY session, including the
    driver's."""
    from eventstreams_spark.session import _RUNTIME_CONFS, apply_runtime_confs

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert _RUNTIME_CONFS.get(key) == "true"
    apply_runtime_confs(spark)
    assert spark.conf.get(key) == "true"


def test_fm_occ_lookup_is_filtered_grid_scan(spark):
    """VERDICT r8 #3, consolidated r10: the FM-index Occ probe is a
    rank-checkpoint LOOKUP — one filtered scan of the checkpointed
    dense grid (literal (char, block) predicate, <= |probes| rows
    collected, in-block <= count by binary search over the bounded
    sorted position array). Never a nested-loop / theta sweep, and
    never a re-scan of the O(n) per-position frame. Built on
    synthetic frames so the shape is pinned independently of the
    corpus."""
    from pyspark.sql import functions as F

    from eventstreams_spark.queries.llm import (
        _OCC_BLOCK,
        _fm_occ_lookup,
        _fm_occ_structures,
    )

    bwt = spark.range(1, 20001).select(
        (F.col("id")).alias("pos"),
        F.concat(F.lit("c"), (F.col("id") % 7).cast("string")).alias("bwt"),
    )
    grid = _fm_occ_structures(spark, bwt, 4)
    # a probe-shaped filter over the grid must plan as a plain scan of
    # the materialized checkpoint — no join, no exchange, no re-derive
    # of the per-position rank frame
    probe = grid.filter((F.col("bwt") == "c1") & (F.col("block") == 2))
    assert plan_digest(probe) == {"scan.rdd": 1}, executed_plan(probe)[:2000]
    # and the lookup must be CORRECT: Occ(c1, p) = count of c1 at pos <= p
    got = _fm_occ_lookup(
        grid, [("p", "c1", 9999, "s"), ("p", "c1", 15000, "e")]
    )
    want_s = bwt.filter("bwt = 'c1' AND pos <= 9999").count()
    want_e = bwt.filter("bwt = 'c1' AND pos <= 15000").count()
    assert got == {("p", "s"): want_s, ("p", "e"): want_e}, got
    # in-block arrays are bounded by the block size B
    max_arr = grid.agg(F.max(F.size("parr"))).head()[0]
    assert max_arr <= _OCC_BLOCK, max_arr


def test_fm_occ_grid_covers_full_sequence(spark):
    """ADVICE r9 #1 regression: when the Occ input frame is filtered
    to the pattern alphabet and the sequence ends in a run of >= one
    whole block free of a pattern char, a probe landing in that
    trailing run must still see the char's TOTAL count — the dense
    grid is sized from n_total (the unfiltered sequence length), not
    from the filtered frame's max block. Before the fix the probe
    found neither a residual nor a (block-1) checkpoint and the
    caller silently treated the NULL as Occ = 0 (empty interval)."""
    from pyspark.sql import functions as F

    from eventstreams_spark.queries.llm import (
        _OCC_BLOCK,
        _fm_occ_lookup,
        _fm_occ_structures,
    )

    n_total = 3 * _OCC_BLOCK  # blocks 0, 1, 2
    # char 'a' occurs only in block 0 (positions 1..10); the rest of
    # the sequence is 'z' — after filtering to the pattern alphabet
    # {'a'} the frame's max block is 0, but probes reach block 2
    bwt_full = spark.range(1, n_total + 1).select(
        F.col("id").alias("pos"),
        F.when(F.col("id") <= 10, F.lit("a")).otherwise(F.lit("z")).alias(
            "bwt"
        ),
    )
    filtered = bwt_full.filter(F.col("bwt") == "a")
    grid = _fm_occ_structures(spark, filtered, 4, n_total=n_total)
    got = _fm_occ_lookup(
        grid,
        [
            ("p", "a", n_total - 5, "e"),  # trailing a-free run
            ("p", "a", 7, "s"),  # in-block residual still works
        ],
    )
    assert got == {("p", "e"): 10, ("p", "s"): 7}, got
    # and the dense grid spans every probe-reachable block
    assert grid.agg(F.max("block")).head()[0] == 2


def test_sa_cache_materializes_once_and_roundtrips(spark, sf_dir):
    """The shared SA frame must build once per input fingerprint and
    serve every later call from the parquet materialization: after a
    first call lands the cache, a second call must not re-run the
    construction (asserted by poisoning the builder), and the frame
    read back must equal the built frame exactly."""
    import eventstreams_spark.queries.llm as llm

    path = llm._sa_cache_path(sf_dir)
    first = llm._suffix_array_lcp_frame(spark, sf_dir)
    import os

    assert os.path.exists(os.path.join(path, "_SUCCESS")), path
    n1 = first.count()
    real_build = llm._build_suffix_array_lcp

    def poisoned(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("cache miss: construction re-ran")

    llm._build_suffix_array_lcp = poisoned
    try:
        second = llm._suffix_array_lcp_frame(spark, sf_dir)
        assert second.count() == n1
        assert sorted(second.columns) == sorted(
            ["sa_idx", "doc_id", "off", "head12", "head20",
             "lcp_next", "ok", "bwt"]
        )
    finally:
        llm._build_suffix_array_lcp = real_build


def test_neardup_dedup_step_plan_no_python_no_doc_cross(spark):
    """The neardup_dedup pipeline step must stay JVM-side end to end
    (shingles/MinHash/verify are Column algebra, CC is the log-round
    propagation) with no doc×doc join: the only nested-loop is the
    16-row broadcast seed fan-out."""
    from pyspark.sql import functions as F

    from eventstreams_spark.operators.dedup import drop_near_duplicates

    df = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{chr(97 + i)}"), (F.col("id") % 5).cast("string"))
                for i in range(10)
            ],
        ).alias("text"),
    )
    out = drop_near_duplicates(df, "text", "doc_id")
    digest = plan_digest(out)
    assert not [col for col in digest if col.startswith("python.") or col == "join.CartesianProduct"], digest


# -- former per-query plan tests, as bounds on recorded digest lines -------
#
# Each test names the reason its query was written for as bounds on the
# query's line in tests/plan_digest.json (`tests.util.assert_recorded`),
# so a line regenerated across that reason fails by name. The digest
# test already holds every query to its exact line and allows no query
# a CartesianProduct. Checks on the number of shuffles or on
# SinglePartition read the plan, because the digest leaves out the
# REPARTITION_BY_NUM exchanges of `spread_to_cores` and `repartition(n)`.


def test_q5_is_pure_broadcast_chain(spark, sf_dir):
    """At the test scale factor Catalyst broadcasts every dim on its
    size estimate, so the recorded line cannot see a dropped
    ``F.broadcast`` hint. With size-based broadcasting off, only the
    hinted supplier, nation and region joins still broadcast."""
    assert_recorded(
        "join_multiway_tpch_q5",
        {
            "join.BroadcastHashJoin": ">=5",
            "join.ShuffledHashJoin": 0,
            "join.SortMergeJoin": 0,
            "op.HashAggregate": ">=2",
        },
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        hinted = plan_digest(q("join_multiway_tpch_q5", spark, sf_dir))
    finally:
        spark.conf.set(key, before)
    assert hinted.get("join.BroadcastHashJoin", 0) == 3, hinted


def test_topk_uses_heap_not_global_sort():
    assert_recorded(
        "topk_orders_by_revenue",
        {"join.ShuffledHashJoin": 0, "join.SortMergeJoin": 0, "op.TakeOrderedAndProject": ">=1"},
    )


def test_enrichment_join_broadcasts_dim():
    assert_recorded("join_broadcast_enrich", {"join.ShuffledHashJoin": 0, "join.SortMergeJoin": 0})


def test_minhash_has_no_cross_join():
    assert_recorded("neardup_minhash_candidates", {"join.BroadcastNestedLoopJoin": "<=2"})


def test_sessionize_single_shuffle_by_user(spark, sf_dir):
    """Lag-gap and running sum reuse ONE hash partitioning by user_id:
    adjacent windows over the same spec must not re-shuffle."""
    assert shuffle_exchanges(q("sessionize_gap30m_batch", spark, sf_dir)) <= 2


def test_chunking_columnar_no_python():
    assert_recorded("chunk_text_columnar_parity", {"python": 0})


def test_llm_corpus_prep_single_shuffle(spark, sf_dir):
    """The composed corpus-prep chain keeps exactly one Exchange (the
    dedup hash shuffle): chunk explode and filters add none."""
    assert_recorded("llm_corpus_prep_pipeline", {"python": 0})
    assert shuffle_exchanges(q("llm_corpus_prep_pipeline", spark, sf_dir)) == 1


def test_cube_single_shuffle_over_expand(spark, sf_dir):
    """CUBE = Expand + ONE partial/final hash aggregate; dims join by
    broadcast, so the only exchange is the final aggregate's."""
    assert_recorded(
        "agg_cube_grouping_sets",
        {"join.ShuffledHashJoin": 0, "join.SortMergeJoin": 0, "op.Expand": ">=1", "op.HashAggregate": ">=2"},
    )
    assert shuffle_exchanges(q("agg_cube_grouping_sets", spark, sf_dir)) == 1


def test_intersect_all_no_join():
    assert_recorded(
        "setop_intersect_except_all",
        {"join.BroadcastNestedLoopJoin": 0, "join.SortMergeJoin": 0},
    )


def test_gopher_single_scan_two_exchanges(spark, sf_dir):
    """ONE documents scan and exactly two Exchanges (gram counts,
    per-doc rollup): the naive two-branch form costs double on both."""
    assert_recorded("gopher_repetition_quality", {"join.SortMergeJoin": 0, "scan.parquet": "<=1"})
    assert shuffle_exchanges(q("gopher_repetition_quality", spark, sf_dir)) == 2


def test_contamination_single_scan_no_join():
    assert_recorded("contamination_ngram_overlap", {"join": 0, "scan.parquet": "<=1"})


def test_corpus_mix_broadcasts_rate_dim():
    assert_recorded("corpus_mix_resample", {"join.ShuffledHashJoin": 0, "join.SortMergeJoin": 0})


def test_decile_equidepth_no_global_sort_window(spark, sf_dir):
    """The exact rank comes from bucket-partitioned row_number plus
    offsets, so no Exchange may be SinglePartition."""
    assert_recorded("agg_decile_equidepth", {"op.Window": "<=1"})
    assert "SinglePartition" not in formatted_plan(q("agg_decile_equidepth", spark, sf_dir))


def test_neardup_end_to_end_no_cartesian():
    assert_recorded("neardup_dedup_end_to_end", {"join.BroadcastNestedLoopJoin": "<=1"})


def test_neardup_cluster_cc_no_cartesian():
    assert_recorded("neardup_cluster_cc", {"join.BroadcastNestedLoopJoin": 0})


def test_ann_ivf_no_cartesian():
    assert_recorded("ann_ivf_recall_probe", {"join.BroadcastNestedLoopJoin": "<=8"})


def test_ann_lsh_bucket_join_no_cartesian():
    assert_recorded("ann_lsh_recall_probe", {"join.BroadcastNestedLoopJoin": "<=8"})


def test_embedding_lsh_neardup_no_cartesian():
    assert_recorded("neardup_embedding_lsh", {"join.BroadcastNestedLoopJoin": 0})


def test_q8_dims_broadcast_one_fact_shuffle():
    assert_recorded("tpch_q8_market_share", {"join.BroadcastHashJoin": ">=6"})


def test_q15_argmax_no_single_partition_window():
    assert_recorded("tpch_q15_top_supplier", {"op.Window": 0})


def test_q18_qualifying_set_broadcasts():
    assert_recorded(
        "tpch_q18_large_orders",
        {"join.BroadcastHashJoin": ">=1", "op.TakeOrderedAndProject": ">=1"},
    )


def test_triangle_count_no_cartesian():
    assert_recorded("triangle_count_graph", {"join.BroadcastNestedLoopJoin": "<=2"})


def test_char_entropy_no_python_no_join():
    assert_recorded("char_entropy_quality", {"join": 0, "python": 0})


def test_semantic_cluster_assign_broadcast_centroids():
    assert_recorded("semantic_cluster_assign", {"join.SortMergeJoin": 0, "op.Window": "<=1"})


def test_multiline_single_shuffle_no_joins(spark, sf_dir):
    """The doc_id shuffle feeds both the running-sum window and the
    reassembly aggregate: no join, no second exchange."""
    assert_recorded("multiline_reassemble_logs", {"join": 0, "op.Window": "<=1"})
    assert shuffle_exchanges(q("multiline_reassemble_logs", spark, sf_dir)) == 1


def test_semantic_dedup_end_to_end_bucketed_pairs():
    assert_recorded("semantic_dedup_end_to_end", {"join.BroadcastNestedLoopJoin": "<=6"})


def test_kcore_semi_join_shape():
    assert_recorded("kcore_peel_rounds", {"join.BroadcastNestedLoopJoin": "<=4"})


def test_two_level_sessionize_shape(spark, sf_dir):
    """Skew-safe sessionize: event-level windows partitioned by (user,
    day), stitch windows over the summary frame, never an
    unpartitioned window."""
    assert_recorded("sessionize_two_level_skew_safe", {"join": 0, "op.Window": "<=4"})
    assert "SinglePartition" not in formatted_plan(q("sessionize_two_level_skew_safe", spark, sf_dir))


def test_fuzzy_blocked_no_cartesian():
    assert_recorded("fuzzy_blocked_typo_pairs", {"join.BroadcastNestedLoopJoin": 0})


def test_scd2_single_shuffle_no_join(spark, sf_dir):
    """SCD2 intervals: one lead() window by key, no self-join, one
    exchange."""
    assert_recorded("scd2_intervals_from_changelog", {"join": 0, "op.Window": "<=1"})
    assert shuffle_exchanges(q("scd2_intervals_from_changelog", spark, sf_dir)) == 1


def test_winsorize_broadcasts_cuts():
    assert_recorded("winsorize_by_group", {"join.ShuffledHashJoin": 0, "join.SortMergeJoin": 0})


def test_stratified_sample_group_limit_pushdown():
    assert_recorded("weighted_sample_stratified", {"join": 0, "op.WindowGroupLimit": ">=2"})


def test_line_dedup_no_joins():
    assert_recorded("line_dedup_reassemble", {"join": 0, "op.Window": "<=1", "op.WindowGroupLimit": ">=2"})


def test_lpa_no_cartesian_windows_per_node(spark, sf_dir):
    """LPA rounds are join + count + per-node argmax: no nested loop,
    no unpartitioned window."""
    assert_recorded("label_propagation_communities", {"join.BroadcastNestedLoopJoin": 0, "op.Window": ">=2"})
    assert "SinglePartition" not in formatted_plan(q("label_propagation_communities", spark, sf_dir))


def test_counter_rate_exchange_reuse(spark, sf_dir):
    """PromQL rate: the series-key shuffle feeds both the lag window
    and the per-series aggregate: one exchange, no join."""
    assert_recorded("counter_rate_resets", {"join": 0, "op.Window": "<=1"})
    assert shuffle_exchanges(q("counter_rate_resets", spark, sf_dir)) == 1


def test_mad_outliers_keyed_only():
    assert_recorded("anomaly_mad_outliers", {"join.BroadcastNestedLoopJoin": 0, "window": 0})


def test_aggregate_correlate_single_key_shuffles():
    assert_recorded("aggregate_task_correlate", {"join.BroadcastNestedLoopJoin": 0, "window": 0})


def test_template_signature_single_agg_no_explode():
    assert_recorded("log_template_signature", {"join": 0, "op.Generate": 0, "op.HashAggregate": ">=2"})


def test_bm25_broadcast_scalars_no_cartesian_blowup():
    assert_recorded(
        "bm25_topk_docs",
        {"join.BroadcastNestedLoopJoin": "<=1", "op.TakeOrderedAndProject": ">=1"},
    )


def test_unigram_surprisal_token_join_keyed():
    assert_recorded(
        "unigram_surprisal_quality",
        {"join.BroadcastNestedLoopJoin": "<=1", "op.TakeOrderedAndProject": ">=1"},
    )


def test_profile_single_scan_expand():
    assert_recorded(
        "profile_columns_events",
        {"join": 0, "op.Expand": ">=1", "scan.parquet": "<=1", "window": 0},
    )


def test_streak_islands_one_exchange(spark, sf_dir):
    """Gaps-and-islands: both row_numbers and the groupBy ride ONE
    user_id exchange; no joins."""
    assert_recorded("streak_islands_by_user", {"join": 0})
    assert shuffle_exchanges(q("streak_islands_by_user", spark, sf_dir)) == 1


def test_impossible_travel_pure_window():
    assert_recorded("impossible_travel_speed", {"join": 0, "op.Window": "<=1", "python": 0})


def test_containment_no_doc_cross_product():
    assert_recorded("containment_quote_pairs", {"join.BroadcastNestedLoopJoin": 0})


def test_xml_roundtrip_no_shuffle_added_by_parse():
    assert_recorded("xml_extract_roundtrip", {"join": 0, "op.HashAggregate": ">=2", "window": 0})


def test_regression_family_single_agg():
    assert_recorded("agg_regression_family", {"join": 0, "op.HashAggregate": ">=2", "window": 0})


def test_bitmap_gate_no_expand_on_bitmap_path():
    assert_recorded("bitmap_distinct_gate", {"join.BroadcastNestedLoopJoin": 0, "op.Expand": "<=1"})


def test_interval_coverage_one_exchange(spark, sf_dir):
    """Interval merge: running-max window, island sum and both
    aggregates ride ONE user_id exchange, plus the final orderBy's."""
    assert_recorded("interval_coverage_merge", {"join": 0})
    assert shuffle_exchanges(q("interval_coverage_merge", spark, sf_dir)) <= 2


def test_acf_single_window_single_agg():
    assert_recorded("acf_lag_profile", {"join": 0, "op.Window": "<=1"})


def test_markov_window_on_tiny_matrix():
    assert_recorded("markov_transition_matrix", {"join": 0, "op.Window": "<=2"})


def test_journey_paths_group_limit_pushdown():
    assert_recorded("journey_top_paths", {"op.TakeOrderedAndProject": ">=1", "op.WindowGroupLimit": ">=1"})


def test_rfm_no_single_partition_sort(spark, sf_dir):
    """RFM: the monetary quintile comes from the bucketed exact rank,
    so no exchange or window of the plan is SinglePartition."""
    plan = executed_plan(q("rfm_segment_census", spark, sf_dir))
    assert "SinglePartition" not in plan, plan[:2000]


def test_pseudonymize_single_scan():
    assert_recorded("pseudonymize_stable_ids", {"join": 0, "scan.parquet": "<=1", "window": 0})


def test_mmr_bounded_pool_only():
    assert_recorded("mmr_diverse_topk", {"scan.rdd": ">=1"})


def test_welch_t_single_aggregate_over_scan():
    assert_recorded("welch_t_test", {"scan.parquet": "<=2", "window": 0})


def test_chi_square_windows_on_census():
    assert_recorded("chi_square_independence", {"op.Window": "<=2", "scan.parquet": "<=2"})


def test_promql_histq_no_sort_no_window():
    assert_recorded("promql_histogram_quantile", {"join": 0, "op.HashAggregate": ">=2", "window": 0})


def test_hits_keyed_joins_only():
    assert_recorded("hits_two_rounds", {"join.BroadcastNestedLoopJoin": 0, "op.TakeOrderedAndProject": ">=1"})


def test_key_skew_profile_broadcast_totals():
    assert_recorded("key_skew_profile", {"join.BroadcastNestedLoopJoin": "<=2"})


def test_ablation_single_scan():
    assert_recorded("quality_filter_ablation", {"join": 0, "scan.parquet": "<=1", "window": 0})


def test_aes_roundtrip_stays_in_codegen():
    assert_recorded("aes_roundtrip_identity", {"join": 0, "python": 0})


def test_dau_contribution_explode_no_selfjoin():
    assert_recorded(
        "dau_wau_mau_actives",
        {"join.BroadcastNestedLoopJoin": 0, "op.Generate": ">=1", "op.Window": 0},
    )


def test_new_vs_returning_keyed_join():
    assert_recorded("new_vs_returning_daily", {"join.BroadcastNestedLoopJoin": 0, "op.Window": 0})


def test_ndr_copartitioned_selfjoin():
    assert_recorded("net_revenue_retention_monthly", {"join.BroadcastNestedLoopJoin": 0, "op.Window": 0})


def test_embedding_drift_keyed_joins():
    assert_recorded("embedding_drift_by_label", {"join.BroadcastNestedLoopJoin": 0})


def test_token_kl_single_token_shuffle():
    assert_recorded("token_kl_divergence_sources", {"join.BroadcastNestedLoopJoin": "<=1", "op.Window": 0})


def test_session_stats_reuses_w8_shape():
    assert_recorded("session_stats_summary", {"join": 0, "op.Window": ">=1"})


def test_attribution_range_join_keyed():
    assert_recorded("attribution_first_last_compare", {"join.BroadcastNestedLoopJoin": 0})


def test_seasonal_outliers_census_then_broadcast():
    assert_recorded("seasonal_residual_outliers", {"scan.parquet": "<=2"})


def test_basket_pairs_within_order_only():
    assert_recorded(
        "basket_copurchase_lift",
        {"join.BroadcastNestedLoopJoin": "<=1", "op.TakeOrderedAndProject": ">=1"},
    )


def test_rapid_fire_single_exchange():
    assert_recorded("rapid_fire_duplicates", {"join": 0, "op.TakeOrderedAndProject": ">=1"})


def test_rank_movers_partitioned_ranks(spark, sf_dir):
    """Movers: row_number partitions by week, never a SinglePartition
    exchange under a window; movers join keyed on user_id."""
    assert_recorded("rank_movers_week_over_week", {"join.BroadcastNestedLoopJoin": 0})
    plan = executed_plan(q("rank_movers_week_over_week", spark, sf_dir))
    assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}Window", plan), plan[:2000]


def test_modularity_keyed_joins_only():
    assert_recorded("community_modularity_score", {"join.BroadcastNestedLoopJoin": "<=1"})


def test_path_trigrams_one_window():
    assert_recorded("path_trigrams_census", {"join": 0, "op.Window": "<=1"})


def test_relative_risk_two_aggregates():
    assert_recorded("exposure_outcome_relative_risk", {"join": 0, "window": 0})


def test_cramers_v_census_only():
    assert_recorded("cramers_v_lang_source", {"scan.parquet": "<=3"})


def test_aging_buckets_single_pass():
    assert_recorded("orders_aging_buckets", {"join": 0, "op.HashAggregate": ">=2", "window": 0})


def test_dedup_savings_digest_keyed():
    assert_recorded("dedup_storage_savings", {"join": 0, "window": 0})


def test_funnel_by_segment_broadcast_dim():
    assert_recorded("funnel_by_segment", {"join.BroadcastHashJoin": ">=1", "join.BroadcastNestedLoopJoin": 0})


def test_bmp_parse_python_only_in_map():
    assert_recorded("multimodal_bmp_header_parse", {"python": "<=1"})


def test_hits_normalized_no_cartesian():
    assert_recorded("hits_normalized_scores", {"join.BroadcastNestedLoopJoin": "<=2"})


def test_q2_decorrelated_min_join():
    assert_recorded(
        "tpch_q2_min_cost_supplier",
        {
            "join.BroadcastHashJoin": ">=2",
            "join.BroadcastNestedLoopJoin": 0,
            "op.HashAggregate": ">=4",
            "op.TakeOrderedAndProject": ">=1",
        },
    )


def test_q9_single_big_shuffle():
    assert_recorded(
        "tpch_q9_profit_decomposition",
        {
            "join.BroadcastHashJoin": ">=3",
            "join.BroadcastNestedLoopJoin": 0,
            "join.ShuffledHashJoin": 0,
            "join.SortMergeJoin": "<=1",
        },
    )


def test_q11_scalar_share_broadcast():
    assert_recorded(
        "tpch_q11_important_stock_share",
        {"join.BroadcastNestedLoopJoin": "<=1", "op.HashAggregate": ">=4"},
    )


def test_bm25_postings_shapes():
    assert_recorded(
        "bm25_topk_docs",
        {"join.BroadcastNestedLoopJoin": "<=1", "op.TakeOrderedAndProject": ">=1", "python": 0},
    )


def test_kmeans_estep_broadcast_centroids():
    assert_recorded("kmeans_lloyd_rounds", {"join.BroadcastNestedLoopJoin": "<=7"})


def test_containment_pairs_equi_join_only():
    assert_recorded("containment_quote_pairs", {"join.BroadcastNestedLoopJoin": 0})


def test_interval_coverage_single_user_shuffle(spark, sf_dir):
    """Interval merge: both windows and both aggregates reuse ONE
    user_id hash partitioning (+1 for the presentation sort)."""
    assert_recorded("interval_coverage_merge", {"join": 0, "op.Window": "<=2"})
    assert shuffle_exchanges(q("interval_coverage_merge", spark, sf_dir)) <= 2


def test_betweenness_level_joins_no_cartesian():
    assert_recorded("betweenness_sampled_brandes", {"join.BroadcastNestedLoopJoin": 0})


def test_session_path_one_user_shuffle():
    assert_recorded("session_path_clusters", {"join.BroadcastNestedLoopJoin": 0, "op.Window": ">=3"})


def test_ks_window_over_distinct_values_only():
    assert_recorded("ks_two_sample_test", {"op.HashAggregate": ">=2", "op.Window": "<=1"})


def test_countmin_cells_broadcast_probe():
    assert_recorded("countmin_error_gate", {"join.BroadcastNestedLoopJoin": "<=1"})


def test_histogram_gate_bucket_window_bounded():
    assert_recorded("histogram_quantile_gate", {"join.BroadcastHashJoin": ">=1"})


def test_closeness_shares_bfs_shape():
    assert_recorded("closeness_harmonic_sampled", {"join.BroadcastNestedLoopJoin": 0})


def test_pk_census_single_expand_pass():
    assert_recorded("pk_candidate_census", {"join": 0, "op.Expand": ">=1", "scan.parquet": "<=4"})


def test_spatial_grid_join_equi_only():
    assert_recorded("spatial_grid_join_pairs", {"join": "<=1", "join.BroadcastNestedLoopJoin": 0})


def test_ppr_pregel_layout():
    assert_recorded(
        "personalized_pagerank_seeds",
        {"join.BroadcastNestedLoopJoin": 0, "op.TakeOrderedAndProject": ">=1"},
    )


def test_bellman_ford_one_join_one_agg_per_round():
    assert_recorded(
        "bellman_ford_rounds",
        {"join.BroadcastNestedLoopJoin": "<=1", "op.TakeOrderedAndProject": ">=1"},
    )


def test_weighted_pagerank_pregel_layout():
    assert_recorded(
        "pagerank_weighted_edges",
        {"join.BroadcastNestedLoopJoin": 0, "op.TakeOrderedAndProject": ">=1"},
    )


def test_louvain_adjacency_joins_only():
    assert_recorded("louvain_first_sweep", {"join.BroadcastNestedLoopJoin": "<=1", "scan.rdd": ">=1"})


def test_geohash_single_count_shuffle():
    assert_recorded("geohash_cell_census", {"python": 0, "scan.parquet": "<=1"})


def test_tdigest_two_level_pandas_then_broadcast_probe():
    assert_recorded(
        "tdigest_quantile_gate",
        {
            "join.BroadcastHashJoin": ">=1",
            "join.BroadcastNestedLoopJoin": 0,
            "python.FlatMapGroupsInPandas": "<=2",
        },
    )


def test_winnowing_bucket_join_only():
    assert_recorded(
        "winnowing_fingerprint_pairs",
        {"join.BroadcastNestedLoopJoin": 0, "op.TakeOrderedAndProject": ">=1", "python": 0},
    )


def test_bloom_probe_is_all_broadcast():
    assert_recorded(
        "bloom_prefilter_semi_join",
        {
            "join.BroadcastHashJoin": ">=4",
            "join.BroadcastNestedLoopJoin": 0,
            "join.ShuffledHashJoin": 0,
            "join.SortMergeJoin": 0,
        },
    )


def test_contamination_bipartite_broadcast_bench_side():
    assert_recorded(
        "contamination_winnowing_bipartite",
        {
            "join.BroadcastHashJoin": ">=1",
            "join.BroadcastNestedLoopJoin": 0,
            "op.TakeOrderedAndProject": ">=1",
        },
    )


def test_hll_intersection_single_scan_sketch_side():
    assert_recorded(
        "hll_intersection_gate",
        {"join.BroadcastNestedLoopJoin": "<=1", "join.SortMergeJoin": 0, "scan.parquet": "<=2"},
    )


def test_weighted_jaccard_blocked_pairs_only():
    assert_recorded(
        "weighted_jaccard_pairs",
        {"join.BroadcastNestedLoopJoin": 0, "op.TakeOrderedAndProject": ">=1"},
    )


def test_louvain_two_level_no_cartesian():
    assert_recorded("louvain_coarsened_two_level", {"join.BroadcastNestedLoopJoin": "<=1", "scan.rdd": ">=1"})


def test_knn_wrapped_probe_broadcast_cells():
    assert_recorded(
        "spatial_knn_wrapped_probe",
        {
            "join.BroadcastHashJoin": ">=1",
            "join.BroadcastNestedLoopJoin": 0,
            "op.TakeOrderedAndProject": ">=1",
        },
    )


def test_hll_persist_roundtrip_two_scans():
    assert_recorded(
        "hll_sketch_persist_roundtrip",
        {"join.BroadcastNestedLoopJoin": 0, "scan.parquet": "<=2"},
    )


def test_tdigest_band_broadcast_dimension():
    assert_recorded(
        "tdigest_band_classification",
        {"join.BroadcastHashJoin": ">=1", "join.BroadcastNestedLoopJoin": 0},
    )


def test_icws_sketch_no_pair_work_before_collision():
    assert_recorded("icws_weighted_minhash_gate", {"join.BroadcastNestedLoopJoin": "<=2", "window": ">=1"})


def test_knn_ring_expansion_broadcast_probe_and_cut():
    assert_recorded(
        "spatial_knn_ring_expansion",
        {
            "join.BroadcastHashJoin": ">=1",
            "join.BroadcastNestedLoopJoin": "<=2",
            "op.TakeOrderedAndProject": ">=1",
        },
    )


def test_psl_census_all_joins_broadcast_no_explode():
    assert_recorded(
        "tld_psl_join_census",
        {
            "join.BroadcastHashJoin": ">=4",
            "join.ShuffledHashJoin": 0,
            "join.SortMergeJoin": 0,
            "op.Generate": 0,
        },
    )


def test_theil_sen_pairs_on_daily_aggregate_only():
    assert_recorded(
        "theil_sen_daily_slope",
        {"join.BroadcastHashJoin": ">=1", "join.BroadcastNestedLoopJoin": 0},
    )


def test_xcorr_lag_join_on_metadata_frame():
    assert_recorded(
        "xcorr_lag_scan",
        {"join.BroadcastHashJoin": ">=1", "join.BroadcastNestedLoopJoin": "<=1"},
    )


def test_percentile_band_single_scan_single_agg():
    assert_recorded(
        "percentile_band_daily",
        {"join.BroadcastNestedLoopJoin": 0, "op.Window": ">=1", "scan.parquet": "<=1"},
    )


def test_qdigest_gate_broadcast_estimates():
    assert_recorded(
        "qdigest_quantile_gate",
        {
            "join.BroadcastHashJoin": ">=1",
            "join.BroadcastNestedLoopJoin": 0,
            "python.FlatMapGroupsInPandas": ">=2",
        },
    )


def test_kll_shootout_gate_broadcast_estimates():
    assert_recorded(
        "kll_tdigest_shootout_gate",
        {
            "join.BroadcastHashJoin": ">=1",
            "join.BroadcastNestedLoopJoin": 0,
            "python.FlatMapGroupsInPandas": ">=4",
        },
    )


def test_hilbert_census_pure_codegen_single_scan():
    assert_recorded("hilbert_cell_census", {"python": 0, "scan.parquet": "<=1"})


def test_zonemap_census_two_scans_no_joins():
    assert_recorded(
        "zonemap_skipping_census",
        {
            "join.BroadcastHashJoin": 0,
            "join.BroadcastNestedLoopJoin": 0,
            "join.SortMergeJoin": 0,
            "scan.parquet": "<=2",
        },
    )


def test_twap_single_scan_day_partitioned_window():
    assert_recorded(
        "twap_daily_by_type",
        {
            "join.BroadcastHashJoin": 0,
            "join.BroadcastNestedLoopJoin": 0,
            "op.Window": ">=1",
            "scan.parquet": "<=1",
        },
    )


def test_hll_sliding_gate_window_over_daily_sketches():
    assert_recorded(
        "hll_sliding_window_distinct_gate",
        {"join.BroadcastNestedLoopJoin": 0, "op.Generate": ">=1", "op.Window": ">=1"},
    )


def test_wilson_interval_pure_aggregate_no_joins():
    assert_recorded(
        "ab_wilson_interval",
        {
            "join.BroadcastHashJoin": 0,
            "join.BroadcastNestedLoopJoin": 0,
            "op.HashAggregate": ">=2",
            "window": 0,
        },
    )


def test_clamped_balance_single_grouped_fold():
    assert_recorded(
        "clamped_running_balance",
        {"python.FlatMapGroupsInPandas": "<=1", "scan.parquet": "<=1", "window": 0},
    )


def test_zipf_topk_heap_then_bounded_window():
    assert_recorded(
        "zipf_rank_frequency_fit",
        {"join.BroadcastNestedLoopJoin": 0, "op.Generate": ">=1", "op.TakeOrderedAndProject": ">=1"},
    )


def test_gif_parse_bytes_stay_mapside():
    assert_recorded(
        "multimodal_gif_header_parse",
        {"join.BroadcastNestedLoopJoin": 0, "op.HashAggregate": ">=2", "python.MapInPandas": "<=1"},
    )


def test_cohort_ltv_window_on_triangle_sizes_broadcast():
    assert_recorded("cohort_ltv_cumulative", {"join.BroadcastHashJoin": ">=1", "op.Window": "<=1"})


def test_slo_burn_rate_single_scan_hour_frame_window():
    assert_recorded(
        "slo_burn_rate_alerts",
        {
            "join.BroadcastHashJoin": 0,
            "join.BroadcastNestedLoopJoin": 0,
            "op.Window": "<=1",
            "scan.parquet": "<=1",
        },
    )


def test_rrf_fusion_heaps_and_bounded_fusion_join():
    assert_recorded("hybrid_rrf_fusion", {"op.TakeOrderedAndProject": ">=2"})


def test_cuped_three_stacked_aggregates_no_window():
    assert_recorded("ab_cuped_adjustment", {"op.HashAggregate": ">=4", "window": 0})


def test_roc_auc_windows_on_score_bucket_frame():
    assert_recorded("roc_auc_ks_scorecard", {"op.HashAggregate": ">=4", "op.Window": ">=1"})


def test_calibration_bins_pure_aggregate():
    assert_recorded("calibration_bins_brier", {"op.HashAggregate": ">=4", "window": 0})


def test_gini_single_scan_bucket_frame_window():
    assert_recorded(
        "gini_revenue_concentration",
        {"join.BroadcastNestedLoopJoin": 0, "op.Window": "<=1", "scan.parquet": "<=1"},
    )


def test_kaplan_meier_duration_frame_windows():
    assert_recorded("kaplan_meier_churn", {"op.HashAggregate": ">=4", "op.Window": ">=1"})


def test_mase_gapfilled_spine_single_window():
    assert_recorded("seasonal_naive_mase", {"op.Generate": ">=1", "op.Window": "<=1"})


def test_mutual_information_margins_on_cell_frame():
    assert_recorded("mutual_information_type_hour", {"op.HashAggregate": ">=2", "op.Window": ">=1"})


def test_readability_explode_single_rollup_no_joins():
    assert_recorded(
        "syllable_readability_profile",
        {
            "join.BroadcastNestedLoopJoin": 0,
            "join.SortMergeJoin": 0,
            "op.Generate": ">=1",
            "scan.parquet": "<=1",
            "window": 0,
        },
    )


def test_permutation_test_replica_explode_then_aggregate():
    assert_recorded("permutation_test_mean_diff", {"op.Generate": ">=1", "window": 0})


def test_luhn_census_pure_codegen_single_scan():
    assert_recorded(
        "luhn_validity_census",
        {
            "join.BroadcastNestedLoopJoin": 0,
            "join.SortMergeJoin": 0,
            "op.HashAggregate": ">=2",
            "python": 0,
            "scan.parquet": "<=1",
            "window": 0,
        },
    )


def test_jaro_winkler_pairs_blocked_equi_join():
    assert_recorded(
        "jaro_winkler_blocked_pairs",
        {
            "join.BroadcastNestedLoopJoin": 0,
            "op.TakeOrderedAndProject": ">=1",
            "python.ArrowEvalPython": "<=1",
        },
    )


def test_adamic_adar_wedge_join_no_allpairs():
    assert_recorded(
        "adamic_adar_link_prediction",
        {"join.BroadcastNestedLoopJoin": 0, "op.TakeOrderedAndProject": ">=1"},
    )


def test_phrase_match_generate_window_broadcast():
    assert_recorded(
        "phrase_bigram_positional_match",
        {
            "join.BroadcastHashJoin": ">=1",
            "op.Generate": ">=1",
            "op.TakeOrderedAndProject": ">=1",
            "op.Window": ">=1",
        },
    )


def test_louvain_full_loop_per_round_shape():
    assert_recorded("louvain_full_loop_gate", {"join.BroadcastNestedLoopJoin": "<=6", "python": 0})


def test_adstock_fold_stays_jvm_side():
    assert_recorded("adstock_geometric_fold", {"python": 0, "scan.parquet": "<=1"})


def test_alert_fsm_fold_stays_jvm_side():
    assert_recorded("alert_flap_suppression_fsm", {"python": 0})


def test_shapley_constant_size_lattice():
    assert_recorded("shapley_channel_attribution", {"join.SortMergeJoin": 0, "scan.parquet": "<=2"})


def test_ktruss_triangle_join_shape():
    assert_recorded("ktruss_support_rounds", {"join.BroadcastNestedLoopJoin": "<=2"})


def test_weighted_median_single_shuffle_window():
    assert_recorded("weighted_median_by_flag", {"python": 0, "window": ">=1"})


def test_langid_profile_broadcasts():
    assert_recorded(
        "langid_char_trigram_confusion",
        {"join.BroadcastHashJoin": ">=1", "join.BroadcastNestedLoopJoin": 0},
    )


def test_beaconing_single_entity_shuffle():
    assert_recorded("beaconing_interval_regularity", {"op.TakeOrderedAndProject": ">=1", "python": 0})


def test_skyline_single_sweep_window():
    assert_recorded("skyline_pareto_frontier", {"op.Window": ">=1"})


def test_matryoshka_single_scan_broadcast_query():
    assert_recorded("matryoshka_prefix_recall", {"join.SortMergeJoin": 0, "python": 0})


def test_negative_sampling_vocab_broadcasts():
    assert_recorded("negative_sampling_pairs", {"join.BroadcastNestedLoopJoin": ">=1"})


def test_poisson_bootstrap_stays_jvm_and_collapses_mapside():
    assert_recorded("poisson_bootstrap_ci", {"join.SortMergeJoin": 0, "op.HashAggregate": ">=2", "python": 0})


def test_kalman_fold_no_python_no_join():
    assert_recorded("kalman_level_filter_check", {"python": 0})


def test_target_encode_all_joins_broadcast():
    assert_recorded(
        "target_encode_oof_kfold",
        {"join.ShuffledHashJoin": 0, "join.SortMergeJoin": 0, "op.HashAggregate": ">=2"},
    )


def test_periodogram_broadcasts_top_users():
    assert_recorded(
        "periodogram_beacon_peak",
        {"join.BroadcastHashJoin": ">=1", "join.SortMergeJoin": 0, "python": 0},
    )


def test_croston_topp_broadcasts():
    assert_recorded("croston_sba_intermittent", {"join.BroadcastHashJoin": ">=1", "python": 0})


def test_capm_market_join_broadcasts():
    assert_recorded("capm_beta_alpha", {"join.BroadcastHashJoin": ">=1", "join.SortMergeJoin": 0})


def test_seasonal_decompose_dow_means_broadcast():
    assert_recorded(
        "seasonal_decompose_classic",
        {"join.BroadcastHashJoin": ">=1", "join.SortMergeJoin": 0, "op.Window": ">=2"},
    )


def test_vif_pca_single_moment_pass():
    for query in ("vif_collinearity_triple", "pca_leading_component_power"):
        assert_recorded(query, {"join.SortMergeJoin": 0, "python": 0, "scan.parquet": "<=3"})


def test_naive_bayes_model_joins_broadcast():
    assert_recorded("naive_bayes_train_eval", {"join.BroadcastHashJoin": ">=1", "python": 0})


def test_ucb1_fold_single_rollup_no_python():
    assert_recorded("ucb1_policy_replay", {"join.SortMergeJoin": 0, "python": 0})


def test_granger_single_scan_closed_form():
    assert_recorded("granger_lag1_causality", {"join.SortMergeJoin": 0, "python": 0, "scan.parquet": "<=2"})


def test_ridge_boxcox_single_moment_pass():
    for query in ("ridge_regression_closed_form", "boxcox_lambda_scan"):
        assert_recorded(query, {"join.SortMergeJoin": 0, "python": 0, "scan.parquet": "<=2"})


def test_kendall_pairs_at_calendar_grain():
    assert_recorded("kendall_tau_daily", {"join.BroadcastNestedLoopJoin": ">=1", "join.SortMergeJoin": 0})


def test_hmm_hurst_post_rollup_only():
    for query in ("hmm_burst_forward_filter", "hurst_rescaled_range"):
        assert_recorded(query, {"join.SortMergeJoin": 0, "python": 0})


def test_isotonic_interval_joins_broadcast():
    assert_recorded("isotonic_calibration_maxmin", {"join.SortMergeJoin": 0, "scan.parquet": "<=2"})


def test_forecast_family_broadcast_only():
    for query in ("yule_walker_ar2", "forecast_backtest_scorecard"):
        assert_recorded(query, {"join.SortMergeJoin": 0, "python": 0, "scan.parquet": "<=2"})


def test_slo_timeline_single_scan():
    assert_recorded(
        "slo_multiwindow_burn_timeline",
        {"join.SortMergeJoin": 0, "python": 0, "scan.parquet": "<=1"},
    )


def test_paired_trend_tests_integer_censuses():
    for query in ("mcnemar_paired_test", "cochran_armitage_trend"):
        assert_recorded(query, {"join.SortMergeJoin": 0, "python": 0})


def test_fellegi_sunter_no_pair_join():
    assert_recorded("fellegi_sunter_match_weights", {"join.SortMergeJoin": 0, "python": 0})


def test_survival_family_single_sessionize():
    for query in ("kaplan_meier_survival", "logrank_two_group_test", "kaplan_meier_by_group"):
        assert_recorded(query, {"join.SortMergeJoin": 0, "python": 0, "scan.parquet": "<=2"})


def test_time_decay_attribution_range_join():
    assert_recorded("attribution_time_decay", {"join.BroadcastHashJoin": ">=1", "python": 0})


def test_erlang_c_jvm_fold_no_python():
    assert_recorded("erlang_c_staffing", {"join.SortMergeJoin": 0, "python": 0, "scan.parquet": "<=1"})


def test_geofence_broadcast_fences():
    assert_recorded(
        "geofence_containment_census",
        {"join.BroadcastNestedLoopJoin": ">=1", "join.SortMergeJoin": 0, "python": 0},
    )


def test_matrix_profile_calendar_grain():
    assert_recorded("matrix_profile_daily", {"python": 0, "scan.parquet": "<=3"})


def test_partition_advisor_single_scan():
    assert_recorded("partition_layout_advisor", {"op.Generate": ">=1", "python": 0, "scan.parquet": "<=1"})


def test_robust_stats_family_shapes():
    assert_recorded("trimmed_mean_by_type", {"python": 0, "scan.parquet": "<=2"})
    assert_recorded("hodges_lehmann_location", {"python": 0, "scan.parquet": "<=2"})
    assert_recorded("poisson_dispersion_test", {"python": 0, "scan.parquet": "<=1"})
    assert_recorded("empirical_bayes_shrinkage", {"python": 0, "scan.parquet": "<=2"})


def test_conformal_supply_family_shapes():
    for query in ("conformal_interval_coverage", "abc_xyz_classification", "revenue_bridge_price_volume"):
        assert_recorded(query, {"python": 0, "scan.parquet": "<=2"})


def test_recsys_cached_interactions():
    assert_recorded("recsys_mrr_at_10", {"op.InMemoryTableScan": ">=2", "python": 0})


def test_warehouse_ops_family_shapes():
    assert_recorded("scd2_point_in_time_join", {"python": 0, "scan.parquet": "<=2"})
    assert_recorded("max_concurrency_sweep", {"python": 0, "scan.parquet": "<=2"})
    assert_recorded("watermark_delay_tradeoff", {"python": 0, "scan.parquet": "<=1"})


def test_profiling_ops_family_shapes():
    assert_recorded("functional_dependency_census", {"python": 0, "scan.parquet": "<=3"})
    assert_recorded("last_digit_uniformity", {"python": 0, "scan.parquet": "<=2"})
    assert_recorded("apdex_score_daily", {"python": 0, "scan.parquet": "<=1"})
    assert_recorded("session_gap_sensitivity", {"python": 0, "scan.parquet": "<=1"})
    assert_recorded("vocabulary_overlap_matrix", {"op.InMemoryTableScan": ">=3", "python": 0})


def test_frequent_triples_level_wise_bounded_joins():
    assert_recorded(
        "frequent_triples_apriori",
        {"join.BroadcastHashJoin": ">=3", "join.SortMergeJoin": "<=5", "scan.rdd": ">=2"},
    )


def test_conformal_monitor_prefix_join_at_calendar_grain():
    assert_recorded(
        "conformal_monitor_timeline",
        {"op.InMemoryTableScan": ">=2", "op.Window": ">=2", "scan.parquet": "<=2"},
    )


def test_matrix_profile_mass_single_materialized_series():
    assert_recorded(
        "matrix_profile_mass_gate",
        {"op.InMemoryTableScan": ">=2", "python.FlatMapGroupsInPandas": "<=1", "scan.parquet": "<=6"},
    )


def test_fisher_exact_census_then_bounded_terms():
    assert_recorded("fisher_exact_weekend_value", {"join.BroadcastHashJoin": ">=9", "join.SortMergeJoin": 0})


def test_source_mixing_single_rollup_no_shuffle_joins():
    assert_recorded(
        "source_mixing_largest_remainder",
        {"join.SortMergeJoin": 0, "op.InMemoryTableScan": ">=3", "op.Window": ">=1", "scan.parquet": "<=4"},
    )


def test_dtw_pairs_arrays_carried_no_fact_rejoin():
    assert_recorded("dtw_banded_channel_pairs", {"join.SortMergeJoin": 0, "python.ArrowEvalPython": "<=1"})


def test_holt_winters_single_scan_jvm_fold():
    assert_recorded(
        "holt_winters_additive_fit",
        {
            "join.BroadcastHashJoin": 0,
            "join.BroadcastNestedLoopJoin": 0,
            "join.SortMergeJoin": 0,
            "scan.parquet": "<=1",
        },
    )


def test_path_trigrams_one_window_pass_broadcast_dims():
    assert_recorded("path_trigrams_markov_lift", {"join.BroadcastHashJoin": ">=3", "join.SortMergeJoin": 0})


def test_gsp_user_cogrouped_joins_broadcast_pattern_dims():
    assert_recorded("gsp_subsequence_triples", {"join.BroadcastHashJoin": ">=4"})


def test_packing_census_single_scan_jvm_fold():
    assert_recorded(
        "packing_efficiency_census",
        {
            "join.BroadcastHashJoin": 0,
            "join.BroadcastNestedLoopJoin": 0,
            "join.SortMergeJoin": 0,
            "scan.parquet": "<=1",
        },
    )


def test_nw_alignment_arrays_carried_no_fact_rejoin():
    assert_recorded("nw_alignment_channel_shapes", {"join.SortMergeJoin": 0, "python.ArrowEvalPython": "<=1"})


def test_stomp_gate_shares_mass_gate_plan_shape():
    assert_recorded(
        "matrix_profile_stomp_gate",
        {"op.InMemoryTableScan": ">=2", "python.FlatMapGroupsInPandas": "<=1"},
    )


def test_gotoh_alignment_arrays_carried_no_fact_rejoin():
    assert_recorded(
        "gotoh_affine_alignment_shapes",
        {"join.SortMergeJoin": 0, "python.ArrowEvalPython": "<=1"},
    )


def test_prefixspan_broadcast_prunes_no_cartesian():
    assert_recorded("prefixspan_projected_census", {"join.BroadcastHashJoin": ">=1", "scan.rdd": ">=4"})


def test_dup_coverage_windows_partitioned_by_doc():
    assert_recorded("exact_substring_dup_coverage", {"op.Window": ">=2", "scan.rdd": ">=1"})


def test_smith_waterman_single_arrow_udf():
    assert_recorded("smith_waterman_local_shapes", {"join.SortMergeJoin": 0, "python.ArrowEvalPython": "<=1"})


def test_zip_census_executor_side_extraction():
    assert_recorded("webdataset_zip_shard_census", {"op.HashAggregate": ">=2", "python.MapInPandas": "<=1"})


def test_gotoh_local_single_arrow_udf():
    assert_recorded(
        "gotoh_local_alignment_shapes",
        {"join.SortMergeJoin": 0, "python.ArrowEvalPython": "<=1"},
    )


def test_fpgrowth_broadcast_dims_single_pandas_stage():
    assert_recorded(
        "fpgrowth_parallel_itemsets",
        {"join.BroadcastHashJoin": ">=1", "python.FlatMapGroupsInPandas": "<=1"},
    )


def test_bloom_semijoin_probe_never_shuffles_fact_for_bitmap():
    assert_recorded("bloom_semijoin_reduction", {"join.BroadcastHashJoin": ">=2", "join.SortMergeJoin": 0})


def test_theilsen_pair_join_copartitioned_per_channel():
    assert_recorded("theilsen_robust_trend", {"join.BroadcastHashJoin": ">=2"})


def test_zorder_census_single_scan_map_side_layouts():
    assert_recorded(
        "zorder_layout_skipping_census",
        {"join.BroadcastHashJoin": 0, "join.SortMergeJoin": 0, "op.HashAggregate": ">=2"},
    )


def test_skyline_bucketed_windows_no_dominance_join():
    assert_recorded(
        "skyline_pareto_parts",
        {"join.BroadcastHashJoin": ">=2", "join.SortMergeJoin": 0, "op.Window": ">=2"},
    )


def test_geo_grid_join_equi_on_cells_no_cross():
    assert_recorded("geo_grid_neighbor_pairs", {"join.BroadcastNestedLoopJoin": 0, "op.Generate": ">=2"})


def test_allpairs_prefix_filter_all_equi_joins():
    assert_recorded("allpairs_prefix_filter_join", {"join.BroadcastNestedLoopJoin": 0})


def test_point_in_polygon_broadcasts_geometry():
    assert_recorded("point_in_polygon_raycast", {"join.BroadcastNestedLoopJoin": ">=1"})


def test_itemset_capstones_checkpoint_the_census():
    for query in ("frequent_itemsets_closed_maximal", "association_rules_confidence_lift"):
        assert_recorded(query, {"scan.rdd": ">=1"})


def test_sw_traceback_single_arrow_udf():
    assert_recorded("smith_waterman_traceback_alignment", {"python.ArrowEvalPython": "<=1"})


def test_survival_new_queries_stay_jvm_side():
    for query in (
        "nelson_aalen_cumulative_hazard",
        "logrank_stratified_test",
        "aalen_johansen_competing_risks",
    ):
        assert_recorded(query, {"python": 0})


def test_haar_and_fagin_stay_bounded():
    for query in ("haar_wavelet_energy_census", "fagin_ta_depth_census"):
        assert_recorded(query, {"python": 0, "scan.rdd": ">=1"})


def test_rank_limit_pushes_take_ordered():
    for query in ("matryoshka_prefix_recall", "ndcg_at_10_eval", "binary_hamming_recall"):
        assert_recorded(query, {"op.TakeOrderedAndProject": ">=2"})


def test_lcp_interval_tree_keyed_windows_only():
    assert_recorded("lcp_interval_tree_nodes", {"python": 0, "scan.rdd": ">=1"})


def test_team_draft_bounded_draft_plan():
    assert_recorded("team_draft_interleaving_eval", {"python": 0, "scan.parquet": 0})


def test_wasserstein_distinct_bucket_windows():
    assert_recorded("wasserstein_1d_drift", {"python": 0, "scan.parquet": "<=1"})


def test_t_closeness_keyed_windows_only():
    assert_recorded("t_closeness_census", {"python": 0})


def test_weighted_interval_scheduling_jvm_fold():
    assert_recorded("weighted_interval_scheduling", {"op.WindowGroupLimit": ">=1", "python": 0})


def test_curriculum_no_single_partition_rank():
    assert_recorded("curriculum_ordering_stages", {"python": 0})


def test_pinball_keyed_windows_only():
    assert_recorded("pinball_loss_quantile_eval", {"python": 0, "scan.parquet": "<=1"})


def test_corpus_prep_staged_pipeline_plan():
    assert_recorded("corpus_prep_staged_pipeline", {"python": 0})
