"""Plan-shape assertions: the scale properties, tested.

Correctness tests prove the right ROWS come back; these prove the right
PLAN produces them — pushdown reaching the scan, columns pruned,
dimensions broadcast, shuffles at the expected minimum.  A regression
here is invisible at sf0.001 and fatal at 100 TB.
"""

from __future__ import annotations

import pytest

from mapreducehs_spark.operators.iteration import materialize
from mapreducehs_spark.plans import inspect as I
from mapreducehs_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF)

    return run


def test_q01_filter_pushdown_and_pruning(q):
    df = q("q01_pricing_summary")
    pushed = I.pushed_filters(df)
    assert "LessThanOrEqual(l_shipdate" in pushed["lineitem"]
    cols = set(I.scan_columns(df, "lineitem"))
    # 7 of lineitem's 16 columns; no keys, no comment-ish columns
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }
    # scan → partial agg → single shuffle → final agg
    assert I.exchange_count(df) == 1


def test_q03_full_pushdown_no_shuffle(q):
    df = q("q03_scan_project_filter")
    pushed = I.pushed_filters(df)["lineitem"]
    assert "EqualTo(l_returnflag,R)" in pushed
    assert "GreaterThanOrEqual(l_quantity,45.0)" in pushed
    # pure scan+project+filter: zero shuffles
    assert I.exchange_count(df) == 0


def test_q05_small_dims_broadcast(q):
    df = q("q05_revenue_by_nation")
    # every dimension join (customer, supplier, nation, region, orders
    # after its date filter) broadcasts — no sort-merge join anywhere
    assert I.broadcast_join_count(df) >= 5
    assert I.sort_merge_join_count(df) == 0
    # the only shuffle is the final group-by aggregation
    assert I.exchange_count(df) == 1
    # column pruning on the fact table: 4 of 16 columns
    assert len(I.scan_columns(df, "lineitem")) == 4


def test_q05_date_filter_pushed_to_orders(q):
    pushed = I.pushed_filters(q("q05_revenue_by_nation"))
    assert "GreaterThanOrEqual(o_orderdate" in pushed["orders"]
    assert "EqualTo(r_name,ASIA)" in pushed["region"]


def test_q12_single_shuffle_topk(q):
    df = q("q12_topk_per_group")
    # window rank over group key: one hash-partition shuffle, no join
    assert I.exchange_count(df) == 1
    assert I.broadcast_join_count(df) == 0


def test_s01_query_side_broadcast(q):
    df = q("s01_cosine_topk")
    # small query set broadcast against the corpus — corpus never shuffles
    assert I.broadcast_join_count(df) >= 1
    assert I.sort_merge_join_count(df) == 0
    # queries-side filter is pushed into the parquet scan
    assert "vec_id" in I.pushed_filters(df)["embeddings"]


def test_q07_asof_join_shape(q):
    df = q("q07_asof_enrich")
    # as-of join = union + window, NOT a cross/range join explosion
    assert I.sort_merge_join_count(df) == 0


def test_codegen_covers_agg_pipeline(q):
    # whole-stage codegen spans exist on the hot aggregate path.
    # (AQE only annotates codegen ids once the final plan materializes,
    # so execute first.)
    df = q("q01_pricing_summary")
    df.collect()
    assert I.codegen_stage_count(df) >= 1


def test_q36_shared_window_partitioning(q):
    df = q("q36_window_frames")
    # four window specs over the same o_custkey partitioning: Catalyst
    # plans ONE hash exchange (then per-frame sorts); a second exchange
    # would mean a spec accidentally repartitions per window
    assert I.exchange_count(df) == 1
    assert I.broadcast_join_count(df) == 0
    # only the 4 needed columns leave the scan
    assert len(I.scan_columns(df, "orders")) == 4


def test_q37_hash_split_scan_shaped(q):
    df = q("q37_hash_split")
    # deterministic split is a per-row expression: the only shuffle is
    # the final tiny aggregation on the split label
    assert I.exchange_count(df) == 1
    assert I.sort_merge_join_count(df) == 0


def test_q40_aggregates_below_outer_join(q):
    df = q("q40_full_outer_reconcile")
    plan = I.formatted_plan(df)
    # both sides reduce to per-customer aggregates BEFORE the full outer
    # join (the join input is #customers, not #orders), and the join
    # REUSES the aggregation's hash partitioning: exactly the two agg
    # exchanges, none added for the join itself
    assert "SortMergeJoin FullOuter" in plan
    assert I.exchange_count(df) == 2
    # date filters pushed into the scans on both sides
    pushed = I.pushed_filters(df)["orders"]
    assert "o_orderdate" in pushed


def test_q46_filtered_dim_broadcasts(q):
    df = q("q46_brand_supplier_stats")
    # BETWEEN / NOT LIKE / <> all reach the part scan; the filtered dim
    # broadcasts so the fact table never shuffles for the join — the
    # only exchanges belong to the two-phase distinct aggregate
    pushed = I.pushed_filters(df)["part"]
    assert "GreaterThanOrEqual(p_size,5)" in pushed
    assert "Not(StringContains(p_type,ECONOMY))" in pushed
    assert I.broadcast_join_count(df) >= 1
    assert I.sort_merge_join_count(df) == 0
    assert I.exchange_count(df) == 2
    # fact scan pruned to the 4 needed columns
    assert len(I.scan_columns(df, "lineitem")) == 4


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Tables bucketed on the join key with equal bucket counts join
    with ZERO shuffle exchanges — the on-disk layout IS the shuffle.
    This is the co-located-join path a 100 TB fact table relies on."""
    from mapreducehs_spark.sources.catalog import load_table, write_bucketed
    import pyspark.sql.functions as F

    orders = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    write_bucketed(orders, "bkt_orders", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    write_bucketed(li, "bkt_lineitem", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
    try:
        bo = spark.table("bkt_orders").hint("merge")
        bl = spark.table("bkt_lineitem").hint("merge")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        assert I.sort_merge_join_count(joined) == 1
        assert I.exchange_count(joined) == 0
        # and a group-by on the bucket key reuses the layout too: the
        # only exchange left is none — partial+final agg collapse into
        # one bucket-local hash aggregate
        agg = (
            spark.table("bkt_lineitem")
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        assert I.exchange_count(agg) == 0
        # same join through a vanilla (non-bucketed) scan pays a shuffle
        # on each side — the witness that bucketing removed real work
        plain = li.hint("merge").join(
            orders.hint("merge"), li.l_orderkey == orders.o_orderkey
        ).select("l_orderkey", "l_quantity", "o_totalprice")
        assert I.exchange_count(plain) == 2
        # row parity between the bucketed and plain plans
        assert joined.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_global_sort_uses_range_partitioning(spark):
    """ORDER BY is a range-partitioned distributed sort (sample →
    balanced ranges → per-partition sort) — never a single-task
    gather-and-sort; the property that makes global sort feasible on
    100 TB."""
    from mapreducehs_spark.sources.catalog import load_table

    df = load_table(spark, SF, "orders").orderBy("o_totalprice")
    plan = I.formatted_plan(df)
    assert "rangepartitioning" in plan.lower()
    assert I.exchange_count(df) == 1


def test_q48_semi_join_broadcasts_and_prunes(q):
    df = q("q48_large_volume_orders")
    # the HAVING agg's surviving keys broadcast into the semi join and
    # the customer dim broadcasts — the fact table shuffles only for
    # its two aggregations
    assert I.broadcast_join_count(df) >= 2
    assert I.sort_merge_join_count(df) == 0
    assert I.exchange_count(df) == 2
    assert len(I.scan_columns(df, "lineitem")) == 2  # l_orderkey, l_quantity


def test_q57_merge_upsert_single_exchange(q):
    # base ∪ updates → per-key window: exactly ONE shuffle on the merge
    # key, however many CDC branches feed the update side
    df = q("q57_merge_upsert")
    assert I.exchange_count(df) == 1
    assert I.sort_merge_join_count(df) == 0


def test_q58_rollup_single_exchange(q):
    # Expand emits one row per resolution map-side; all granularities
    # share one partial+final aggregation → one shuffle, one fact scan
    df = q("q58_multi_resolution_rollup")
    assert I.exchange_count(df) == 1
    import re

    plan = I.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_q62_topk_avoids_global_sort(q):
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-task
    # heaps, 10 rows each to the driver), never a range-partitioned
    # global sort; all three scan filters reach parquet
    df = q("q62_unshipped_orders")
    plan = I.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    pushed = I.pushed_filters(df)
    assert "GreaterThan(l_shipdate" in pushed["lineitem"]
    assert "LessThan(o_orderdate" in pushed["orders"]
    assert "EqualTo(c_mktsegment,BUILDING)" in pushed["customer"]


def test_q64_disjunctive_residues_pushed(q):
    # the OR-of-conjunctions spans both join sides; Catalyst must still
    # derive single-side residues: a quantity disjunction at the
    # lineitem scan and a brand/size disjunction at the part scan
    df = q("q64_disjunctive_brand_revenue")
    pushed = I.pushed_filters(df)
    assert "l_quantity" in pushed["lineitem"] and "Or(" in pushed["lineitem"]
    assert "p_brand" in pushed["part"] and "Or(" in pushed["part"]
    assert I.broadcast_join_count(df) == 1
    assert I.sort_merge_join_count(df) == 0


def test_q65_single_fact_scan_no_correlated_probe(q):
    # both correlated EXISTS collapse into ONE per-order aggregate that
    # carries the lone late supplier's identity and late-line count:
    # exactly one lineitem scan, zero left-semi/anti probes of the fact
    # against itself (the textbook form needs three scans)
    import re

    df = q("q65_lone_late_supplier")
    plan = I.formatted_plan(df)
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q70_band_join_is_hash_not_nested_loop(q):
    df = q("q70_range_band_join")
    plan = I.formatted_plan(df)
    # the bucketized form must plan an equi hash join on the bucket id,
    # never BroadcastNestedLoopJoin (the quadratic raw-theta-join plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or I.sort_merge_join_count(df) > 0
    # fact side pruned to the single needed column
    assert set(I.scan_columns(df, "orders")) == {"o_totalprice"}


def test_q72_window_dedup_two_exchanges(q):
    df = q("q72_window_dedup")
    # one shuffle for the (user, type, window) dedup key, one for the
    # per-type rollup — nothing else
    assert I.exchange_count(df) == 2


def test_q73_range_frame_single_exchange(q):
    df = q("q73_time_range_frames")
    # both rolling aggregates share the user_id partitioning: ONE shuffle
    assert I.exchange_count(df) == 1


def test_d10_chunk_dedup_no_pairwise_join(q):
    df = q("d10_chunk_dedup")
    plan = I.formatted_plan(df)
    # corpus-wide chunk frequency is hash aggregation + hash join on the
    # md5 — no nested-loop/cartesian anywhere
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q74_date_filter_pushed_and_part_broadcast(q):
    df = q("q74_promo_revenue_share")
    pushed = I.pushed_filters(df)["lineitem"]
    assert "GreaterThanOrEqual(l_shipdate" in pushed and "LessThan(l_shipdate" in pushed
    assert I.broadcast_join_count(df) >= 1
    assert I.sort_merge_join_count(df) == 0


def test_q75_all_dims_broadcast_single_exchange(q):
    df = q("q75_profit_by_nation_year")
    assert I.broadcast_join_count(df) >= 3
    assert I.sort_merge_join_count(df) == 0
    # one exchange: the (nation, year) rollup
    assert I.exchange_count(df) == 1


def test_t14_token_rows_shuffle_once(q):
    df = q("t14_source_entropy")
    plan = I.formatted_plan(df)
    # corpus/source marginals join back BROADCAST — token-level rows pay
    # one aggregation exchange, not repeated shuffles
    assert I.broadcast_join_count(df) >= 2
    assert I.sort_merge_join_count(df) == 0


def test_q82_partition_pruning_in_scan(q):
    df = q("q82_partitioned_pruned_scan")
    plan = I.formatted_plan(df)
    # the one-day predicate must land in PartitionFilters of the
    # partitioned scan (directory pruning), not in a data Filter
    assert "PartitionFilters: [" in plan and "event_date" in plan.split("PartitionFilters: [", 1)[1].split("]")[0]


def test_q83_smj_not_broadcast(q):
    df = q("q83_large_large_smj")
    assert I.sort_merge_join_count(df) == 1
    assert I.broadcast_join_count(df) == 0
    # two exchanges for the join (one per side) + one for the rollup
    assert I.exchange_count(df) == 3


def test_q86_lateral_decorrelates_to_window_group_limit(q):
    df = q("q86_lateral_topn")
    plan = I.formatted_plan(df)
    # the correlated ORDER BY ... LIMIT 3 must decorrelate into a
    # rank-then-filter (WindowGroupLimit), never a per-outer-row rescan
    # (nested loop); the nation side broadcasts
    assert "WindowGroupLimit" in plan
    assert I.broadcast_join_count(df) == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_d15_composition_never_all_pairs(q):
    df = q("d15_near_dedup_checked")
    plan = I.formatted_plan(df)
    # the composed dedup pipeline must stay candidates-then-verify:
    # no cartesian product and no nested-loop join anywhere in the
    # final drop-list plan (band-key equi-joins + hash joins only)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_m06_decode_is_two_arrow_stages_no_shuffle(q):
    df = q("m06_image_decode_stats")
    plan = I.formatted_plan(df)
    # render → decode are scan-shaped Arrow stages: per-image stats
    # need no shuffle at all (the only exchange AQE may add is none)
    assert I.exchange_count(df) == 0
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") >= 2


def test_q92_bloom_filter_injected(q):
    # the runtime bloom filter must be baked into q92's cached physical
    # plan (planned while the injection thresholds were lowered): the
    # fact side is semi-filtered by bloom_filter_agg over the filtered
    # order keys BEFORE the join shuffle
    df = q("q92_bloom_prune_join")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan
    # and planning must have restored the session confs
    sess = df.sparkSession
    assert sess.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_t19_chunking_no_shuffle(q):
    # chunking is pure fission: split + windowed slice + explode, zero
    # exchanges — every chunk row independent downstream
    df = q("t19_doc_chunks")
    assert I.exchange_count(df) == 0


def test_t17_scoring_joins_vocab_not_corpus(q):
    # the frequency frame joined for scoring is vocabulary-sized and
    # must broadcast; the corpus-side token rows shuffle only for the
    # two hash aggregations
    df = q("t17_unigram_logprob")
    assert I.broadcast_join_count(df) >= 2  # freq join + total crossJoin
    assert I.sort_merge_join_count(df) == 0


def test_d18_prefix_filter_never_all_pairs(q):
    df = q("d18_prefix_filter_pairs")
    plan = I.formatted_plan(df)
    # AllPairs prefix filtering must stay candidates-then-verify:
    # every join is an equi-join on a shingle or id key
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q98_kmv_topk_pushes_window_group_limit(q):
    df = q("q98_kmv_distinct")
    plan = I.formatted_plan(df)
    # row_number() <= k lowers to a per-partition top-k BEFORE the
    # shuffle — the bounded-state property that makes KMV a sketch
    assert "WindowGroupLimit" in plan


def test_t20_profile_two_linear_passes(q):
    df = q("t20_data_profile")
    # never per-column rescans: exactly the two passes (distinct-counts
    # + min/max) over orders, and the Expand pass stays a HASH aggregate
    # (string min/max split out so they can't demote it to sort-based)
    schemas = I.read_schemas(df)
    assert list(schemas) == ["orders"]
    plan = I.formatted_plan(df)
    assert plan.count("Location: InMemoryFileIndex") == 2
    import re
    expand_seen = "Expand" in plan
    assert expand_seen
    # no SortAggregate anywhere near the Expand path: the only sort-
    # based aggregation allowed is the grouping-free min/max pass
    assert "HashAggregate" in plan


def test_q100_triangles_no_cartesian(spark):
    # pin the pre-checkpoint build (q107 recipe): the declared query
    # materializes sel/oriented eagerly, which would hide the plan
    from mapreducehs_spark.queries.q_ext import _q100_tri_build

    with materialize(spark) as m:
        per_node = _q100_tri_build(m, SF)
        plan = I.formatted_plan(per_node)
        assert "CartesianProduct" not in plan
        # round 13: the corpus subtree is materialized ONCE — the wedge
        # pass must reference the checkpoint/cache, never re-scan parquet
        assert "Scan parquet" not in plan


def test_q101_rules_topk_no_global_sort(q):
    df = q("q101_association_rules")
    plan = I.formatted_plan(df)
    # top-20 rules must be per-partition heaps, not a full sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q102_medians_broadcast_back(q):
    df = q("q102_mad_outliers")
    # the one-row-per-group median/MAD frames broadcast back onto the
    # fact — the fact itself never joins shuffled
    assert I.broadcast_join_count(df) >= 3
    assert "CartesianProduct" not in I.formatted_plan(df)


def test_q106_dynamic_partition_pruning_in_scan(q):
    df = q("q106_dynamic_partition_pruning")
    plan = I.formatted_plan(df)
    # the dim-derived date set must prune the partitioned fact scan at
    # RUNTIME: a dynamicpruning subquery inside PartitionFilters
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]")[0]
    assert "dynamicpruning" in pf


def test_q109_one_window_pass_serves_both_touches(q):
    # first_touch and last_touch share one window spec → ONE
    # Exchange+Sort+Window serves both; the only other shuffle is the
    # final vocabulary-sized group-by
    df = q("q109_event_attribution")
    plan = I.formatted_plan(df)
    assert I.exchange_count(df) == 2
    import re
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def test_q107_cms_probe_broadcasts(spark):
    # the sketch probe (10 terms × 4 rows) must broadcast against the
    # cell counters; the token-scale work is hash-aggregated (partial
    # + final), never sort-aggregated.  (Inspect the PRE-checkpoint
    # plan — the query itself returns a checkpointed 10-row result.)
    from mapreducehs_spark.queries import _q107_cms_build

    with materialize(spark) as m:
        df = _q107_cms_build(m, SF)
        plan = I.formatted_plan(df)
        assert "BroadcastHashJoin" in plan
        assert "SortAggregate" not in plan


def test_q110_nested_schema_pruning(q):
    # the two-leaf projection must prune the parquet ReadSchema to
    # exactly payload.kind + payload.metrics.who — amount and raw never
    # leave the scan, and the nested-leaf null filter is pushed down
    df = q("q110_nested_struct_pruning")
    plan = I.formatted_plan(df)
    assert (
        "ReadSchema: struct<payload:struct<kind:string,metrics:struct<who:bigint>>>"
        in plan
    )
    assert "IsNotNull(payload.metrics.who)" in plan


def test_t26_model_broadcasts_single_shuffle(q):
    # inference shape: the 4 096-row weight vector broadcasts; the only
    # shuffle is the per-doc margin aggregation — zero Python, no SMJ
    df = q("t26_hashed_linear_score")
    assert I.broadcast_join_count(df) >= 1
    assert I.sort_merge_join_count(df) == 0
    assert I.exchange_count(df) == 1


def test_q108_adjacency_cached_for_iterations(q):
    # the symmetrized edge list must be persisted (InMemoryTableScan in
    # the per-level join) so iterations re-read the hash-partitioned
    # cache, never the base tables
    df = q("q108_bfs_hops")
    plan = I.formatted_plan(df)
    assert "InMemoryTableScan" in plan or "Scan ExistingRDD" in plan


def test_d20_candidates_only_equi_joins(q):
    # quality-aware dedup must stay candidates-then-verify: banded LSH
    # equi-joins only — no all-pairs path anywhere
    df = q("d20_quality_canonical")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_s13_exact_arm_broadcasts_queries(q):
    # the recall report's exact arm broadcasts the 8-query probe set
    # against the corpus (s01's shape); the corpus never shuffles and
    # nothing falls back to a cartesian product
    df = q("s13_ann_recall_report")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert I.sort_merge_join_count(df) == 0


def test_t28_gradient_step_broadcast_model_no_extra_exchange(spark):
    """t28's per-step contract: the model joins as a BROADCAST (the
    64-row weight table must never shuffle the feature stream), the
    margin aggregation reuses the features frame's doc_id partitioning
    (no exchange between the persisted features and groupBy(doc_id)),
    and the gradient aggregation is the only wide stage added per step."""
    import pyspark.sql.functions as F

    from mapreducehs_spark.operators.ml import gradient_frames, hashed_features
    from mapreducehs_spark.queries import _t

    docs = _t(spark, SF, "documents")
    # persist (exactly what the operator does): InMemoryRelation keeps
    # the doc_id hash partitioning visible to the planner — a
    # localCheckpoint would erase it and force re-exchanges
    with materialize(spark) as m:
        features = m.persist(hashed_features(docs, 64).repartition("doc_id"))
        labels = m.persist(
            docs.select("doc_id", (F.col("n_chars") >= 300).cast("bigint").alias("y"))
            .repartition("doc_id")
        )
        features.count(), labels.count()
        grad_df, _resid = gradient_frames(
            features, labels, {b: 0 for b in range(64)}, 0
        )
        plan = I.formatted_plan(grad_df)
        assert I.broadcast_join_count(grad_df) >= 1  # model side broadcast
        assert "CartesianProduct" not in plan
        # Partition-reuse proof: the doc_id margin aggregation lowers to
        # a partial+final HashAggregate pair with NO Exchange between
        # them (the persisted features frame is already hash-partitioned
        # on doc_id).  If the persist or the repartition key ever drops,
        # an Exchange appears between the pair and this regex stops
        # matching.
        import re

        assert re.search(
            r"HashAggregate \(\d+\)\n[\s:+*-]*HashAggregate \(\d+\)", plan
        ), "margin aggregation no longer reuses the features partitioning"
        # and the labels⋈margins SMJ needs sorts only, not a shuffle:
        # no Exchange directly above either SMJ input's Sort
        assert not re.search(
            r"Sort \(\d+\)\n[\s:+*-]*Exchange", plan
        ), "the residual join re-shuffles a side that should be co-partitioned"


def test_d22_single_cluster_shuffle_no_cartesian(q):
    """d22's scale contract: assignment is a scan-shaped Arrow pass
    (no shuffle), dominance runs inside ONE exchange on the cluster
    key (FlatMapGroupsInPandas) — the within-cluster pair matrix never
    surfaces as a join, so no cartesian product can appear."""
    df = q("d22_semantic_dedup")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert I.exchange_count(df) == 1


def test_t29_sample_filter_prunes_before_model_join(spark):
    """t29's per-step contract: the md5-fold sample predicate is a
    FILTER on the persisted feature/label frames (prune BEFORE the
    broadcast-model join — the sublinear-per-step property), the model
    still broadcasts, and the filter preserves the doc_id partitioning
    (no exchange re-appears between the margin HashAggregate pair)."""
    import re

    import pyspark.sql.functions as F

    from mapreducehs_spark.operators.ml import (
        gradient_frames,
        hashed_features,
        sample_pred,
    )
    from mapreducehs_spark.queries import _t

    docs = _t(spark, SF, "documents")
    with materialize(spark) as m:
        features = m.persist(hashed_features(docs, 64).repartition("doc_id"))
        labels = m.persist(
            docs.select("doc_id", (F.col("n_chars") >= 300).cast("bigint").alias("y"))
            .repartition("doc_id")
        )
        features.count(), labels.count()
        pred = sample_pred(1, 4)
        grad_df, _resid = gradient_frames(
            features.filter(pred), labels.filter(pred), {b: 0 for b in range(64)}, 0
        )
        plan = I.formatted_plan(grad_df)
        assert "md5(" in plan, "sample predicate filter missing from the step plan"
        assert I.broadcast_join_count(grad_df) >= 1
        assert "CartesianProduct" not in plan
        # filters don't disturb hash partitioning: the margin aggregation
        # still lowers to a partial+final pair with no exchange between
        assert re.search(
            r"HashAggregate \(\d+\)\n[\s:+*-]*HashAggregate \(\d+\)", plan
        ), "sampled margin aggregation no longer reuses the features partitioning"


def test_t30_rates_broadcast_doc_side_never_shuffles_wide(q):
    """t30's scale contract: the data-dependent mixture rates come back
    to the doc stream as BROADCASTS (the corpus-sized side must never
    shuffle on the skewed source key), all joins are broadcast-hash,
    and the only exchanges are the three tiny source-keyed/global
    aggregations (n_sources-row state)."""
    df = q("t30_domain_mixture_sample")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert I.broadcast_join_count(df) >= 1
    assert I.sort_merge_join_count(df) == 0
    # exactly: source-agg shuffle, n_sources-row window exchange,
    # final source-keyed agg — and the corpus scans exactly twice
    assert I.exchange_count(df) <= 3
    import re as _re

    # numbered detail nodes only — the formatted tree renders each node
    # twice (tree header + detail block)
    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 2


def test_s17_projection_is_pure_scan(q):
    """s17's projection contract: after the Gram/power-iteration phase
    (driver-held, model-sized), the emitted projection plan is ONE
    codegen scan over (vec_id, embedding) — zero joins, zero
    exchanges; the component coefficients are inlined literals."""
    df = q("s17_pca_projection")
    plan = I.formatted_plan(df)
    assert I.exchange_count(df) == 0
    assert I.broadcast_join_count(df) == 0
    assert I.sort_merge_join_count(df) == 0
    cols = set(I.scan_columns(df, "embeddings"))
    assert cols == {"vec_id", "embedding"}


def test_t31_weighted_topk_partial_group_limit(q):
    """t31's scale contract: the rank<=25 predicate plans as
    WindowGroupLimit BOTH below and above the single source exchange —
    per-partition per-group heaps run map-side, so the shuffle carries
    ~25 rows per (partition x source), never the corpus."""
    df = q("t31_weighted_sample")
    plan = I.formatted_plan(df)
    import re as _re

    limits = _re.findall(r"\(\d+\) WindowGroupLimit", plan)
    assert len(limits) == 2  # partial (map-side) + final
    assert I.exchange_count(df) == 1
    assert I.broadcast_join_count(df) == 0
    assert I.sort_merge_join_count(df) == 0


def test_t32_funnel_single_pass_two_exchanges(q):
    """t32's scale contract: the four-stage curation funnel is ONE scan
    of documents (tokens staged once, stage flags as columns) and
    exactly TWO exchanges — the content-hash window partition and the
    tiny per-source rollup.  No joins, no recomputation of any stage."""
    df = q("t32_curation_funnel")
    plan = I.formatted_plan(df)
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert I.exchange_count(df) == 2
    assert I.broadcast_join_count(df) == 0
    assert I.sort_merge_join_count(df) == 0
    assert "CartesianProduct" not in plan


def test_s18_bm25_stats_broadcast_topk_heap(q):
    """s18's scale contract: corpus statistics (N, sum_dl, per-term df)
    come back as a single-row BROADCAST (never a driver constant), the
    candidate filter and scoring stay in the scan stage, and the final
    ranking is TakeOrderedAndProject (per-partition heaps), never a
    global sort."""
    df = q("s18_bm25_topk")
    plan = I.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats x corpus
    assert I.sort_merge_join_count(df) == 0
    # one exchange: the single-row statistics aggregate
    assert I.exchange_count(df) == 1


def test_s19_rerank_candidate_bounded(q):
    """s19's scale contract: the rerank stage costs O(candidates), not
    O(corpus) — the 100-row candidate set reaches the corpus scan as a
    BroadcastHashJoin (with the model weight table broadcast too,
    t26's pin), and no join ever degrades to a cartesian product."""
    df = q("s19_retrieve_rerank")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # candidates ⋈ corpus AND feats ⋈ weights both broadcast
    assert plan.count("BroadcastHashJoin") >= 2


def test_d25_bloom_index_broadcasts_to_probe(q):
    # the whole point of the Bloom index: the probe side never
    # shuffles against history — the O(m)-bit word table broadcasts,
    # and no sort-merge join appears anywhere in the plan
    df = q("d25_bloom_dedup")
    assert I.broadcast_join_count(df) >= 1
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_d26_sig_scan_is_shuffle_free_and_bench_broadcasts(q, spark):
    # the decontamination scale contract: signatures fold row-locally
    # (a signature frame alone has ZERO exchanges), and in the full
    # bipartite query the eval side reaches the training scan by
    # broadcast — the training side's only exchange is the final
    # aggregate over contaminated candidates
    from mapreducehs_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = D.minhash_sigs_scan_shaped(docs)
    # one repartition for core-spread is the ONLY exchange; the
    # signature fold itself adds none
    assert I.exchange_count(sigs) <= 1
    assert "HashAggregate" not in I.formatted_plan(sigs)

    df = q("d26_decontaminate_fuzzy")
    plan = I.formatted_plan(df)
    assert I.broadcast_join_count(df) >= 2  # banded keys + signatures
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_t33_no_single_task_window(spark):
    # the sharding sort is global_positions's range-partitioned
    # two-phase idiom — a bare row_number() OVER (ORDER BY ...) would
    # appear as a Window over a single partition; assert none exists.
    # (Inspect the PRE-checkpoint plan — the query itself returns a
    # checkpointed 8-row result.)
    from mapreducehs_spark.queries import _t33_build

    with materialize(spark) as m:
        df = _t33_build(m, SF)
        plan = I.formatted_plan(df)
        assert "Window" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan  # the 1-row total meets per-shard broadcast


def test_q117_compaction_window_group_limit(q):
    # the CDC merge's scale contract: rn<=1 lowers to WindowGroupLimit
    # (each map task keeps its local latest row per key BEFORE the
    # exchange), the merge is one keyed window — no join anywhere
    df = q("q117_cdc_merge")
    plan = I.formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan
    assert I.exchange_count(df) == 1


def test_m15_hash_joins_never_cartesian(q):
    # alignment verification joins two (id, lo, hi) hash frames on the
    # pair key — equi-joins only, and the checkpointed hash frame means
    # the decode scan is not in this plan at all (it ran once)
    df = q("m15_alignment_verify")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan  # decode happened pre-checkpoint, once


def test_t34_tercile_bucketing_window_free(spark):
    # CCNet bucketing must NOT use ntile/row_number OVER (PARTITION BY
    # source) — a 30 TB source would collapse to one task; ranks come
    # from the positions idiom + a sources-sized broadcast join.
    # (Pre-checkpoint plan, q107 discipline.)
    from mapreducehs_spark.queries import _t34_build

    with materialize(spark) as m:
        df = _t34_build(m, SF)
        plan = I.formatted_plan(df)
        assert "Window" not in plan
        assert "BroadcastHashJoin" in plan


def test_t35_weight_table_broadcasts_topk_bounded(q):
    # DSIR's scale contract: the 1024-bucket weight table reaches the
    # token scan by broadcast, and the top-500 lowers to
    # TakeOrderedAndProject — never a global sort of the scored pool
    df = q("t35_dsir_selection")
    plan = I.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_s20_maxsim_single_scan_topk(q):
    # Late-interaction MaxSim is ONE codegen scan: no explode of the
    # token array (Generate), no exchange except none at all pre-top-k,
    # and the ranking lowers to TakeOrderedAndProject per-partition
    # heaps — never a global sort of per-doc scores.
    df = q("s20_maxsim_topk")
    plan = I.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan
    assert "Exchange" not in plan  # no shuffle at all: scan -> heaps -> driver merge
    assert plan.count("(1) Scan parquet") == 1  # the detail section lists each scan once


def test_q120_sample_filter_before_shuffle(q):
    # AQP's whole point: the Bernoulli predicate is a SCAN-SIDE codegen
    # filter, so only sampled rows reach the one group-by exchange —
    # p of the data shuffles, not the corpus.
    df = q("q120_aqp_estimates")
    plan = I.formatted_plan(df)
    assert I.exchange_count(df) == 1  # the single agg shuffle
    assert "Join" not in plan
    assert "partial_sum" in plan  # map-side combine runs on sampled rows
    import re

    assert re.search(r"^Condition : .*md5", plan, re.M)


def test_t37_fold_filter_preserves_partitioning(spark):
    # CV's scale contract: each fold's gradient pass filters the ONE
    # persisted doc_id-partitioned feature frame — the residual/gradient
    # joins stay co-partitioned, the weight join broadcasts, and no
    # per-fold repartition appears.
    from mapreducehs_spark.operators.ml import (
        cv_fold_col,
        gradient_frames,
        hashed_features,
    )
    from mapreducehs_spark.sources.catalog import load_table
    import pyspark.sql.functions as F

    docs = load_table(spark, SF, "documents")
    with materialize(spark) as m:
        feats = m.persist(
            hashed_features(docs, 64).withColumn("fold", cv_fold_col(3)).repartition("doc_id")
        )
        labels = m.persist(
            docs.select("doc_id", (F.col("n_chars") >= 300).cast("bigint").alias("y"))
            .repartition("doc_id")
        )
        feats.count(), labels.count()  # materialize: partitioning visible
        grad, _ = gradient_frames(
            feats.filter(F.col("fold") != 0).select("doc_id", "bucket", "x"),
            labels,
            {b: 0 for b in range(64)},
            0,
        )
        plan = I.formatted_plan(grad)
        assert I.broadcast_join_count(grad) >= 1  # the weight table
        assert "CartesianProduct" not in plan
        # the fold filter must NOT break the cached doc_id partitioning:
        # the margin aggregation still lowers to a partial+final
        # HashAggregate pair with no Exchange between them (t28's pin,
        # now with the filter in the middle)
        import re

        assert re.search(
            r"HashAggregate \(\d+\)\n[\s:+*-]*HashAggregate \(\d+\)", plan
        ), "fold filter broke the cached partitioning reuse"


def test_t38_shared_window_partitioning_single_pass(q):
    # both window rules (trailing-3 mask max, lag span-start) run over
    # the SAME (doc_id, p) ordering: Catalyst plans ONE window exchange,
    # and the only other exchange is the tiny source rollup
    df = q("t38_span_corruption")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert I.exchange_count(df) <= 3  # window + rollup (+distinct expand)


def test_d28_delta_path_never_all_pairs(spark):
    # the incremental contract: batch candidates come from the band-key
    # equi-join against the stored index — no cartesian anywhere, and
    # base-base pairs never regenerate (the probe side is batch-only)
    import pyspark.sql.functions as F

    from mapreducehs_spark.operators import dedup
    from mapreducehs_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    batch = docs.filter((F.col("doc_id") % 3).isin(0, 1)).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    _, banded_base = dedup.minhash_checked_signatures(docs)
    _, banded_new = dedup.minhash_checked_signatures(batch)
    index = banded_base.unionByName(banded_new)
    cand = (
        banded_new.select(F.col("id").alias("id_a"), "band", "bk")
        .join(index.select(F.col("id").alias("id_b"), "band", "bk"), ["band", "bk"])
        .filter(F.col("id_a") != F.col("id_b"))
    )
    plan = I.formatted_plan(cand)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_t40_packing_window_free_one_scan(spark):
    """t40's scale contract: token offsets come from the weighted
    two-phase positions idiom (range exchange + Arrow running sum) —
    NEVER a sum() OVER (ORDER BY ...) global window, which collapses
    the corpus onto one task — and the rest is arithmetic + one seq_id
    rollup.  No joins anywhere.  (Pre-checkpoint plan, q107
    discipline.)"""
    from mapreducehs_spark.queries import _t40_build

    with materialize(spark) as m:
        df = _t40_build(m, SF)
        plan = I.formatted_plan(df)
        assert "Window" not in plan
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        # exactly ONE hash exchange (the seq_id rollup); every other
        # Exchange in the text is the positions idiom's range sort,
        # re-printed by the InMemoryRelation (plan_audit caveat: text
        # duplicates cached subtrees; runtime has one of each)
        assert plan.count("hashpartitioning") == 1
        assert "rangepartitioning(doc_id" in plan


def test_t41_provenance_same_shape_as_t32(q):
    """t41 audits t32 at t32's own cost: one documents scan, the
    content-hash window exchange, the (source, stage, reason) rollup
    exchange — no joins, no extra pass."""
    df = q("t41_funnel_provenance")
    plan = I.formatted_plan(df)
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert I.exchange_count(df) == 2
    assert I.broadcast_join_count(df) == 0
    assert I.sort_merge_join_count(df) == 0
    assert "CartesianProduct" not in plan


def test_t42_mixture_rates_broadcast(q):
    """t42's scale contract (t30's shape): per-source rates come back to
    the corpus scan as a BROADCAST join — never a shuffle join against
    the n_sources-row frame — and nothing sort-merges."""
    df = q("t42_temperature_mixture")
    plan = I.formatted_plan(df)
    assert I.broadcast_join_count(df) >= 1
    assert I.sort_merge_join_count(df) == 0
    assert "CartesianProduct" not in plan


def test_t43_fim_one_scan_no_joins(q):
    """t43 is a pure per-record rewrite + per-source rollup: one
    documents scan, no joins, no windows — the transform streams."""
    df = q("t43_fim_transform")
    plan = I.formatted_plan(df)
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    assert "Window" not in plan
    assert I.exchange_count(df) == 1  # the (source) rollup


def test_s22_ceiling_filters_before_topk(q):
    """s22's mining predicate must drop positives BEFORE the top-k
    window (the heap never holds excluded near-dups), and the probe
    side stays broadcast (s01's shape)."""
    df = q("s22_hard_negatives")
    plan = I.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan  # broadcast probes
    assert "CartesianProduct" not in plan
    # the ceiling predicate is a Filter on the rounded kernel output,
    # UPSTREAM of the top-k (lower operator id = deeper in the tree),
    # and rank<=k still lowers to WindowGroupLimit above it
    import re as _re

    m_f = _re.search(r"\((\d+)\) Filter\nInput.*\nCondition : \(round\(pythonUDF\d+#\d+, 6\) <= 0\.98\)", plan)
    m_w = _re.search(r"\((\d+)\) WindowGroupLimit", plan)
    assert m_f and m_w
    assert int(m_f.group(1)) < int(m_w.group(1))


def test_t45_pairs_windowgrouplimit(q):
    """t45's scale contract: both preference rankings lower to
    WindowGroupLimit (per-partition top-k before the source shuffle),
    and the pair join never cartesians."""
    df = q("t45_preference_pairs")
    plan = I.formatted_plan(df)
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan


def test_t46_topical_packing_window_free(q, spark):
    """t46's scale contract: per-cluster offsets come from the grouped
    two-phase prefix-sum seam (range exchange on (cluster, doc_id) +
    broadcast base subtraction) — no Window operator anywhere, so no
    cluster ever collapses onto one task."""
    from mapreducehs_spark.queries import _t46_build

    with materialize(spark) as m:
        df = _t46_build(m, SF)
        plan = I.formatted_plan(df)
        assert "Window" not in plan
        assert "CartesianProduct" not in plan
        assert "rangepartitioning(cluster" in plan
        assert I.broadcast_join_count(df) >= 1  # the k-row base frame


def test_m18_vlm_packing_window_free_one_scan(q, spark):
    """m18's scale contract: one metadata scan of documents, per-source
    offsets via the grouped prefix-sum seam (range exchange + broadcast
    base), no Window, no pixel column read."""
    from mapreducehs_spark.queries import _m18_build

    with materialize(spark) as m:
        df = _m18_build(m, SF)
        plan = I.formatted_plan(df)
        import re as _re

        assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1
        assert "Window" not in plan
        assert "CartesianProduct" not in plan
        assert "rangepartitioning(source" in plan
        assert I.broadcast_join_count(df) >= 1


def test_d30_benchmark_side_broadcasts(q):
    """d30's scale contract: the MB-scale benchmark gram set reaches
    the training scan as a BROADCAST — the 100 TB side never shuffles
    for the join."""
    df = q("d30_contamination_report")
    plan = I.formatted_plan(df)
    assert I.broadcast_join_count(df) >= 1
    assert "CartesianProduct" not in plan


def test_t47_extraction_single_scan_no_udf(q):
    """t47's scale contract: markup injection + the 10-pass extraction
    law fuse into ONE codegen'd scan projection — no Python stage, no
    Window, and the only exchange feeds the n_sources-row rollup."""
    df = q("t47_html_extract")
    plan = I.formatted_plan(df)
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert I.exchange_count(df) == 1  # the per-source hash rollup


def test_d31_report_is_label_join_plus_rollup(q):
    """d31's scale contract: downstream of d28's graphs the report adds
    only label-map joins + one rep-keyed rollup; the 2-scalar corpus
    frame broadcasts (never a shuffled cross join), and nothing
    cartesians."""
    df = q("d31_class_stability")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert I.broadcast_join_count(df) >= 1  # the 1-row scalar frame


def test_d31_conservation_vs_d28(q):
    """Membership conservation: d31's class sizes must re-add to d28's
    label count plus one rep per class, and old+new partition every
    class exactly."""
    import pyspark.sql.functions as F

    report = q("d31_class_stability").collect()
    labels1_rows = q("d28_incremental_components").count()
    assert sum(r["size_day1"] for r in report) == labels1_rows + len(report)
    for r in report:
        assert r["old_members"] + r["new_members"] == r["size_day1"]
        assert 1 <= r["day0_classes"] + (r["old_members"] == 0) <= r["size_day1"]
        assert 0 <= r["growth_permille"] <= 1000
        # the hot law: entirely-batch-born classes are hot by definition
        if r["old_members"] == 0:
            assert r["hot"] == 1


def test_t48_encode_is_scan_shaped(q):
    """t48's scale contract: t22's broadcast-literal encode — no
    Python stage, no Window, and the only exchange feeds the
    n_sources rollup (merge learning runs driver-side beforehand)."""
    df = q("t48_tokenizer_fertility")
    plan = I.formatted_plan(df)
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert I.exchange_count(df) == 1


def test_t49_deciles_window_free(q, spark):
    """t49's scale contract: per-source ranks come from the grouped
    prefix-sum seam (range exchange on (source, quality, doc_id) +
    broadcast base/size frames) — no per-source Window anywhere, so a
    terabyte source shard never lands on one task."""
    from mapreducehs_spark.queries import _t49_build

    with materialize(spark) as m:
        df = _t49_build(m, SF)
        plan = I.formatted_plan(df)
        assert "Window" not in plan
        assert "CartesianProduct" not in plan
        assert "rangepartitioning(source" in plan
        assert I.broadcast_join_count(df) >= 2  # base offsets + sizes


def test_m19_funnel_single_scan_no_udf(q):
    """m19's scale contract: every gate is a codegen'd CASE arm over
    ONE metadata scan — no Python stage, no join, one rollup
    exchange (t12's funnel shape on the multimodal axis)."""
    df = q("m19_pair_curation_funnel")
    plan = I.formatted_plan(df)
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert I.exchange_count(df) == 1


def test_s23_maintenance_metadata_scale_joins(q):
    """s23's scale contract: vectors never shuffle — both assignment
    passes are Arrow kernels feeding 16-row cell rollups, and the
    final stitch is metadata-scale with the 2-scalar totals frame
    broadcast (never a shuffled cross join)."""
    df = q("s23_ivf_index_maintenance")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert I.broadcast_join_count(df) >= 1
    # the vector column must die at the kernel: no Exchange operator's
    # section (formatted detail block) may carry the embedding column
    import re as _re

    for block in _re.split(r"\n\n", plan):
        if _re.match(r"\(\d+\) (Exchange|BroadcastExchange)", block.strip()):
            assert "embedding" not in block, block


def test_t50_manifest_window_free(q, spark):
    """t50's scale contract: epoch offsets come from the grouped
    prefix-sum seam on (source, epoch, key, doc_id) — no
    per-(source, epoch) Window, the n_sources plan broadcasts, and
    nothing cartesians."""
    from mapreducehs_spark.queries import _t50_build

    with materialize(spark) as m:
        df = _t50_build(m, SF)
        plan = I.formatted_plan(df)
        # the only Window is t44's unpartitioned totals pass over the
        # ALREADY-AGGREGATED n_sources-row frame (the documented t42/
        # t44 bounded case) — no window may partition by source/epoch,
        # which would put a whole epoch-shard of the corpus on one task
        assert "windowspecdefinition(source" not in plan
        assert "windowspecdefinition(epoch" not in plan
        assert "CartesianProduct" not in plan
        assert "rangepartitioning(source" in plan
        assert I.broadcast_join_count(df) >= 2  # eplan + group bases


def test_t50_conservation_vs_t44(q, spark):
    """Token conservation: full epochs ship the whole source, and the
    partial epoch's token mass exceeds the ppm target by at most the
    source's largest single document (truncating prefix law: the last
    kept doc STARTS below the target, so the overshoot is bounded by
    its own token count)."""
    from pyspark.sql import functions as F

    from mapreducehs_spark.queries import _mixture_tok, _t

    plan = {r["source"]: r for r in q("t44_epoch_repeat_plan").collect()}
    rows = q("t50_epoch_shuffle_manifest").collect()
    max_doc = {
        r["source"]: r["mx"]
        for r in _mixture_tok(_t(spark, SF, "documents"))
        .groupBy("source")
        .agg(F.max("n_tokens").alias("mx"))
        .collect()
    }
    from collections import defaultdict

    per_se = defaultdict(int)
    for r in rows:
        per_se[(r["source"], r["epoch"])] += r["n_tokens"]
    for (src, epoch), toks in per_se.items():
        p = plan[src]
        if epoch <= p["epochs_full"]:
            assert toks == p["tokens_total"], (src, epoch)
        else:
            assert toks * 1000000 <= p["frac_epoch_ppm"] * p["tokens_total"] \
                + max_doc[src] * 1000000, (src, epoch)
            assert toks <= p["tokens_total"]


def test_q122_merge_is_union_rollup_no_join(q):
    """q122's scale contract: base partials fold with batch deltas as
    a group-keyed UNION + one rollup — no join anywhere, the CDC
    predicates push into the batch-side scans, and the money column
    stays decimal (exact merge algebra)."""
    df = q("q122_incremental_mv_retraction")
    plan = I.formatted_plan(df)
    assert I.broadcast_join_count(df) == 0
    assert I.sort_merge_join_count(df) == 0
    assert "Union" in plan
    import re as _re

    pushed = _re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderkey" in p for p in pushed)  # batch scans filtered


def test_q123_time_travel_one_exchange(q):
    """q123's scale contract (q117's shape on (snap, k)): the keyed
    latest lowers to WindowGroupLimit, there is no join anywhere, and
    the WHOLE time-travel read is ONE exchange — it carries
    ~|snapshots|·|live keys| after the per-map-task group limit."""
    df = q("q123_time_travel")
    plan = I.formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan
    assert I.exchange_count(df) == 1


def test_q123_as_of_max_equals_q117(q):
    """Conservation: the snapshot read at s_max IS q117's merge — the
    time-travel fold and the compaction are the same law stopped at
    different points."""
    merged = {
        r["o_orderkey"]: (r["status"], r["total_cents"], r["last_seq"])
        for r in q("q117_cdc_merge").collect()
    }
    asof = {
        r["o_orderkey"]: (r["status"], r["total_cents"], r["last_seq"])
        for r in q("q123_time_travel").collect()
        if r["snapshot_seq"] == 3
    }
    assert asof == merged


def test_t51_span_conservation(q, spark):
    """t51's mask-boundary law: masked + trained == tokens(rendered)
    for EVERY example (the prefix ends with a newline, so whitespace
    tokenization never glues across the loss-mask boundary)."""
    from pyspark.sql import functions as F

    from mapreducehs_spark.operators import text
    from mapreducehs_spark.queries import _t, _t51_rendered

    rendered = _t51_rendered(_t(spark, SF, "documents"))
    bad = (
        rendered.select(
            (
                F.size(text.tokens("prefix"))
                + F.size(text.tokens("response"))
                - F.size(text.tokens(F.concat(F.col("prefix"), F.col("response"))))
            ).alias("d")
        )
        .filter(F.col("d") != 0)
        .count()
    )
    assert bad == 0
    assert rendered.count() > 0


def test_t51_assembly_codegen_only(q):
    """t51's scale contract: t45's WindowGroupLimit pair plan with the
    render as a pure codegen projection — zero Python evaluation, no
    cartesian, and the corpus is never re-scanned for text (the carry
    seam): only `documents` scans appear, one per ranking branch."""
    df = q("t51_sft_assembly")
    plan = I.formatted_plan(df)
    assert plan.count("WindowGroupLimit") >= 2
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert I.exchange_count(df) <= 2


def test_t52_sampling_shape(q):
    """t52's scale contract: the constant-cap sample window lowers to
    WindowGroupLimit; the argmax window and both rollups reuse the
    (source, gid) partitioning, so the whole query is that exchange
    plus the final n_sources rollup — and nothing joins or leaves
    codegen."""
    df = q("t52_rejection_sampling")
    plan = I.formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert I.exchange_count(df) == 2


def test_q124_cdf_one_exchange_no_join(q):
    """q124's scale contract: preimages come from ONE lag() window
    over the log — no self-join of the log, one (k)-keyed exchange,
    image fan-out is a per-row conditional array explode."""
    df = q("q124_change_data_feed")
    plan = I.formatted_plan(df)
    assert "Join" not in plan
    assert I.exchange_count(df) == 1
    assert "CartesianProduct" not in plan


def test_q125_vacuum_window_plus_rollup(q):
    """q125's scale contract: one lead() window + one seq-keyed
    rollup — two exchanges total, no join, output is 4 rows."""
    df = q("q125_vacuum_plan")
    plan = I.formatted_plan(df)
    assert "Join" not in plan
    assert I.exchange_count(df) == 2


def test_t53_sweep_window_free(spark):
    """t53's scale contract: offsets come from the weighted two-phase
    prefix-sum seam (range exchange) computed ONCE; the three-L sweep
    is an explode + rollup and the 2-scalar totals frame broadcasts —
    no Window operator anywhere, nothing cartesians."""
    from mapreducehs_spark.queries import _t53_build

    with materialize(spark) as m:
        df = _t53_build(m, SF)
        plan = I.formatted_plan(df)
        assert "Window" not in plan
        assert "CartesianProduct" not in plan
        assert "rangepartitioning" in plan
        assert I.broadcast_join_count(df) >= 1


def test_t53_agrees_with_t40_at_committed_length(q):
    """Conservation: the sweep's 2048 row must describe exactly the
    pack t40 executes — same sequence count, same total token mass,
    and the boundary-crossing count equals t40's multi-doc overlap
    surplus (each crossing adds one (doc, seq) row)."""
    sweep = {r["ctx_len"]: r for r in q("t53_packing_efficiency").collect()}
    t40 = q("t40_sequence_packing").collect()
    row = sweep[2048]
    assert row["n_seqs"] == len(t40)
    assert row["total_tokens"] == sum(r["n_fill"] for r in t40)
    n_doc_seq_rows = sum(r["n_docs"] for r in t40)
    assert n_doc_seq_rows == row["n_docs"] + row["n_crossings"]


def test_t54_conversation_conservation(q, spark):
    """t54's span law end-to-end: rendering the WHOLE conversation
    (system block + blocks in turn order) and tokenizing it must land
    exactly on the last turn's train_end, and spans must tile without
    gaps (each turn's mask_start == previous train_end)."""
    from pyspark.sql import functions as F

    from mapreducehs_spark.operators import text
    from mapreducehs_spark.queries import _t, _t45_pairs, _quality_scored, _T51_SYSTEM

    rows = sorted(
        q("t54_multiturn_assembly").collect(), key=lambda r: (r["source"], r["turn"])
    )
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    # spans tile: mask_start of turn i == train_end of turn i-1
    for src, turns in by_src.items():
        for a, b in zip(turns, turns[1:]):
            assert b["mask_start"] == a["train_end"], (src, b["turn"])
        for r in turns:
            assert r["mask_start"] < r["train_start"] <= r["train_end"]
            assert r["train_start"] - r["mask_start"] == r["masked_len"]
            assert r["train_end"] - r["train_start"] == r["trained_len"]
    # full-render conservation at the corpus level
    docs = _t(spark, SF, "documents")
    scored = _quality_scored(docs, carry=("text",)).select(
        "source", "doc_id", "quality_micro", "text"
    )
    pairs = _t45_pairs(scored, carry=("text",))
    nl = F.lit("\n")
    block = F.concat(
        F.lit("<|im_start|>user"), nl,
        F.lit("Rewrite sample "), F.col("pair_rank").cast("string"),
        F.lit(" from "), F.col("source"), F.lit(" to higher quality:"), nl,
        F.col("rejected_text"), F.lit("<|im_end|>"), nl,
        F.lit("<|im_start|>assistant"), nl,
        F.col("chosen_text"), F.lit("<|im_end|>"), nl,
    )
    convs = (
        pairs.select("source", "pair_rank", block.alias("b"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit("<|im_start|>system\n" + _T51_SYSTEM + "<|im_end|>\n"),
                F.concat_ws("", F.array_sort(F.collect_list(F.struct("pair_rank", "b"))).getField("b")),
            ).alias("conv")
        )
    )
    totals = {
        r["source"]: r["n"]
        for r in convs.select(
            "source", F.size(text.tokens("conv")).alias("n")
        ).collect()
    }
    for src, turns in by_src.items():
        assert totals[src] == turns[-1]["train_end"], src


def test_t55_schedule_window_free(spark):
    """t55's scale contract: per-source difficulty ranks come from the
    grouped prefix-sum seam, rolled up to the bounded bucket table — no
    Window operator anywhere, so neither a whole source nor the whole
    schedule ever lands on one task.  (The curriculum offsets over the
    <= 10 * n_sources bucket rows are driver-side since round 13; the
    distributed stage pinned here is everything that touches corpus
    data.)"""
    from mapreducehs_spark.queries.t_text import _t55_buckets

    with materialize(spark) as m:
        df = _t55_buckets(m, SF)
        plan = I.formatted_plan(df)
        assert "Window" not in plan
        assert "CartesianProduct" not in plan
        assert "rangepartitioning(source" in plan


def test_t55_conservation_vs_t49(q):
    """Exact rank deciles put the same DOC COUNT in each (source,
    decile) cell regardless of the ordering key — t55 (t17 difficulty)
    and t49 (type-token quality) must agree on cell masses, and t55's
    start_tokens must be exactly the running token mass in
    (decile, source) curriculum order."""
    t55 = sorted(
        q("t55_curriculum_schedule").collect(),
        key=lambda r: (r["decile"], r["source"]),
    )
    t49 = {(r["source"], r["decile"]): r["n_docs"]
           for r in q("t49_quality_deciles").collect()}
    assert {(r["source"], r["decile"]) for r in t55} == set(t49)
    for r in t55:
        assert r["n_docs"] == t49[(r["source"], r["decile"])], (
            r["source"], r["decile"])
    run = 0
    for r in t55:
        assert r["start_tokens"] == run, (r["decile"], r["source"])
        run += r["n_tokens"]


def test_t56_readout_agrees_with_t45(q):
    """t56 reads the SAME pairing law as t45 (one seam, pre-filter
    view): candidate mass per source is min(5, n_docs); at this
    fixture scale every source has >= 10 docs so no pair is identical
    or margin-degenerate — the readout's non-degenerate pair count
    must equal t45's emitted pairs exactly; shares sum to 1e6 up to
    one truncated ppm per cell."""
    from collections import defaultdict

    t45 = defaultdict(int)
    for r in q("t45_preference_pairs").collect():
        t45[r["source"]] += 1
    n_pairs = defaultdict(int)
    clean = defaultdict(int)
    shares = defaultdict(int)
    cells = defaultdict(int)
    for r in q("t56_dpo_margin_readout").collect():
        n_pairs[r["source"]] += r["n_pairs"]
        # Premise, asserted explicitly: t45's emit law is margin > 0,
        # but bin 0 holds every |margin| < bin width — a non-identical
        # bin-0 cell mixes emitted (0 < margin < width) and dropped
        # (margin <= 0) pairs undecidably at rollup granularity, so
        # the fixture must not produce one.  Failing HERE names the
        # broken premise instead of spuriously blaming the shared law.
        assert r["is_identical"] or r["margin_bin"] != 0, (
            "fixture premise broken: non-identical bin-0 cell exists "
            f"for {r['source']!r} (n={r['n_pairs']}, "
            f"gap={r['gap_mass_micro']}) — the clean-count law below "
            "is no longer derivable from the rollup")
        if not r["is_identical"] and r["margin_bin"] > 0:
            clean[r["source"]] += r["n_pairs"]
        shares[r["source"]] += r["share_ppm"]
        cells[r["source"]] += 1
    for src in n_pairs:
        assert n_pairs[src] == 5, src  # min(5, n_docs) candidates
        assert clean[src] == t45[src], src
        assert 1000000 - cells[src] < shares[src] <= 1000000, src


def test_q126_field_id_one_scan_per_generation(spark):
    """q126's scale contract: exactly TWO parquet scans (one per
    physical generation — resolution is per-file metadata work, not a
    data transform), no join, and the only exchange feeds the tiny
    (generation, status) rollup."""
    import re

    from mapreducehs_spark.queries.q_ext import _q126_build

    df = _q126_build(spark, SF)
    plan = I.formatted_plan(df)
    # unique node ids: the formatted plan prints each node in the tree
    # AND in the detail section
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 2
    assert "Join" not in plan
    assert I.exchange_count(df) == 1


def test_q127_per_layout_pruning(spark):
    """q127's scale contract: the SAME month predicate plans per
    physical layout — the hive-partitioned generation prunes
    directories (PartitionFilters on the scan), the flat generation
    pushes the predicate to row-group stats (PushedFilters); one scan
    per generation, no join."""
    import re

    from mapreducehs_spark.queries.q_ext import _q127_build

    df = _q127_build(spark, SF)
    plan = I.formatted_plan(df)
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 2
    assert "Join" not in plan
    # gen2 (partitioned): directory-level pruning on the month key
    assert re.search(r"PartitionFilters: \[[^\]]*month", plan)
    # gen1 (flat): the same bounds reach the parquet row-group stats
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(month,1995-01\)", plan)


def test_t57_trace_tiling_and_conservation(q, spark):
    """t57's span law end-to-end: within each source the per-block
    spans TILE [0, total) in (turn, block_idx) order with no gaps, the
    role grammar and loss-mask law hold on every turn, and rendering
    the WHOLE conversation (system block + the four grammar blocks per
    pair in turn order) tokenizes to exactly the last block's tok_end."""
    from pyspark.sql import functions as F

    from mapreducehs_spark.operators import text
    from mapreducehs_spark.queries import _t, _t45_pairs, _quality_scored
    from mapreducehs_spark.queries.t_text import _T57_SYSTEM, _T57_TRAINED

    rows = sorted(
        q("t57_agentic_trace_assembly").collect(),
        key=lambda r: (r["source"], r["turn"], r["block_idx"]),
    )
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, blocks in by_src.items():
        # head block is the masked system prompt at offset 0
        assert blocks[0]["role"] == "system" and blocks[0]["turn"] == 0
        assert blocks[0]["tok_start"] == 0 and blocks[0]["trained"] == 0
        # spans tile with no gaps; lengths are consistent
        for a, b in zip(blocks, blocks[1:]):
            assert b["tok_start"] == a["tok_end"], (src, b["turn"], b["block_idx"])
        for r in blocks:
            assert r["tok_end"] - r["tok_start"] == r["n_tokens"]
            assert r["trained"] == _T57_TRAINED[r["role"]], (src, r["role"])
        # each turn is the fixed 4-block grammar in order
        turns = {}
        for r in blocks[1:]:
            turns.setdefault(r["turn"], []).append(r["role"])
        for t, roles in turns.items():
            assert roles == ["user", "tool_call", "tool_result", "assistant"], (src, t)
    # full-render conservation at the corpus level
    docs = _t(spark, SF, "documents")
    scored = _quality_scored(docs, carry=("text",)).select(
        "source", "doc_id", "quality_micro", "text"
    )
    pairs = _t45_pairs(scored, carry=("text",))
    nl = F.lit("\n")
    turn_render = F.concat(
        F.lit("<|im_start|>user"), nl,
        F.lit("Improve sample "), F.col("pair_rank").cast("string"),
        F.lit(" from "), F.col("source"),
        F.lit(" using the corpus tool.<|im_end|>"), nl,
        F.lit("<|im_start|>assistant"), nl,
        F.lit('<tool_call>retrieve("'), F.col("source"), F.lit('", '),
        F.col("pair_rank").cast("string"),
        F.lit(")</tool_call><|im_end|>"), nl,
        F.lit("<|im_start|>tool"), nl,
        F.col("rejected_text"), F.lit("<|im_end|>"), nl,
        F.lit("<|im_start|>assistant"), nl,
        F.col("chosen_text"), F.lit("<|im_end|>"), nl,
    )
    convs = (
        pairs.select("source", "pair_rank", turn_render.alias("b"))
        .groupBy("source")
        .agg(
            F.concat(
                F.lit("<|im_start|>system\n" + _T57_SYSTEM + "<|im_end|>\n"),
                F.concat_ws("", F.array_sort(
                    F.collect_list(F.struct("pair_rank", "b"))
                ).getField("b")),
            ).alias("conv")
        )
    )
    totals = {
        r["source"]: r["n"]
        for r in convs.select(
            "source", F.size(text.tokens("conv")).alias("n")
        ).collect()
    }
    for src, blocks in by_src.items():
        assert totals[src] == blocks[-1]["tok_end"], src


def test_t57_rides_windowgrouplimit_no_extra_scan(q, spark):
    """t57's scale contract: the pre-checkpoint spans frame ranks via
    WindowGroupLimit (per-partition top-5 before the exchange, t45's
    plan) and scans the corpus exactly TWICE (the two ranked arms);
    downstream of the checkpoint the 4-block fan-out is a generate and
    the system-row arm reads the checkpointed spans, not the corpus —
    zero parquet scans in the final plan."""
    import re

    from mapreducehs_spark.queries.t_text import _t57_build

    pre = _t57_build(spark, SF)
    pre_plan = I.formatted_plan(pre)
    assert "WindowGroupLimit" in pre_plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", pre_plan))) == 2
    df = q("t57_agentic_trace_assembly")
    plan = I.formatted_plan(df)
    assert "Generate" in plan  # the literal 4-struct posexplode
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan parquet" not in plan  # both arms read the checkpoint


def test_t58_two_exchanges_and_t52_agreement(q):
    """t58's scale contract and seam law: exactly TWO exchanges
    (the (source, gid) group exchange reused by the window moments and
    the group rollup, plus the final n_sources rollup), t52's
    WindowGroupLimit draw underneath; and because t52/t58 read the
    SAME `_t52_groups` draw, their per-source group/candidate counts
    must agree exactly."""
    df = q("t58_grpo_advantage_readout")
    plan = I.formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert I.exchange_count(df) == 2
    t58 = {r["source"]: r for r in df.collect()}
    t52 = {r["source"]: r for r in q("t52_rejection_sampling").collect()}
    assert set(t58) == set(t52)
    for src, r in t58.items():
        assert r["n_groups"] == t52[src]["n_groups"], src
        assert r["n_candidates"] == t52[src]["n_candidates"], src
        # advantage sanity under the law: degenerate rate is an exact
        # truncated ppm; a group's max advantage is a z-score*1e6 and
        # cannot exceed sqrt(n-1)*1e6 < sqrt(8)*1e6
        assert 0 <= r["degenerate_ppm"] <= 1_000_000
        assert r["degenerate_groups"] * 1_000_000 // r["n_groups"] == r["degenerate_ppm"]
        assert r["max_adv_micro"] <= 2_828_428
        assert r["abs_adv_mass_micro"] >= 0


def test_q128_one_scan_combiner_collapsed(q):
    """q128's scale contract: ONE parquet scan of lineitem feeds both
    simulated layouts (the explode happens above the scan, and map-side
    partial aggregation collapses the doubled rows to <=128 groups per
    task before the single data-scale exchange); the 16-probe workload
    joins as a broadcast nested-loop against the metadata-sized stats
    frame — no sort-merge join anywhere."""
    import re

    df = q("q128_skipping_effectiveness")
    plan = I.formatted_plan(df)
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1
    assert I.sort_merge_join_count(df) == 0
    assert "BroadcastNestedLoopJoin" in plan
    # partial agg below the layout-stats exchange: HashAggregate
    # appears before the first Exchange in the tree walk
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_q128_zorder_tiles_and_dominance(q):
    """The Morton law, observed: every z-layout file (zval div 1024) is
    an EXACT 32x32 axis-aligned tile of the key plane (min and max of
    each key fall in the same 32-wide band — the quadtree-alignment
    property that makes z-order skipping predictable), per-layout row
    conservation holds, and across the whole 16-probe workload the
    z-order layout never scans MORE than the linear layout."""
    from pyspark.sql import functions as F

    from mapreducehs_spark.queries.q_ext import _t

    df = q("q128_skipping_effectiveness")
    rows = df.collect()
    tot = {"linear": 0, "zorder": 0}
    files = {"linear": 0, "zorder": 0}
    for r in rows:
        tot[r["layout"]] += r["rows_scanned"]
        files[r["layout"]] += r["files_hit"]
    assert tot["zorder"] <= tot["linear"]
    assert files["zorder"] <= files["linear"]

    spark = df.sparkSession
    from mapreducehs_spark.operators.layout import zorder_value

    li = _t(spark, SF, "lineitem")
    xk = (F.col("l_orderkey") % 256).cast("bigint")
    yk = (F.round(F.col("l_extendedprice") * 100, 0).cast("bigint") % 256)
    stats = (
        li.select(xk.alias("xk"), yk.alias("yk"),
                  zorder_value(xk, yk, bits=8).alias("zval"))
        .groupBy(F.expr("zval div 1024").alias("file_id"))
        .agg(F.min("xk").alias("min_x"), F.max("xk").alias("max_x"),
             F.min("yk").alias("min_y"), F.max("yk").alias("max_y"),
             F.count(F.lit(1)).alias("n"))
    ).collect()
    assert sum(r["n"] for r in stats) == li.count()
    for r in stats:
        assert r["min_x"] // 32 == r["max_x"] // 32, r
        assert r["min_y"] // 32 == r["max_y"] // 32, r


def test_q129_one_scan_two_metadata_exchanges(q):
    """q129's scale contract: ONE orders scan prices BOTH layouts (the
    explode-tagged simulation), map-side combine collapses the doubled
    rows before the file-stats exchange, and the final rollup exchange
    moves only the metadata-sized file frame; no join at all."""
    import re

    df = q("q129_erasure_rewrite_plan")
    plan = I.formatted_plan(df)
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1
    assert "Join" not in plan
    assert I.exchange_count(df) == 2
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_q129_amplification_law_and_conservation(q):
    """The erasure bill, checked against first principles: victim
    counts agree across layouts (the same cohort however the table is
    laid out), per-layout file counts conserve the row mass, the
    clustered layout never rewrites MORE than the append layout, and
    amp_micro is exactly the integer quotient law."""
    rows = {r["layout"]: r for r in q("q129_erasure_rewrite_plan").collect()}
    assert set(rows) == {"by_order", "by_cust"}
    a, b = rows["by_order"], rows["by_cust"]
    assert a["rows_deleted"] == b["rows_deleted"] > 0
    for r in rows.values():
        assert 0 < r["files_rewritten"] <= r["n_files"]
        assert r["rows_deleted"] <= r["rows_rewritten"]
        assert r["amp_micro"] == r["rows_rewritten"] * 1_000_000 // r["rows_deleted"]
    assert b["rows_rewritten"] <= a["rows_rewritten"]
    assert b["bytes_rewritten"] <= a["bytes_rewritten"]
