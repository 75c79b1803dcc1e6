"""Physical-plan assertions — SURVEY §5.4: the 100 TB shape must be visible
in the plan, not just hoped for.

Construction-cost contract: building a registered query is cheap — multi-
consumer intermediates use ``localCheckpoint(eager=False)`` so plan dumps
here never trigger a scan.  The ONE exception is the iterative-fixpoint
family (dedup_cluster, graph_pagerank, graph_label_propagation,
graph_bfs_distances, graph_kcore): their per-round loops materialize
EAGERLY during construction through ``io.checkpoint``, which also returns
the row count the loop-exit tests read, so merely constructing them runs
the rounds."""

from __future__ import annotations

import pyspark.sql.functions as F

from recommend_spark.io import load_table
from recommend_spark.queries import QUERIES
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Execute, then read the ADAPTIVE final plan: unhinted small joins
    only show their runtime BroadcastHashJoin conversion here (the
    initial plan keeps them as exchanges for AQE to re-plan)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey")
    explained = df._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in explained or "GreaterThan(l_quantity,30" in explained, explained[-2000:]


def test_column_pruning_in_read_schema(spark):
    df = QUERIES["project_select"](spark, SF_DIR)
    explained = df._jdf.queryExecution().toString()
    assert "ReadSchema" in explained
    read_schema = explained.split("ReadSchema:")[-1].splitlines()[0]
    assert "l_shipdate" not in read_schema, read_schema
    assert "l_extendedprice" in read_schema, read_schema


def test_broadcast_hint_honored(spark):
    df = QUERIES["join_broadcast"](spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan(df), _plan(df)[:2000]


def test_topk_plans_take_ordered(spark):
    df = QUERIES["topk_global"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in _plan(df), _plan(df)[:2000]


def test_window_topk_plans_group_limit(spark):
    df = QUERIES["win_topk_per_group"](spark, SF_DIR)
    assert "WindowGroupLimit" in _plan(df), _plan(df)[:2000]


def test_no_cartesian_in_bucketed_range_join(spark):
    for qid in ("join_range", "join_interval"):
        plan = _plan(QUERIES[qid](spark, SF_DIR))
        assert "CartesianProduct" not in plan, qid
        assert "BroadcastNestedLoopJoin" not in plan, qid


def test_jaccard_join_never_unbounded_cartesian(spark):
    # dedup_near_jaccard itself is a scan of the memoized pair artifact,
    # so plan the pair build.  The fixture's word vocabulary fits the
    # 1024-bit mask, so the build is the bitset GEMM kernel's map-only
    # shape: the corpus streams through MapInPandas against a staged
    # index, with no join of any kind (no nested loop, no cartesian).
    from recommend_spark.queries.dedup import _jaccard_pairs_exact

    plan = _plan(_jaccard_pairs_exact(load_table(spark, SF_DIR, "documents")))
    assert "MapInPandas" in plan, plan[:3000]
    assert "Join" not in plan and "CartesianProduct" not in plan, plan[:3000]


def test_partition_pruning_visible_in_scan(spark):
    df = QUERIES["scan_partitioned_prune"](spark, SF_DIR)
    explained = df._jdf.queryExecution().toString()
    # the priority predicate must resolve as a PartitionFilter on directory
    # values, not a data filter evaluated per row
    assert "PartitionFilters" in explained
    pf = explained.split("PartitionFilters:")[-1].splitlines()[0]
    assert "o_orderpriority" in pf, pf


def test_salted_join_has_no_skew_single_key(spark):
    plan = _plan(QUERIES["join_skew_salted"](spark, SF_DIR))
    # salted join must still be a hash equi-join (never nested-loop)
    assert "Join" in plan and "BroadcastNestedLoopJoin" not in plan


def test_tpch_q6_predicates_reach_scan(spark):
    # the whole point of Q6: all three predicates must prune at the parquet
    # scan, not filter post-read
    explained = QUERIES["tpch_q6"](spark, SF_DIR)._jdf.queryExecution().toString()
    pushed = explained.split("PushedFilters:")[-1].splitlines()[0]
    assert "l_shipdate" in pushed, pushed
    assert "l_discount" in pushed, pushed
    assert "l_quantity" in pushed, pushed


def test_tpch_dims_broadcast_no_cartesian(spark):
    for qid in ("tpch_q3", "tpch_q5", "tpch_q8", "tpch_q10", "tpch_q19",
                "tpch_q2", "tpch_q16", "tpch_q17", "tpch_q20"):
        plan = _plan(QUERIES[qid](spark, SF_DIR))
        assert "CartesianProduct" not in plan, qid
        assert "BroadcastNestedLoopJoin" not in plan, qid
        assert "BroadcastHashJoin" in plan, qid


def test_tpch_topk_plans_take_ordered(spark):
    for qid in ("tpch_q3", "tpch_q10", "tpch_q18", "tpch_q2", "tpch_q21"):
        assert "TakeOrderedAndProject" in _plan(QUERIES[qid](spark, SF_DIR)), qid


def test_dynamic_partition_pruning_fires(spark):
    # the dim-side filter must become a runtime subquery on the fact's
    # partition column — partitions are pruned at execution, not parse time
    explained = QUERIES["join_partition_pruned"](spark, SF_DIR)._jdf.queryExecution().toString()
    assert "dynamicpruning" in explained, explained[-3000:]


def test_hash_split_is_map_only(spark):
    # deterministic sampling must stay embarrassingly parallel: no Exchange
    for qid in ("sample_hash_split", "sample_stratified"):
        plan = _plan(QUERIES[qid](spark, SF_DIR))
        assert "Exchange" not in plan, f"{qid}: {plan[:2000]}"


def test_bucketed_join_has_no_exchange(spark):
    df = QUERIES["join_bucketed"](spark, SF_DIR)
    plan = _plan(df)
    # bucketed scan provides the join distribution: no shuffle below the join
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan[:3000]
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan[:3000]


def test_bloom_and_analytics_broadcast_small_sides(spark):
    """The bloom slot table and the per-type moment table must broadcast —
    no fact-side shuffle for the tiny summary joins."""
    for qid in ("join_bloom_filter", "events_anomaly_days",
                "events_transition_matrix"):
        plan = _plan(QUERIES[qid](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, (qid, plan[:2000])
        assert "CartesianProduct" not in plan, qid


def test_item_item_no_cartesian_and_broadcast_counts(spark):
    """The per-item stat joins are UNHINTED (r12: an unconditional hint on
    an unbounded side is the executor-OOM class the r11 verdict flagged)
    — AQE must still broadcast them at fixture scale in the final plan."""
    plan = _plan(QUERIES["rec_item_item"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    fplan = _final_plan(QUERIES["rec_item_item"](spark, SF_DIR))
    assert "BroadcastHashJoin" in fplan, fplan[:2000]


def test_weighted_sample_is_map_only(spark):
    plan = _plan(QUERIES["sample_weighted"](spark, SF_DIR))
    assert "Exchange" not in plan, plan[:2000]


def test_item_item_basket_cap_anti_join_in_plan(spark):
    """The hyper-user guard must be IN the plan of the co-purchase pair
    stage (now the shared artifact builder): a broadcast LEFT ANTI join
    against the over-cap user list, upstream of the pair self-join.  The
    consumer queries read the artifact, so they inherit the guard."""
    from recommend_spark.queries.recommender import _copurchase_pairs

    plan = _plan(_copurchase_pairs(spark, SF_DIR))
    assert "LeftAnti, BuildRight" in plan or "LeftAnti" in plan, plan[:3000]
    # and the consumer actually reads the staged table
    cplan = _plan(QUERIES["rec_item_item"](spark, SF_DIR))
    assert "copurchase_edges" in cplan, cplan[:3000]


def test_triangles_edge_set_computed_once(spark):
    """graph_triangles reads the thresholded edge set from the shared
    disk-memoized co-purchase artifact; the quadratic basket self-join
    must appear ZERO times in the executed plan (it ran once at artifact
    build), while the edge parquet scan feeds the degree agg + three-way
    join."""
    plan = _final_plan(QUERIES["graph_triangles"](spark, SF_DIR))
    assert "copurchase_edges" in plan, plan[:3000]
    # the u-key self-join on baskets is behind the artifact: the only
    # remaining joins are the (unhinted, AQE-broadcast) degree joins +
    # the triangle equi-joins
    assert plan.count("SortMergeJoin") <= 3, plan[:3000]


def test_minhash_lsh_inputs_parallelized(spark):
    """The LSH candidate-join input must never be a single partition (the
    1-task-probe-stage regression: 15+ min at sf0.1)."""
    from pyspark.ml.feature import CountVectorizer

    from recommend_spark.io import load_table
    from recommend_spark.queries.dedup import _TOKS

    docs = load_table(spark, SF_DIR, "documents")
    d = docs.select("doc_id", _TOKS().alias("toks")).repartition(32, "doc_id")
    assert d.rdd.getNumPartitions() == 32


def test_bitmap_distinct_avoids_expand(spark):
    """agg_bitmap_distinct must plan as two plain partial+final aggregates —
    no Expand node (the COUNT(DISTINCT) rewrite) and no row explosion;
    that's the whole point of the bitmap recipe."""
    plan = _plan(QUERIES["agg_bitmap_distinct"](spark, SF_DIR))
    assert "Expand" not in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:3000]


def test_paragraph_dedup_broadcasts_shared_set(spark):
    """dedup_paragraph's shared-chunk set (small by construction) must
    broadcast back onto the chunk stream — a fact-side shuffle for that
    join would be the 100x mistake."""
    plan = _plan(QUERIES["dedup_paragraph"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_asof_nearest_single_user_shuffle(spark):
    """join_asof_nearest is the union-merge recipe: ONE hash exchange on
    the user key feeds both window frames; a range join or per-row
    subquery plan would not survive scale."""
    plan = _plan(QUERIES["join_asof_nearest"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") <= 1, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cached_dim_scans_in_memory(spark):
    """meta_cache_table's dim side must plan as an InMemoryTableScan after
    cacheTable — proof the cache surface actually changes the plan."""
    df = QUERIES["meta_cache_table"](spark, SF_DIR)
    df.count()  # materialize the cache entry
    plan = _plan(QUERIES["meta_cache_table"](spark, SF_DIR))
    assert "InMemoryRelation" in plan or "In-memory table" in plan, plan[:3000]


def test_reservoir_plans_take_ordered(spark):
    """sample_reservoir must compile to TakeOrderedAndProject (per-task
    k-heap, O(k x tasks) rows moved) and never a global Sort+Exchange."""
    plan = _plan(QUERIES["sample_reservoir"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_pack_sequences_single_shuffle(spark):
    """Packing's window and groupBy share the bucket key: the corpus must
    cross the wire exactly once (one hashpartitioning Exchange)."""
    plan = _plan(QUERIES["pipeline_pack_sequences"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(bucket") <= 1, plan[:3000]


def test_token_budget_single_shuffle(spark):
    """Budgeting's window (lang) and groupBy (lang) reuse one exchange."""
    plan = _plan(QUERIES["pipeline_token_budget"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(lang") <= 1, plan[:3000]


def test_pmi_broadcasts_vocab_tables(spark):
    """PMI's unigram-count joins (w1, w2) and its scalar totals must all
    broadcast — the only corpus-sized stage is the token explode."""
    plan = _plan(QUERIES["text_pmi_collocations"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_time_weighted_avg_single_shuffle(spark):
    """TWA's lead-window and grouped agg both key on user_id: the events
    table crosses the wire exactly once."""
    plan = _plan(QUERIES["win_time_weighted_avg"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_doc_chunks_map_only(spark):
    """Chunking is pure map-side Catalyst: no exchange of any kind."""
    plan = _plan(QUERIES["pipeline_doc_chunks"](spark, SF_DIR))
    assert "Exchange" not in plan, plan[:3000]


def test_negative_pairs_broadcasts_catalog_and_pushes_topk(spark):
    """The item catalog and count join as broadcasts (never shuffling the
    user fan-out), the anti-join is key-partitioned (no cartesian), and the
    per-user top-3 is pushed below the final exchange (WindowGroupLimit)."""
    plan = _plan(QUERIES["sample_negative_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]
    assert "WindowGroupLimit" in plan, plan[:3000]


def test_shard_manifest_agg_single_exchange(spark):
    """The manifest agg over the re-read shards is one partial+final hash
    aggregate: a single |shards|-cardinality exchange, nothing corpus-wide."""
    plan = _plan(QUERIES["pipeline_shard_manifest"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "Exchange hashpartitioning(shard" in plan, plan[:3000]


def test_session_attribution_single_user_shuffle(spark):
    """The session window and the per-(user, session) attribution frames
    all refine the same user_id hash partitioning: the events table must
    cross the wire exactly once."""
    plan = _plan(QUERIES["events_session_attribution"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_matryoshka_and_importance_sample_map_only(spark):
    for qid in ("mm_embed_matryoshka", "sample_importance_downweight"):
        plan = _plan(QUERIES[qid](spark, SF_DIR))
        assert "Exchange" not in plan, (qid, plan[:2000])


def test_freshness_broadcasts_watermark(spark):
    """The corpus watermark is an aggregate of the tiny per-source table,
    broadcast back — never a second corpus scan or a shuffled join."""
    plan = _plan(QUERIES["dq_freshness"](spark, SF_DIR))
    assert "BroadcastExchange" in plan, plan[:3000]
    # the one corpus scan ran eagerly when the per-source table was
    # localCheckpointed; the final plan must reference only that RDD
    assert plan.count("FileScan") == 0, plan[:3000]
    assert "Scan ExistingRDD" in plan, plan[:3000]


def test_bootstrap_partial_agg_before_shuffle(spark):
    """The 32x Poisson expansion must be partial-aggregated map-side: one
    exchange carrying 32-group partial states, never the expanded rows."""
    plan = _plan(QUERIES["sample_bootstrap_ci"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    head, _, _ = plan.partition("Exchange hashpartitioning")
    assert "HashAggregate" in head, plan[:3000]
    assert "partial_sum" in plan, plan[:3000]


def test_asof_forward_single_user_shuffle(spark):
    """The forward as-of mirrors join_asof's union-merge: one hash
    exchange on the user key, never a range join."""
    plan = _plan(QUERIES["join_asof_forward"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning(user_id") <= 1, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_transition_ops_single_corpus_pass(spark):
    """The Markov-transition ops run the corpus exactly once.

    events_transition_matrix checkpoints the tiny pair-count table so the
    totals branch never re-runs the corpus window: its final plan must
    reference only the materialized RDD (zero file scans).

    rec_sequential_markov (r14) needs no checkpoint at all: per-item
    totals are a window SUM over the same partitioning the successor
    ranking needs, so the whole op is ONE linear pipeline — each corpus
    table scanned once, a single hashpartitioning(item) exchange feeding
    both windows, and the rank filter still prunes via WindowGroupLimit."""
    plan = _plan(QUERIES["events_transition_matrix"](spark, SF_DIR))
    assert plan.count("FileScan") == 0, plan[:2000]
    assert "Scan ExistingRDD" in plan, plan[:2000]

    plan = _plan(QUERIES["rec_sequential_markov"](spark, SF_DIR))
    assert "Scan ExistingRDD" not in plan, plan[:2000]
    assert plan.count("FileScan") == 2, plan[:2000]
    # the only shuffles: sequence window (u), pair aggregate, shared item
    # window — the former groupBy(item)+join-back pair is gone
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle == 3, (n_shuffle, plan[:3000])
    assert plan.count("hashpartitioning(item#") == 2, plan[:3000]
    assert "WindowGroupLimit" in plan, plan[:3000]


def test_quality_filter_zero_shuffle(spark):
    """The Gopher-rule filter claims a pure narrow map: all rules evaluate
    through higher-order functions, so NO exchange of any kind."""
    plan = _plan(QUERIES["pipeline_quality_filter"](spark, SF_DIR))
    assert "Exchange" not in plan, plan[:3000]


def test_interleave_shards_no_global_sort(spark):
    """The training-order manifest claims the global step is computed
    arithmetically: per-shard windows only (hash exchange on shard), the
    8-row size table broadcasts, and no SinglePartition exchange exists."""
    plan = _plan(QUERIES["pipeline_interleave_shards"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        plan[:3000]
    )


def test_correlated_subquery_decorrelates(spark):
    """Catalyst must rewrite the EXISTS into a semi/existence join and the
    scalar COUNT subquery into an aggregate-then-join — no per-row
    subquery execution node may survive."""
    plan = _plan(QUERIES["sql_correlated_subquery"](spark, SF_DIR))
    # no per-row subquery node of ANY flavor survives decorrelation
    assert "InSubquery" not in plan, plan[:3000]
    assert "ScalarSubquery" not in plan, plan[:3000]
    assert "SubqueryExec" not in plan, plan[:3000]
    # the EXISTS became a semi/existence join ...
    assert "LeftSemi" in plan or "ExistenceJoin" in plan, plan[:3000]
    # ... and the scalar COUNT became aggregate-then-outer-join: a count
    # aggregate keyed on the correlation key feeds a LeftOuter join
    assert "LeftOuter" in plan, plan[:3000]
    assert "count(1)" in plan and "HashAggregate" in plan, plan[:3000]
    agg_pos = plan.find("functions=[count(1)]")
    outer_pos = plan.find("LeftOuter")
    assert agg_pos != -1 and outer_pos != -1 and outer_pos < agg_pos, (
        "count aggregate must sit BELOW the outer join (plan prints "
        "top-down): " + plan[:3000]
    )


def test_quantile_binned_partial_agg_before_shuffle(spark):
    """The histogram sketch must partial-aggregate map-side: the first
    HashAggregate pair appears below the (flag, bin) exchange, so the
    shuffle carries |groups|x|bins| rows, not the table."""
    plan = _plan(QUERIES["agg_quantile_binned"](spark, SF_DIR))
    first_exchange = plan.find("Exchange hashpartitioning")
    first_agg = plan.find("HashAggregate")
    assert first_agg != -1 and first_exchange != -1
    # executedPlan prints top-down: the FINAL agg precedes the exchange,
    # and a partial agg must appear after (i.e. below) it
    assert "partial_count" in plan or "count" in plan, plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]


def test_user_user_broadcasts_sizes_and_pushes_topk(spark):
    """rec_user_user: basket sizes join UNHINTED onto the pair stream (a
    per-user table must not carry a forced broadcast hint — r12) but AQE
    must still broadcast them at fixture scale; the per-user top-3 prunes
    below the final exchange."""
    df = QUERIES["rec_user_user"](spark, SF_DIR)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    fplan = _final_plan(QUERIES["rec_user_user"](spark, SF_DIR))
    assert fplan.count("BroadcastHashJoin") >= 2, fplan[:3000]


def test_hop_tvf_expands_not_joins(spark):
    """win_hop_tvf: the 3x window assignment is an Expand projection plus
    ONE aggregate exchange — never a join against a window table."""
    plan = _plan(QUERIES["win_hop_tvf"](spark, SF_DIR))
    assert "Expand" in plan, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_set_similarity_join_never_quadratic(spark):
    """join_set_similarity: no cartesian/nested-loop node on EITHER path.
    The fixture's 31-token vocabulary routes the auto path to the bitset
    GEMM kernel — a map-only plan (MapInPandas, zero join operators);
    the forced web-scale path keeps the prefix-filtered equi-join shape
    with the vocabulary rank table broadcast."""
    auto = _plan(QUERIES["join_set_similarity"](spark, SF_DIR))
    assert "CartesianProduct" not in auto, auto[:3000]
    assert "BroadcastNestedLoopJoin" not in auto, auto[:3000]
    assert "MapInPandas" in auto, auto[:3000]
    # kernel path: probes ship via broadcast variable, the corpus streams —
    # no join operator of any kind in the plan
    assert "Join" not in auto, auto[:3000]

    from recommend_spark.queries.joins import _set_similarity_pairs

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("toks"),
    )
    forced = _plan(_set_similarity_pairs(docs, force_prefix_path=True))
    assert "CartesianProduct" not in forced, forced[:3000]
    assert "BroadcastNestedLoopJoin" not in forced, forced[:3000]
    assert "BroadcastHashJoin" in forced, forced[:3000]
    # the rarity order must never materialize through a global rank: a
    # no-partition window is a single-task sort over |vocab| (fails on a
    # web corpus's open vocabulary); ordering lives in the per-doc window
    assert "Exchange SinglePartition" not in forced, forced[:3000]


def test_ivm_upsert_merges_not_recomputes(spark):
    """pipeline_ivm_upsert: the maintained view comes from a full-outer
    key merge of view + delta partials (both pre-aggregated, so the merge
    join input is |keys|-sized, not |orders|-sized)."""
    plan = _plan(QUERIES["pipeline_ivm_upsert"](spark, SF_DIR))
    assert "FullOuter" in plan, plan[:3000]
    # both merge inputs are aggregates: partial+final pairs on each side
    assert plan.count("HashAggregate") >= 4, plan[:3000]


def test_cdc_apply_single_key_exchange(spark):
    """pipeline_cdc_apply: the op-log union + last-writer-wins rank cost
    exactly ONE key-hash exchange (the window's), like a GROUP BY key."""
    plan = _plan(QUERIES["pipeline_cdc_apply"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_concurrency_sweep_no_global_sort(spark):
    """events_concurrency: the sweep-line is day-partitioned, never a
    global single-partition sort; the midnight carry joins broadcast."""
    plan = _plan(QUERIES["events_concurrency"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_unicode_clean_zero_shuffle(spark):
    """text_unicode_clean claims a pure narrow map: no exchange at all."""
    plan = _plan(QUERIES["text_unicode_clean"](spark, SF_DIR))
    assert "Exchange" not in plan, plan[:3000]


def test_linear_forecast_no_join_for_horizon(spark):
    """ts_linear_forecast: the 7-step horizon is a generator over the
    |types|-row fit table — no join, no second corpus pass (one FileScan)."""
    plan = _plan(QUERIES["ts_linear_forecast"](spark, SF_DIR))
    assert "Join" not in plan, plan[:3000]
    assert "Generate explode" in plan, plan[:3000]
    assert plan.count("FileScan") == 1, plan[:3000]


def test_snapshot_diff_key_merge_only(spark):
    """dq_snapshot_diff: a co-partitioned full-outer key merge — never a
    cartesian — and the report collapses through a partial aggregate."""
    plan = _plan(QUERIES["dq_snapshot_diff"](spark, SF_DIR))
    assert "FullOuter" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]


def test_time_travel_reads_only_live_files(spark):
    """scan_time_travel: each snapshot is one scan over its LIVE file
    list — two snapshot reads, two FileScans, no data-movement nodes
    beyond the per-priority rollup."""
    plan = _plan(QUERIES["scan_time_travel"](spark, SF_DIR))
    assert plan.count("FileScan") == 2, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_dp_counts_partial_agg_before_release(spark):
    """pipeline_dp_counts: one partial-agg exchange to |types|x|days|
    rows; noise + suppression are row-local above it."""
    plan = _plan(QUERIES["pipeline_dp_counts"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]


def test_bpe_pairs_total_ordered_topk(spark):
    """pipeline_bpe_pairs: the top-20 is a total-ordered limit
    (TakeOrdered), and nothing in the plan is quadratic."""
    plan = _plan(QUERIES["pipeline_bpe_pairs"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_metadata_windows_sit_above_data_aggs(spark):
    """sample_neyman_alloc / events_survival_hazard use an unpartitioned
    window BY DESIGN — but only over the post-aggregate metadata table
    (|strata| / |weeks| rows).  The plan must show the SinglePartition
    exchange ABOVE the data-scale hash aggregate (executedPlan prints
    top-down), proving the corpus never funnels through one partition."""
    for qid in ("sample_neyman_alloc", "events_survival_hazard"):
        plan = _plan(QUERIES[qid](spark, SF_DIR))
        sp = plan.find("Exchange SinglePartition")
        hp = plan.find("Exchange hashpartitioning")
        assert sp != -1 and hp != -1, (qid, plan[:3000])
        assert sp < hp, (qid, plan[:3000])


def test_compaction_planner_partitioned_window(spark):
    """pipeline_compaction_planner: the prefix-sum window partitions on
    source — no single-partition funnel anywhere."""
    plan = _plan(QUERIES["pipeline_compaction_planner"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan, plan[:3000]


def test_spatial_grid_join_never_quadratic(spark):
    """join_spatial_grid: the 3x3 cell-neighborhood candidates arrive
    through an equi-join on cell keys — never a cartesian/nested-loop."""
    plan = _plan(QUERIES["join_spatial_grid"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan[:3000]


def test_sorted_runs_manifest_skips_files(spark):
    """layout_sorted_runs: the April-1995 range query must open exactly
    one band per run (4 files) out of the full layout — manifest
    skipping on a data column, where engine partition pruning cannot
    engage."""
    row = QUERIES["layout_sorted_runs"](spark, SF_DIR).collect()[0]
    assert row["files_read"] < row["files_total"], row
    assert row["files_read"] == 4, row
    assert row["n_rows"] > 0, row


def test_simhash_banding_is_equi_join(spark):
    """dedup_simhash's pair step is the 4x6-bit block banding equi-join
    (SCALE.md §5): the quadratic theta self-join is gone — candidates
    come from a hash-partitioned join on (block, value), so the plan may
    contain no cartesian/nested-loop node of any flavor."""
    plan = _plan(QUERIES["dedup_simhash"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan[:3000]


def test_broadcast_hints_are_size_gated(spark, monkeypatch):
    """Package-wide r12 rule: every explicit broadcast hint on a side that
    SCALES (dimension tables, per-entity aggregates, token-derived vocab)
    goes through io.hint_if with a static parquet-footer/file-size bound.
    Forcing the budget to zero must strip those hints from the optimized
    plans — leaving only the constant-bounded ones (nation/region,
    scalars, enum keys) — while fixture-scale plans keep them (the gate
    is a no-op below the budget, so bench plans are unchanged)."""
    import recommend_spark.io as io

    def hints(qid):
        return (
            QUERIES[qid](spark, SF_DIR)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
            .count("strategy=broadcast")
        )

    # (qid, number of gated hints expected to disappear)
    cases = [
        ("tpch_q9", 1),       # supplier (nation hint is constant-bounded)
        ("tpch_q18", 1),      # orders-derived big-order set
        ("text_tfidf_sql", 1),  # token-derived document-frequency table
        # fixture names are low-entropy -> cost route picks the BLOCK
        # path, whose probe side carries one gated hint
        ("er_name_match", 1),
    ]
    base = {q: hints(q) for q, _ in cases}
    monkeypatch.setattr(io, "BROADCAST_HINT_BUDGET", 0)
    for q, n_gated in cases:
        assert hints(q) == base[q] - n_gated, q


def test_er_block_routes_carry_length_band(spark):
    """r13: both block-family er routes must evaluate the free length band
    INSIDE the join condition (codegen short-circuits before the O(L^2)
    levenshtein), and the collapsed route must contain no cartesian —
    the re-expansion is two equi-joins on (nation, name)."""
    import pyspark.sql.functions as F

    from recommend_spark.queries.text import _er_name_pairs

    c = (
        spark.read.parquet(f"{SF_DIR}/customer.parquet")
        .select(
            F.col("c_custkey").alias("cust"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").alias("nk"),
            F.length("c_name").alias("ln"),
        )
    )
    for path in ("block", "block_collapsed"):
        plan = (
            _er_name_pairs(c, force_path=path)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # the band is a JOIN conjunct, not a post-join filter: the Join
        # node's own condition line must carry the abs() band, so codegen
        # rejects band-failing pairs before levenshtein ever runs
        join_lines = [
            ln for ln in plan.splitlines() if "Join" in ln and "abs(" in ln
        ]
        assert join_lines, (path, plan[:2000])
        assert "levenshtein" in plan, path
        assert "Cartesian" not in plan, (path, plan[:2000])


def test_tpch_q21_single_pass_qualify(spark):
    """r14 rewrite pin: the EXISTS/NOT-EXISTS qualify is a TWO-LEVEL
    aggregation sharing one l_orderkey exchange — no semi/anti joins
    between distinct pair sets, and no Expand (the r13 multi-distinct
    tripled fact rows through its first exchange; clean-window A/B
    showed 3.5 s vs 1.55 s at sf0.1).  Both groupBys plan exchange-free
    on the explicit repartition, so the fact shuffles exactly once."""
    plan = _plan(QUERIES["tpch_q21"](spark, SF_DIR))
    assert "Expand" not in plan, plan[:2000]
    assert "LeftSemi" not in plan, plan[:2000]
    assert "LeftAnti" not in plan, plan[:2000]
    # one hashpartitioning(l_orderkey) exchange feeds both aggregates
    import re

    n_orderkey_exch = len(
        re.findall(r"Exchange hashpartitioning\(l_orderkey", plan)
    )
    assert n_orderkey_exch == 1, (n_orderkey_exch, plan[:2000])
