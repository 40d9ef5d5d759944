"""Plan-quality gates for the entry queries: the physical properties we
designed for (broadcasted fixed-size dims, parquet filter pushdown, no
accidental cartesian products) must actually appear in the executed plan —
a correctness-of-scale test, complementing the value-level oracle parity.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    ["q5_local_supplier_volume", "q7_nation_trade_volume", "q9_product_type_profit"],
)
def test_nation_joins_broadcast(spark, name):
    # nation/region are fixed-size dims (25/5 rows at every SF): their joins
    # must be broadcast, never a shuffle of the fact side on the dim key
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name, pushed_fragment",
    [
        # date filters must reach the parquet scan as pushed predicates
        ("q6_revenue_delta", "PushedFilters: ["),
        ("q10_returned_item_reporting", "IsNotNull(l_returnflag)"),
        ("q4_late_shipment_priority", "GreaterThanOrEqual(o_orderdate"),
    ],
)
def test_filters_pushed_to_scan(spark, name, pushed_fragment):
    plan = _plan(spark, name)
    assert pushed_fragment in plan, plan


def test_scalar_subqueries_broadcast_not_collected(spark):
    # q15/q22 bring their 1-row aggregate in via BroadcastNestedLoopJoin /
    # BroadcastExchange — a driver .collect() would show neither
    for name in ["q15_top_supplier", "q22_inactive_customer_balance"]:
        plan = _plan(spark, name)
        assert "BroadcastExchange" in plan, plan


def test_tfidf_single_explode(spark):
    # the tf and df aggregations must share one Generate (explode) of the
    # token array, not re-tokenize per branch
    plan = _plan(spark, "text_tfidf_keywords")
    assert plan.count("Generate explode") <= 2, plan


def test_doc_packing_no_global_sort(spark):
    # packing windows per language stratum: the plan must hash-partition on
    # lang, never collapse to a single-partition global sort
    plan = _plan(spark, "doc_packing")
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(lang" in plan, plan


def test_ivf_assignment_is_projection_no_corpus_shuffle(spark):
    # r6 audit of the BENCH_r05 sim_topk_ivf regression: coarse assignment
    # and query probing are collected-centroid projections, so the ONLY
    # window (and its exchange) left is the final per-query top-k rank —
    # through r5 the plan had three windows, and the assignment one
    # hash-exchanged the whole corpus on vid.  Candidate generation must
    # broadcast the tiny probed-query side, never shuffle the corpus on
    # the n_centroids hot list ids.
    plan = _plan(spark, "sim_topk_ivf")
    assert plan.count("- Window ") == 1, plan  # "Window" alone matches WindowGroupLimit
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_text_repetition_shares_dedup_base(spark):
    # repetition ratio derives from normalized_docs: one exchange (the
    # tokenize barrier), zero joins/aggregations
    plan = _plan(spark, "text_repetition")
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_quantize_stats_broadcast_no_corpus_shuffle(spark):
    # the per-dim min/max codebook joins back to the exploded corpus as a
    # broadcast; a SortMergeJoin would shuffle the whole exploded frame on
    # dim (64 hot keys — the worst possible shuffle skew)
    plan = _plan(spark, "emb_quantize_int8")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mixture_takes_broadcast_single_rank_shuffle(spark):
    # the per-source take frame is tiny and must broadcast onto the corpus;
    # the only corpus-wide exchange is the per-source rank window
    plan = _plan(spark, "dataset_mixture_sample")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("hashpartitioning(source") <= 2, plan


def test_rollup_serve_prunes_partitions(spark):
    # both raw-edge scans must carry partition filters (the edges are O(r)
    # data only because the ts_date pruning holds), and the interior must
    # come from the rollup path, not a full raw re-scan
    plan = _plan(spark, "tsdb_rollup_serve")
    assert "PartitionFilters" in plan, plan
    assert "res=60" in plan, plan


def test_pii_scrub_projection_only_no_python(spark):
    # regex scan + redaction is a pure per-row projection: the only
    # exchange allowed is _docs()'s round-robin spread of the single
    # parquet file (no shuffle-by-key, no Python-eval node)
    plan = _plan(spark, "text_pii_scrub")
    assert "hashpartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_chunk_windows_generator_only(spark):
    # chunking explodes an index sequence computed arithmetically: one
    # Generate pipelined in the scan stage; no shuffle-by-key anywhere
    plan = _plan(spark, "doc_chunk_windows")
    assert "hashpartitioning" not in plan, plan
    assert "Generate explode" in plan, plan


def test_label_replace_no_single_partition(spark):
    # the label rewrite is a projection; both aggregations hash-partition
    # (10 derived shards still spread; never a 1-partition collapse)
    plan = _plan(spark, "tsdb_label_replace")
    assert "SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_quantile_collect_list_partial_mapside(spark):
    # discrete quantile aggregates collect_list partials map-side
    # (ObjectHashAggregate), never a per-group global sort exec
    plan = _plan(spark, "tsdb_quantile_over_time")
    assert "ObjectHashAggregate" in plan, plan


def test_quality_filter_mapside_agg_no_python(spark):
    # rule arithmetic is all Catalyst expressions; the only shuffles are
    # the tokenize barrier and the ten-key hash aggregation
    plan = _plan(spark, "text_quality_filter")
    assert "BatchEvalPython" not in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan


def test_binary_ratio_join_reuses_agg_partitioning(spark):
    # both selectors aggregate to the join key before joining: the join
    # itself adds no shuffle (broadcast at this SF; aligned partitioning
    # at scale) — 2 exchanges per side (grouped read + re-agg), max 4
    plan = _plan(spark, "tsdb_binary_ratio")
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    assert "Join" in plan, plan


def test_salted_stats_two_phase_spread(spark):
    # phase 1 must shuffle on (key, salt) — the hot key spread over 16
    # sub-reducers — before the per-key combine; no Python anywhere
    plan = _plan(spark, "events_salted_stats")
    assert "__salt" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_multiprobe_lsh_no_cartesian(spark):
    # multi-probe explodes the probe array on the (small) query side, then
    # joins the corpus on the bucket key: an equi-join, never a cartesian
    # product, and the corpus is scanned once
    plan = _plan(spark, "sim_topk_lsh_multiprobe")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_recall_rows_join_on_composite_key(spark):
    # the recall diagnostic joins exact and approximate top-k on
    # (query_id, neighbor_id): both tiny frames — any join strategy is
    # fine, but a cartesian would mean the key list got lost
    for name in ["sim_lsh_recall", "sim_ivf_recall"]:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, plan


def test_recall_exact_side_is_local_relation(spark):
    # the r7 shared-baseline change: the exact top-10 side of every
    # recall diagnostic is the memoized 100-row collected baseline as a
    # driver-local relation (plans as Scan ExistingRDD), the approximate
    # side broadcasts into the outer join, and the brute-force corpus
    # scan (a second ranking Window) must NOT appear in the recall plan
    for name in ["sim_lsh_recall", "sim_pq_recall", "sim_matryoshka_recall"]:
        plan = _plan(spark, name)
        assert "Scan ExistingRDD" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        # "Window [" matches the exec node, not WindowGroupLimit
        assert plan.count("Window [") <= 1, plan


def test_pq_adc_single_python_stage_then_topk(spark):
    # ADC scoring runs inside mapInPandas (ArrowEvalPython-free: mapInPandas
    # plans as MapInPandas/FlatMapGroupsInPandas nodes); the ranking window
    # is the only shuffle and consumes the per-batch pre-reduced stream
    plan = _plan(spark, "sim_pq_adc_topk")
    assert "BatchEvalPython" not in plan, plan  # no row-at-a-time Python
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ch_read_parallel_one_row_per_task(spark):
    # the range frame must keep its parallelize() placement (one range per
    # partition): a repartition/exchange would allow ranges to co-locate
    # and serialize fetches
    from remote_tsdb_clickhouse_spark.sources.clickhouse import ClickHouseStore

    def empty_http(url, payload=None, headers=None):
        import json as _json

        if "min(updated_at)" in url or "min%28updated_at%29" in url:
            return (_json.dumps({"mn": 0, "mx": 639, "n": 640}) + "\n").encode()
        return b""

    store = ClickHouseStore(spark, table="metrics.samples", http=empty_http)
    df = store.read_parallel(num_splits=8)
    assert df.rdd.getNumPartitions() == 8
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

@pytest.mark.parametrize(
    "name, region_const",
    [
        ("q2_min_cost_region", "EqualTo(r_name,EUROPE)"),
        ("q20_promotable_suppliers", "EqualTo(r_name,EUROPE)"),
        ("q21_waiting_suppliers", "EqualTo(r_name,ASIA)"),
    ],
)
def test_tpch_completion_dims_broadcast_filters_pushed(spark, name, region_const):
    # the nation⋈region chain must broadcast (fixed 25/5 rows at every SF)
    # and the region/part/status constants must reach the parquet scans
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan, plan
    assert region_const in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q11_scalar_total_no_double_fact_scan(spark):
    # the 1-row nation total must come from the persisted per-part
    # aggregate (InMemoryTableScan), not a second scan of lineitem; the
    # total itself arrives by broadcast, never a driver collect
    # (the plan text repeats the cached relation's body under each
    # InMemoryTableScan, so count the cache reads, not the file mentions)
    plan = _plan(spark, "q11_important_parts")
    assert plan.count("InMemoryTableScan") == 2, plan
    assert "BroadcastExchange" in plan, plan


def test_q20_date_and_name_filters_pushed(spark):
    # scan pruning: the 1997 window and the small% prefix must be pushed
    plan = _plan(spark, "q20_promotable_suppliers")
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in plan, plan
    assert "StringStartsWith(p_name,small)" in plan, plan


def test_bloom_broadcast_probe_no_shuffle_join(spark):
    # the Bloom set-bit side is bounded by the filter size (<= m rows):
    # its join onto the probe stream must be broadcast, never a shuffle
    # of the probe side on the bit key
    plan = _plan(spark, "dedup_bloom")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_vocab_global_topk_is_heap_not_sort(spark):
    # the corpus-wide top-100 cut must plan as TakeOrderedAndProject
    # (per-partition heaps merged once), not a global Sort of all terms
    plan = _plan(spark, "text_vocab")
    assert "TakeOrderedAndProject" in plan, plan


def test_shuffle_shards_single_partition_free(spark):
    # the deterministic shuffle ranks within hash shards only — there
    # must be no single-partition global window (Exchange SinglePartition
    # feeding a Window would serialize the corpus through one task)
    plan = _plan(spark, "dataset_shuffle_shards")
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_offset_ratio_equi_join_no_cartesian(spark):
    # the day-over-day self-join is an equi-join on (series, hour)
    plan = _plan(spark, "tsdb_offset_ratio")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_matryoshka_corpus_never_moves(spark):
    # truncated-dim brute force keeps the brute-force shape: queries are
    # broadcast, the corpus side joins with zero shuffle
    plan = _plan(spark, "sim_matryoshka_topk")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_stddev_over_time_mapside_partial_agg(spark):
    # one hash aggregation with a map-side partial (two HashAggregate
    # nodes around one exchange), no window operator
    plan = _plan(spark, "tsdb_stddev_over_time")
    assert plan.count("HashAggregate") >= 2, plan
    assert "Window" not in plan, plan


def test_bucketed_join_zero_exchange_zero_sort(spark):
    # both fact sides are 16-bucket tables bucketed on the join key: when
    # the planner picks a sort-merge join (as it would for two tables too
    # big to broadcast — forced here by disabling the auto-broadcast that
    # sf-scale aggregates otherwise trigger), the write-time layout must
    # remove the shuffles entirely (the in-partition Sorts remain: Spark
    # no longer derives scan ordering from sorted buckets without the
    # legacy flag, and a sort of pre-sorted in-bucket data is the cheap
    # part — the shuffles are the 100 TB cost)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "events_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_bigram_lm_single_explode_window(spark):
    # r21: the LM table + scoring join became a count-window over the
    # exploded bigrams (one `bg` shuffle total) and the scalar total is a
    # tokenize+sum job with no explode.  r22: the scalar total stopped
    # being an eager first() at plan-build time — it is now a 1-row
    # aggregate attached with a broadcast cross-join, so the whole query
    # is ONE lazy plan.  The runtime plan must carry exactly ONE Generate,
    # one Window, the single 1-row BroadcastNestedLoopJoin (the scalar
    # attach — never a shuffled join), and no cached LM relation.
    plan = _plan(spark, "text_bigram_lm")
    assert plan.count("Generate") == 1, plan
    assert "Window" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rollup_hierarchy_routes_to_coarsest(spark):
    # the 2h-downsample read must serve its interior from the 1h rollup
    # (res=3600), not the 1min one, and prune partitions on the edges
    plan = _plan(spark, "tsdb_rollup_hierarchy")
    assert "res=3600" in plan, plan
    assert "res=60/" not in plan, plan
    assert "PartitionFilters" in plan, plan


def test_bucketed_agg_zero_exchange(spark):
    # aggregation on the bucket key of the daily-grain bucketed table:
    # the scan's bucketing satisfies the distribution requirement, so no
    # Exchange appears anywhere in the plan
    plan = _plan(spark, "events_bucketed_agg")
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan


def test_market_basket_no_fact_self_join(spark):
    # r6 rewrite: per-order collect_set + array-HOF pair expansion — the
    # plan must contain NO join at all (the old shape self-joined the
    # lineitem fact on orderkey and shuffled it twice), just the basket
    # aggregation, the pair explode, and the support aggregation
    plan = _plan(spark, "orders_market_basket")
    assert "Join" not in plan, plan
    assert "Generate explode" in plan, plan


def test_containment_plain_route_single_index_scan_shape(spark):
    # the guarded containment path on this corpus (max df ~25 < df_cap)
    # must take the plain inverted-index route: one self-join of the
    # persisted exploded index (InMemoryTableScan on both sides once the
    # family cache is built) and the directed fan-out as ONE explode —
    # a union of two projections would show two aggregation subtrees
    plan = _plan(spark, "dedup_containment")
    assert "Union" not in plan, plan
    assert "Generate explode" in plan, plan


def test_doc_stats_column_pruned_single_shuffle(spark):
    # the corpus profile reads exactly the three needed columns of the
    # documents table (text/embedding-free scan — at 100 TB the payload
    # columns dominate bytes) and combines map-side: one hash exchange
    plan = _plan(spark, "doc_stats_by_source")
    assert "partial_count" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "n_chars" in plan and "text:string" not in plan, plan


def test_lapsed_customers_pruned_pushed_one_shuffle(spark):
    # both EXCEPT branches must push their year range into the parquet
    # scan and prune to (o_custkey, o_orderdate) before the distinct
    # shuffle; the subtract itself joins broadcast at this SF
    plan = _plan(spark, "customers_lapsed")
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate,1997-01-01" in plan, plan
    assert "o_totalprice" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_dataset_split_mapside_membership(spark):
    # split membership is pure Catalyst expression work (md5/conv/when)
    # over a two-column pruned scan: no Python, no join, and only the
    # final (split, lang) aggregation shuffles
    plan = _plan(spark, "dataset_split")
    assert "BatchEvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q1_single_shuffle_pruned_pushed(spark):
    # the heaviest TPC-H scan in the suite: a 7-column pruned lineitem
    # read with the shipdate bound pushed, map-side partial aggregation,
    # and exactly the one (returnflag, linestatus) exchange — at 100 TB
    # everything besides that exchange is embarrassingly parallel
    plan = _plan(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan, plan
    assert "l_comment" not in plan and "l_orderkey" not in plan, plan
    assert "partial_sum" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_dedup_lines_three_linear_shuffles(spark):
    # CCNet-style line dedup is documented as 3 linear shuffles (line-hash
    # agg, doc reassembly, stats) plus one broadcast of the duplicate-hash
    # set — no sort-merge join and nothing quadratic may creep in
    plan = _plan_cold(spark, "dedup_lines")
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def _plan_cold(spark, name: str) -> str:
    """Plan with the cache cleared first: plans that can reuse the dedup
    family's shared persisted frames print the cached subtree's plan inside
    every InMemoryTableScan, so node COUNTS are only deterministic on the
    cold shape.

    Since r21 the entry session-memoizes the dedup family's DataFrame
    OBJECTS (plan reuse, not result reuse), and a memoized DataFrame
    carries its first QueryExecution — if that plan already EXECUTED, its
    string embeds every nested AQE-final cached-stage dump, inflating node
    counts far past the cold shape.  Drop the per-session plan memo along
    with the cache so the build is genuinely cold, which is exactly the
    shape a fresh driver session plans and executes."""
    spark.catalog.clearCache()
    table_memo = getattr(entrymod, "_TABLE_CACHE", None)
    if table_memo is not None:
        table_memo.pop(spark, None)
    return _plan(spark, name)


def test_minhash_lsh_all_joins_are_equi(spark):
    # the LSH pair generation must stay a band-key equi-join (hash or
    # sort-merge are both fine at scale); a cartesian or broadcast
    # nested-loop join would mean the banding degenerated to all-pairs
    plan = _plan_cold(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # shingle explode + signature build: bounded generates, no Python
    assert plan.count("Generate explode") <= 6, plan
    assert "BatchEvalPython" not in plan, plan


def test_dedup_incremental_no_quadratic_join(spark):
    # probing the 16-int signature index must be equi-join shaped end to
    # end; the corpus side is never nested-loop scanned per new doc
    plan = _plan(spark, "dedup_incremental")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_simhash_banded_two_shuffles(spark):
    # pigeonhole banding: fingerprint build + band-bucket join with at
    # most two hash exchanges — a blowup here means the banding stopped
    # pre-bucketing candidates and the pair join went wide
    plan = _plan_cold(spark, "dedup_simhash")
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Generate explode") <= 4, plan


def test_ivf_recall_single_window_no_corpus_shuffle(spark):
    # same contract as sim_topk_ivf, through the recall diagnostic: the
    # IVF serving path keeps centroid assignment as a collected-centroid
    # projection (one final top-k Window) and joins the broadcast exact
    # baseline — no cartesian, no second window over the corpus
    plan = _plan(spark, "sim_ivf_recall")
    assert plan.count("- Window ") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_multimodal_zero_shuffle_arrow_only(spark):
    # decode/feature-extract is embarrassingly parallel: one Arrow-batched
    # MapInPandas over the scan (two when a sampler chains onto a decoder),
    # zero exchanges, and never a row-at-a-time Python node — at 100 TB the
    # media bytes must stay in place
    for name, n_nodes in [("multimodal_features", 1), ("multimodal_frame_sample", 2)]:
        plan = _plan_cold(spark, name)
        assert plan.count("MapInPandas") == n_nodes, plan
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan, plan


def test_asof_join_is_union_and_scan(spark):
    # the as-of join is a union of tagged sides + one partitioned window
    # scan — there must be NO join operator (a range join would explode at
    # scale) and at most the two hash exchanges (union partitioning + agg)
    for name in ["events_asof_click", "events_asof_next"]:
        plan = _plan_cold(spark, name)
        assert "Join" not in plan, plan
        assert plan.count("- Window ") == 1, plan
        assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_tokenize_chain_staged_once(spark):
    # r21: the regexp tokenize chain carries lambda variables, which
    # codegen subexpression elimination skips — so consumers materialize
    # it once in a lower projection.  A count above the pinned bound means
    # CollapseProject re-inlined it (per-row tokenize blowup: 9x measured
    # on text_fingerprint before the staging).  doc_chunk_texts carries
    # two extra copies from its pushed-down n_tokens>32 filter (the
    # Filter node plus the scan's DataFilters echo of the same predicate).
    needle = "split(lower(regexp_replace(text"
    for name, bound in [
        ("text_fingerprint", 1),
        ("text_quality", 1),
        ("doc_chunk_windows", 1),
        ("doc_chunk_texts", 3),
    ]:
        plan = _plan_cold(spark, name)
        assert plan.count(needle) <= bound, (name, plan)


def test_fingerprint_projection_only(spark):
    # rolling-hash fingerprinting is pure expression work over a pruned
    # scan: no shuffle-by-key (only _docs()'s round-robin spread of the
    # single parquet file), zero Python, zero joins
    plan = _plan_cold(spark, "text_fingerprint")
    assert "hashpartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Join" not in plan, plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    # the 13-gram shingle equi-join must broadcast the (small) benchmark
    # side; a cartesian or nested-loop fallback means the equi-keys were
    # lost and the overlap check went all-pairs
    plan = _plan_cold(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_no_cartesian_or_unlisted_bnlj_anywhere(spark):
    """Global scale-safety net over the ENTIRE query surface: no query's
    executed plan may contain a CartesianProduct, and
    BroadcastNestedLoopJoin is allowed only for the queries where it is
    the designed plan — a 1-row scalar-subquery broadcast (q11/q22's
    HAVING thresholds, tf-idf's corpus doc count, the funnel's step-1
    total, minhash_recall's ground-truth count) or a broadcast of the
    bounded k-query-vector side against the corpus (the top-k family).
    The per-query gates above pin individual shapes; this sweep catches
    a quadratic join sneaking into ANY of the other ~150 queries, where
    at 100 TB it would be the difference between an equi-join shuffle
    and an unrunnable cross product."""
    BNLJ_OK = {
        # broadcast k query vectors x corpus (bounded small side, by design)
        "sim_topk_filtered", "sim_topk_bruteforce",
        "sim_matryoshka_topk", "sim_matryoshka_recall",
        # 1-row scalar aggregate broadcast into every row
        "q11_important_parts", "q22_inactive_customer_balance",
        "text_tfidf_keywords", "events_funnel", "dedup_minhash_recall",
        "text_bigram_lm",  # r22: corpus bigram total, was an eager first()
    }
    # Python execution nodes: row-at-a-time BatchEvalPython is forbidden
    # everywhere (10-100x slower than Arrow batches); the Arrow-batched
    # nodes (MapInPandas / FlatMapGroupsInPandas) are designed into
    # exactly these families — PQ/IVF-PQ gather kernels, the multimodal
    # codecs, the ClickHouse HTTP reader, and the embedding-cosine pair
    # generators — and must not silently spread to JVM-expressible queries.
    ARROW_OK_PREFIXES = ("sim_", "multimodal_", "dedup_embedding_cosine", "ch_pushdown")
    violations = {}
    for name in entrymod.queries():
        plan = _plan(spark, name)
        hits = [n for n in ("CartesianProduct", "BatchEvalPython") if n in plan]
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            hits.append("BroadcastNestedLoopJoin")
        if (
            "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan
        ) and not name.startswith(ARROW_OK_PREFIXES):
            hits.append("unexpected Arrow-Python node")
        if hits:
            violations[name] = hits
    assert not violations, violations


@pytest.mark.parametrize("step_ms", [0, 60000], ids=["raw", "hinted"])
def test_read_query_df_one_series_exchange(spark, samples_df, step_ms):
    # the /read plan: the grouped max and the O2 series assembly share one
    # hash exchange on the series key, at raw and at hinted resolution, and
    # nothing range-partitions (the series order is the driver's job)
    from remote_tsdb_clickhouse_spark.plans.matchers import LabelMatcher, MatcherType
    from remote_tsdb_clickhouse_spark.plans.read_plan import (
        ReadHints,
        ReadQuery,
        downsample_interval_seconds,
        read_query_df,
    )

    hints = ReadHints(step_ms=step_ms)
    assert (downsample_interval_seconds(hints) is None) == (step_ms == 0)
    q = ReadQuery(
        start_ms=1704067200000,
        matchers=(LabelMatcher(MatcherType.RE, "__name__", "go_.*"),),
        hints=hints,
    )
    plan = read_query_df(samples_df, q)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(metric_name") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" not in plan, plan
