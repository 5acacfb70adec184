"""Physical-plan invariants — the scale design, frozen as assertions.

These guard the properties SCALE.md argues from: filters reach parquet
scans, dimensions broadcast, single-shuffle operators stay single-
shuffle, and no plan regresses to a sort-merge join where a broadcast
was intended. A refactor that silently breaks one of these would still
pass the value oracles (correctness is partition-independent) — this
file is what catches it.
"""

import re

import pytest

from mapreducegcp_spark.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"


def _plans(spark, name):
    df = all_queries()[name].fn(spark, SF_DIR)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.executedPlan().toString(), qe.explainString(mode)


def _exchanges(tree: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning", tree))


def _pushed(formatted: str) -> int:
    return sum(
        1
        for m in re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
        if m.strip()
    )


# (query, max hash exchanges, min broadcast joins, sort-merge allowed)
SHAPE = [
    ("wordcount", 1, 0, False),
    ("inverted_index", 1, 0, False),
    ("dedup_exact", 1, 0, False),
    ("sessionize_events", 1, 0, False),
    ("asof_join_last_click", 1, 0, False),
    ("split_train_val_test", 0, 0, False),
    ("tpch_q7_nation_volume", 3, 4, False),
    ("join_nation_revenue", 3, 2, False),
    # training-batch assembly: pack/shard/centroid are single-shuffle
    # (groupBy reuses the window's/nothing else's partitioning);
    # rarity joins the vocab back as broadcasts only
    ("pack_sequences", 1, 0, False),
    ("shard_assign_fingerprint", 1, 0, False),
    ("embedding_label_centroids", 1, 0, False),
    ("text_rarity_score", 2, 1, False),
    ("text_pii_scrub", 0, 0, False),
    ("sample_mixture_weights", 1, 0, False),
    ("agg_correlation", 1, 0, False),
    ("window_range_interval", 1, 0, False),
    # round-2 surface: CDC/SCD2/funnel/TWA/transitions are single- or
    # two-exchange window/agg compositions; anomaly + repetition join
    # their small derived tables back as broadcasts; MERGE's full
    # outer join is legitimately sort-merge (broadcast cannot do full
    # outer); the JL projection is map-only
    ("funnel_view_click_purchase", 1, 0, False),
    ("scd2_intervals", 1, 0, False),
    ("time_weighted_avg", 1, 0, False),
    ("event_transitions", 2, 0, False),
    ("cohort_retention", 3, 1, False),
    ("events_anomaly_zscore", 1, 1, False),
    ("text_repetition_filter", 2, 1, False),
    ("text_unigram_xent", 6, 1, False),
    ("agg_mode", 2, 0, False),
    ("agg_histogram_bins", 1, 0, False),
    ("embedding_normalize_project", 0, 0, False),
    ("merge_upsert_orders", 2, 0, True),
    ("fuzzy_join_part_names", 2, 1, False),
    ("dedup_lines_corpuswide", 2, 0, False),
    ("unpivot_lineitem_measures", 0, 0, False),
    ("hard_negative_mining", 1, 0, False),
    ("agg_approx_quantiles_tol", 3, 2, False),
    # sketch operators: MAD broadcasts the 5-row medians back; the HLL
    # union is daily-sketch agg + union agg + exact distinct (expands
    # to two-level) joined broadcast; bloom join is frozen separately
    ("agg_mad", 2, 1, False),
    ("agg_hll_partitioned_union", 4, 1, False),
    # OHLC is one grouped agg (min_by/max_by, no window); nearest-asof
    # reuses one user_id exchange+sort for both window directions
    ("timeseries_ohlc_downsample", 1, 0, False),
    ("asof_join_nearest", 1, 0, False),
    # weighted median: window exchange reused by same-key groupBy;
    # trigram search: posting agg + broadcast candidate verify
    ("agg_weighted_median", 2, 0, False),
    ("search_trigram_index", 1, 1, False),
    # phash near-dup: one (segment, key) probe/index shuffle pair for
    # the 1-flip multi-index join + the survivor distinct; payloads
    # reduce to a 60-bit long before anything wide
    ("multimodal_phash_near_dup", 3, 0, False),
    # full corpus->manifest pipeline: dedup window + packing window;
    # the final rollup reuses the packing partitioning
    ("pipeline_corpus_to_manifest", 2, 0, False),
    # gaps-and-islands: both rank windows + the run rollup share one
    # user_id exchange
    ("events_run_length_islands", 1, 0, False),
    # path trigrams: double-lead window + tiny rollup, no joins
    ("event_path_trigrams", 2, 0, False),
    # EWMA: one user_id shuffle into sorted arrays, fold in codegen
    ("events_ewma_fold", 1, 0, False),
    # layout operators: global rownum's only hash exchange is the
    # 16-row pid count (data rides range partitioning + a broadcast
    # offset join); z-order and quantile binning are one rollup each;
    # the interval join equi-joins on bucket (broadcast at sf0.001)
    ("order_global_rownum", 1, 1, False),
    # IVM merge: one delta partial agg + one merge agg (the historical
    # partial is materialized before the plan under test)
    ("ivm_incremental_agg", 2, 0, False),
    ("layout_zorder_cluster", 1, 0, False),
    # round 12: cutpoints moved off the percentile aggregate (whose
    # merge is one task holding every distinct value) onto the
    # histogram + two-phase global-cumsum machinery — the extra
    # exchanges are histogram/offset-table-sized (distinct values and
    # 16 rows), and the offsets come back as a broadcast join; the
    # data-sized stages remain the scan and one bin rollup
    ("feature_quantile_bins", 8, 1, False),
    ("interval_bucket_join", 1, 1, False),
    # round-3: two-window decomposition (user+type flag, user runsum);
    # drift check is percentile-cutpoint broadcast + one bin rollup
    ("window_cumulative_distinct", 2, 0, False),
    ("dq_distribution_drift", 2, 0, False),
    # funnel: all flags map-side, 4 single-partition aggs, zero hash
    # exchanges; vocab overlap: distinct + sizes + pair rollup
    ("pipeline_filter_funnel", 0, 0, False),
    ("text_source_vocab_overlap", 3, 2, False),
]


@pytest.mark.parametrize("name,max_ex,min_bhj,smj_ok", SHAPE)
def test_plan_shape(spark, name, max_ex, min_bhj, smj_ok):
    tree, _ = _plans(spark, name)
    assert _exchanges(tree) <= max_ex, f"{name}: too many shuffles\n{tree[:2000]}"
    assert tree.count("BroadcastHashJoin") >= min_bhj, name
    if not smj_ok:
        assert "SortMergeJoin" not in tree, f"{name}: unexpected sort-merge join"


def test_q6_filters_reach_the_scan(spark):
    _, formatted = _plans(spark, "tpch_q6_forecast_revenue")
    assert _pushed(formatted) >= 1
    # all three predicates present among the pushed filters
    for frag in ["l_shipdate", "l_discount", "l_quantity"]:
        assert re.search(rf"PushedFilters: \[[^\]]*{frag}", formatted), frag


def test_q6_column_pruning(spark):
    _, formatted = _plans(spark, "tpch_q6_forecast_revenue")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", formatted)
    assert schemas and all(len(s.split(",")) <= 4 for s in schemas), schemas


def test_wordcount_scans_one_column(spark):
    _, formatted = _plans(spark, "wordcount")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", formatted)
    assert schemas and all(len(s.split(",")) == 1 for s in schemas), schemas


def test_sessionize_rollup_reuses_window_exchange(spark):
    # window partition (user_id) + rollup on (user_id, session_id):
    # Catalyst must plan ONE exchange, not two
    tree, _ = _plans(spark, "sessionize_events")
    assert _exchanges(tree) == 1, tree[:2000]


@pytest.mark.parametrize(
    "name", ["dedup_embedding_cosine", "similarity_nearest_neighbor"]
)
def test_exact_pair_operators_build_lazily(spark, name):
    # The exact-pair operators' BLAS prefilter must be fully distributed:
    # CONSTRUCTING the plan may not launch a Spark job (the old design
    # collected the whole embeddings table to the driver at build time),
    # and the executed plan may not contain a driver-side collect node.
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    df = all_queries()[name].fn(spark, SF_DIR)
    after = set(tracker.getJobIdsForGroup())
    for job_id in after - before:
        # the only permissible construction-time job is the parquet
        # footer/schema read (1 task); a driver-side collect of the
        # corpus (the old design) shows up as a multi-task collect job
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            assert stage is None or (
                "parquet at" in stage.name and stage.numTasks == 1
            ), f"{name}: construction launched {stage.name} ({stage.numTasks} tasks)"
    tree = df._jdf.queryExecution().executedPlan().toString()
    # the pair space is narrowed by a distributed block join, visible as
    # the FlatMapGroupsInPandas (applyInPandas) stage over (gi, gj)
    assert "FlatMapGroupsInPandas" in tree, tree[:2000]


def test_cdc_latest_snapshot_partial_agg(spark):
    """CDC compaction must be an aggregate with a map-side partial pass
    (shuffle moves O(keys) rows), not a row_number window (full sort of
    O(rows))."""
    tree, _ = _plans(spark, "cdc_latest_snapshot")
    assert _exchanges(tree) <= 1, tree[:2000]
    assert "partial_max" in tree, "expected map-side partial aggregation"
    assert "Window" not in tree, "CDC compaction regressed to a window plan"


def test_bucketed_join_no_exchange_before_smj(spark):
    """The bucketed co-located join's SMJ must consume bucketed scans
    directly: the only exchange allowed is the final group rollup."""
    tree, _ = _plans(spark, "join_bucketed_colocated")
    assert "SortMergeJoin" in tree, tree[:2000]
    join_part = tree[tree.index("SortMergeJoin"):]
    assert "Exchange" not in join_part, (
        "exchange below the join — bucketing not picked up\n" + join_part[:2000]
    )
    assert tree.count("Bucketed: true") == 2, "scans are not bucketed"
    assert _exchanges(tree) <= 1, tree[:2000]


def test_sq8_candidate_prune_shape(spark):
    """SQ8: the scale pass is a 64-group partial aggregation and the
    candidate scan ranks by integer dot — no sort-merge join, queries
    broadcast."""
    tree, _ = _plans(spark, "similarity_sq8_topk")
    assert "SortMergeJoin" not in tree
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree, tree[:1500]


def test_bloom_prefilter_reaches_scan_stage(spark):
    """join_bloom_prefilter: the Bloom membership predicate is a pure
    Catalyst expression, so it must sit in the lineitem scan stage
    (before the join's Exchange), and the sketch must add no extra
    shuffle — the plan keeps the plain join's shape with the fact side
    pre-pruned."""
    tree, _ = _plans(spark, "join_bloom_prefilter")
    assert "xxhash64" in tree, "bloom predicate compiled out of the plan"
    # predicate evaluated in a Filter, not via any Python eval node
    assert "BatchEvalPython" not in tree
    assert "SortMergeJoin" not in tree


def test_pq_adc_scan_is_jvm_side(spark):
    """PQ raw plan: encode/LUT are the only Arrow stages; the ADC
    candidate scoring itself (aggregate over codes) must be pure
    Catalyst — no row-at-a-time Python, queries broadcast, no SMJ.
    (Asserted on the raw plan — the registered similarity_ann_pq is
    the recall gate wrapping it.)"""
    from mapreducegcp_spark.operators.similarity import q_similarity_ann_pq

    df = q_similarity_ann_pq(spark, SF_DIR)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in tree
    assert "SortMergeJoin" not in tree
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree


def test_chunking_is_shuffle_free(spark):
    """chunk_text_sliding: tokenize -> sequence -> explode -> slice is
    narrow end to end; any Exchange here would be a regression."""
    tree, _ = _plans(spark, "chunk_text_sliding")
    assert _exchanges(tree) == 0, tree[:1500]
    assert "Exchange rangepartitioning" not in tree


def test_countmin_sketch_shape(spark):
    """agg_countmin_heavyhitters: the CMS table (<= d*w rows) must come
    back as a BROADCAST to the candidate probe, and the whole plan
    carries no sort-merge join."""
    tree, _ = _plans(spark, "agg_countmin_heavyhitters")
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_basket_affinity_reuses_cached_baskets(spark):
    """basket_pair_affinity: the basket table is materialized once
    (eager localCheckpoint — the naive re-derivation per consumer cost
    8 exchanges) and all three consumers read the checkpointed RDD
    (Scan ExistingRDD), leaving NO hash exchange from the original
    scan+agg in the final plan; frequencies/order-count return as
    broadcasts, no sort-merge join."""
    tree, _ = _plans(spark, "basket_pair_affinity")
    assert tree.count("Scan ExistingRDD") >= 3, tree[:1500]
    # only downstream rollups (pairs, freq, support filter) shuffle;
    # the basket build's exchange is gone from the plan entirely
    assert _exchanges(tree) <= 3, tree[:1500]
    assert "SortMergeJoin" not in tree
    assert tree.count("BroadcastHashJoin") >= 2


def test_fixed_k_sample_is_takeordered(spark):
    """The exactly-k hash sample must compile to TakeOrderedAndProject
    (per-partition k-heaps + driver merge), never a global Sort."""
    tree, _ = _plans(spark, "sample_uniform_fixed_k")
    assert "TakeOrderedAndProject" in tree, tree
    assert "Sort [" not in tree, tree


def test_k_anonymity_broadcasts_dim_single_shuffle(spark):
    """The audit is one aggregation: nation broadcast, exactly one
    hash exchange (the quasi-identifier groupBy)."""
    tree, fmt = _plans(spark, "dq_k_anonymity")
    assert "BroadcastHashJoin" in tree, tree
    assert _exchanges(tree) == 1, tree


def test_native_session_window_single_shuffle(spark):
    """session_window aggregation = partial merge map-side + one
    user_id exchange — no window-function sort cascade."""
    tree, _ = _plans(spark, "sessionize_native_window")
    assert _exchanges(tree) == 1, tree


def test_pattern_match_single_shuffle(spark):
    """Journey building + regex count is one groupBy(user) — a single
    exchange, no joins."""
    tree, _ = _plans(spark, "events_pattern_match")
    assert _exchanges(tree) == 1, tree
    assert "Join" not in tree, tree


def test_bigram_xent_no_forced_broadcast_of_bigram_table(spark):
    """The bigram probability table scales with the corpus, so the
    query must NOT pin it with a broadcast hint — the only hint
    allowed is the 1-row vocab count. (At test scale Catalyst still
    auto-broadcasts from size estimates, which is correct adaptivity;
    the invariant is that the PLANNER stays free to pick a shuffle
    join when the estimate exceeds the threshold at real scale.)"""
    from mapreducegcp_spark.registry import all_queries

    df = all_queries()["text_bigram_xent"].fn(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    import re as _re

    hints = _re.findall(r"ResolvedHint \(strategy=broadcast\)", analyzed)
    assert len(hints) == 1, analyzed[:3000]


def test_curriculum_cutpoints_not_window(spark):
    """curriculum_length_phases: phase assignment must come from the
    broadcast grouped-percentile cutpoints, NEVER a per-language
    window sort (which funnels each language through one task). No
    Window node, cutpoints broadcast, no SMJ."""
    tree, _ = _plans(spark, "curriculum_length_phases")
    assert "Window" not in tree, tree[:1500]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_ngram_novelty_single_shingle_exchange(spark):
    """text_ngram_novelty: the min-per-shingle rollup and the shingle
    join must share ONE hash partitioning on shingle (exchange reuse),
    plus the final doc rollup — at most 3 hash exchanges total, and
    the shingle join must not degrade to a broadcast of the
    corpus-sized firsts table... it may auto-broadcast at test scale,
    so assert only the exchange budget and no Python eval."""
    tree, _ = _plans(spark, "text_ngram_novelty")
    assert _exchanges(tree) <= 3, tree[:1500]
    assert "BatchEvalPython" not in tree


def test_temperature_fold_is_bounded_state(spark):
    """sample_temperature: the sqrt normalizer folds over a
    collect_list bounded by source cardinality; the corpus-sized
    stages are one partial-aggregated rollup. Assert the final
    cross join is a broadcast (1-row totals), no SMJ anywhere."""
    tree, _ = _plans(spark, "sample_temperature")
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def _window_lines(tree: str) -> list[str]:
    """Physical-plan lines containing a Window node (every such line
    also carries its windowspecdefinition(...) ordering columns)."""
    return [l for l in tree.splitlines() if "Window [" in l]


def test_rfm_segments_no_ntile_window(spark):
    """customer_rfm_segments: quintile scoring must come from the
    two-phase global rownum + closed-form ntile arithmetic, never the
    three unpartitioned ntile(5) windows (single-task triple sort of
    the per-customer table). The ONLY Window allowed in the plan is
    the helper's 16-row pid-offsets prefix sum — its spec orders by
    the pid column, so asserting `pid#` on every Window line rejects
    any data-column (last_order/frequency/monetary) window."""
    tree, _ = _plans(spark, "customer_rfm_segments")
    assert "ntile" not in tree, tree[:1500]
    lines = _window_lines(tree)
    assert lines, "expected the pid-offsets window in the RFM plan"
    for l in lines:
        assert "pid#" in l, f"non-offset window in RFM plan: {l.strip()[:200]}"


def test_vocab_coverage_no_fullvocab_window(spark):
    """vocab_coverage_cutoff: the coverage scan must be the two-phase
    global cumsum (range exchange + pid-offset broadcast), not a
    whole-vocabulary single-task rank/cumsum window (whose spec would
    order by cnt/word, not pid)."""
    tree, _ = _plans(spark, "vocab_coverage_cutoff")
    lines = _window_lines(tree)
    assert lines, "expected the pid-offsets window in the coverage plan"
    for l in lines:
        assert "pid#" in l, f"non-offset window in vocab plan: {l.strip()[:200]}"


def test_nation_revenue_preaggregates_below_customer_join(spark):
    """The Q5-shape join must partially aggregate revenue by o_custkey
    BEFORE the customer join, so the custkey exchange carries customer-
    cardinality rows, never lineitem-cardinality ones. Catalyst does
    not push aggregates below joins on its own — the operator encodes
    it, and this pins it."""
    tree, _ = _plans(spark, "join_nation_revenue")
    m = re.search(r"HashAggregate\(keys=\[o_custkey\S*\]", tree)
    assert m, "expected a per-custkey aggregate in the plan:\n" + tree[:2000]
    # the orphan-prone regression: aggregating only at the very top
    # (nation/region keys) with the custkey rollup gone entirely
    assert tree.count("HashAggregate") >= 4, tree[:2000]


def test_q10_preaggregates_per_order_below_orders_join(spark):
    """Round 13: tpch_q10's returnflag-filtered lineitem rolls up to
    one decimal revenue row PER ORDER below the orders join (guide
    §2.3) — measured 0.88x at sf1 and 0.80x at sf10. (The same rewrite
    on join_nation_revenue was measured at three scales and REJECTED —
    its unfiltered per-order aggregate loses at sf10 — so this pin is
    q10-specific, not a family invariant.)"""
    tree, _ = _plans(spark, "tpch_q10_returned_items")
    m = re.search(r"HashAggregate\(keys=\[l_orderkey\S*\]", tree)
    assert m, "expected the per-order lineitem rollup in the plan:\n" + tree[:2000]


def test_referential_integrity_prunes_to_fk_column(spark):
    """Every per-edge child scan must read ONLY its FK column (plus
    nothing) — a full-row lineitem read for a key-existence audit is
    the 100 TB failure mode. Parent sides collapse to distinct keys
    before the join."""
    _, formatted = _plans(spark, "dq_referential_integrity")
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", formatted)
    assert scans, formatted[:1000]
    for cols in scans:
        names = [c.split(":")[0] for c in cols.split(",") if c]
        assert len(names) == 1, f"unpruned scan: {cols}"


def test_pareto_deciles_no_datasized_window(spark):
    """customer_pareto_deciles: rank and running revenue must come from
    the two-phase global cumsum — the only window allowed is the
    bounded pid-offset one, and the closed-form ntile arithmetic must
    leave no NTILE window in the plan."""
    tree, _ = _plans(spark, "customer_pareto_deciles")
    assert "ntile" not in tree.lower(), tree[:2000]
    lines = _window_lines(tree)
    assert lines, "expected the pid-offsets window in the pareto plan"
    for l in lines:
        assert "pid#" in l, f"non-offset window in pareto plan: {l.strip()[:200]}"


def test_holt_fold_is_bounded_state(spark):
    """timeseries_holt_smoothing: the fold runs over ONE collected
    months-cardinality array — the plan must be a two-exchange rollup
    (month rollup + single-row collect), with no window and no join."""
    tree, _ = _plans(spark, "timeseries_holt_smoothing")
    assert _exchanges(tree) <= 2, tree[:2000]
    assert "Window" not in tree, tree[:2000]
    assert "Join" not in tree, tree[:2000]


def test_aqe_skew_join_splits_hot_partition(spark):
    """Freeze the AQE skew-join receipt: a deliberately hot join key
    whose partition exceeds the skew threshold must come back from
    execution with the hot side's shuffle read marked ``skewed`` in
    the final adaptive plan (OptimizeSkewedJoin split it into
    advisory-sized sub-reads). Thresholds are scaled down so the
    test-scale hot partition qualifies — the same ratio a production
    corpus hits against the 256 MB default."""
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
        # ~50% of rows pile onto key 0; md5 payload keeps the shuffle
        # bytes incompressible so the hot partition's size is honest
        left = spark.range(100_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(1_000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
        df = left.join(right, "k").groupBy("v").agg(F.sum(F.length("pad")).alias("s"))
        rows = df.collect()
        assert rows and rows[0]["s"] > 0
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skewed" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injected_on_selective_join(spark):
    """Freeze the runtime-filter receipt: for a shuffle join whose
    build side is small and selective, Catalyst's InjectRuntimeFilter
    must plant a bloom_filter_might_contain predicate on the probe
    side — the engine-native version of join_bloom_prefilter
    (operators/sketches.py), pruning probe rows BEFORE their Exchange.
    Thresholds are scaled down so the test-scale join qualifies; at
    production defaults (10 MB creation side) the same rule fires for
    any dimension-sized build side."""
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        # force a shuffle join (runtime bloom filters target shuffle
        # exchanges; a broadcast join already semi-joins for free)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB"
        )
        probe = spark.range(200_000).select(
            F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("pad")
        )
        build = (
            spark.range(10_000)
            .select(F.col("id").alias("k"), F.lit(1).alias("v"))
            .where(F.col("k") % 100 == 0)  # selective: 100 of 10k keys survive
        )
        df = probe.join(build, "k").groupBy("v").agg(F.count("*").alias("n"))
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:3000]
        assert "bloom_filter_agg" in plan, plan[:3000]
        assert df.collect()[0]["n"] == 100
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_gopher_rules_is_map_only(spark):
    """text_gopher_rules: all six gates are per-row higher-order array
    functions — the plan must contain NO exchange, no join, no window
    (the zero-shuffle claim in the docstring and SCALE.md), and the
    scan must prune to the two columns the rules read."""
    tree, formatted = _plans(spark, "text_gopher_rules")
    assert _exchanges(tree) == 0, tree[:2000]
    assert "Join" not in tree and "Window" not in tree, tree[:2000]
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", formatted)
    assert scans, formatted[:1000]
    names = sorted(c.split(":")[0] for c in scans[0].split(",") if c)
    assert names == ["doc_id", "text"], names


def test_dsir_model_broadcasts_not_shuffles_docs(spark):
    """sample_dsir_importance: the 128-row bucket/LLR model must come
    back to the (doc, bucket) table as a BROADCAST join — if it ever
    degrades to a shuffle join, the doc-term side pays a second
    data-sized exchange for a model-sized table. The two legitimate
    exchanges are the combiner-reduced (doc,f) and f rollups plus the
    final doc_id rollup."""
    tree, _ = _plans(spark, "sample_dsir_importance")
    assert "BroadcastHashJoin" in tree, tree[:2000]
    assert "SortMergeJoin" not in tree, tree[:2000]


def test_sql_udfs_inline_to_codegen(spark):
    """sql_udf_scalar_tvf: SQL UDF bodies must inline into the plan as
    plain CASE/concat expressions — NO Python evaluation node of any
    kind (that's the whole point of SQL UDFs vs F.udf), and the
    table-valued UDF's VALUES body must plan as a LocalTableScan
    joined broadcast, never a shuffle."""
    tree, _ = _plans(spark, "sql_udf_scalar_tvf")
    for bad in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert bad not in tree, tree[:2000]
    assert "CASE WHEN" in tree, tree[:2000]
    assert "BroadcastHashJoin" in tree, tree[:2000]


def test_recursive_cte_plans_union_loop(spark):
    """sql_recursive_cte_hierarchy: the WITH RECURSIVE plan must carry
    Spark 4's UnionLoop fixpoint operator (the engine-native recursion
    — if a rewrite ever flattens it to a static union the recursion
    semantics silently cap at one level)."""
    df = all_queries()["sql_recursive_cte_hierarchy"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "UnionLoop" in plan, plan[:2000]


def test_codec_roundtrips_parallelize_python_stage(spark):
    """Both entropy-codec round-trips must carry an explicit
    round-robin repartition BELOW the Arrow codec stage: without it a
    single small parquet file pins the whole CPU-bound encode+decode
    loop to one task (measured 4x wall-clock at sf0.1). AQE must not
    coalesce it away — the byte volume is tiny but the CPU work is
    not."""
    for name in ("multimodal_jpeg_roundtrip", "multimodal_png_roundtrip"):
        tree, _ = _plans(spark, name)
        assert "MapInPandas" in tree, name
        assert re.search(r"Exchange roundrobinpartitioning", tree, re.I), (
            name,
            tree[:2000],
        )


@pytest.fixture
def checkpointed(monkeypatch):
    """Executed plans of the frames a query localCheckpoints: the
    consumer's own plan shows only ``Scan ExistingRDD`` in their place."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    real = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return plans


def test_minhash_lsh_skips_collapse_on_dupfree_corpus(spark, checkpointed, monkeypatch):
    """Adaptive exact-collapse (round 10): sf0.001 has ZERO verbatim
    duplicates, so the 1-row group-map sync must strip the collapse
    anti-join, both expansion joins and the intra-group union from the
    physical plan — the representative pairs ARE the output, and a
    duplicate-free corpus pays nothing beyond the one cached group-map
    materialization. The collapse shape on a corpus WITH duplicates is
    pinned by test_minhash_lsh_exact_collapse_precedes_banding. An empty
    memo makes the builder checkpoint its signatures afresh."""
    import mapreducegcp_spark.functions.memo as memo

    monkeypatch.setattr(memo, "_ENTRIES", {})
    tree, _ = _plans(spark, "dedup_minhash_lsh")
    assert checkpointed
    assert "Union" not in tree, tree[:2000]
    for plan in (tree, *checkpointed):
        assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan[:2000]


def _write_dup_corpus(tmp_path):
    """A tiny documents.parquet WITH verbatim duplicates: a 3-copy
    group, a 2-copy group, a near-dup of the first group, a 2-copy
    group too short to shingle (unsigned), and two singletons."""
    import pandas as pd

    texts = {
        1: "the quick brown fox jumps over the lazy dog tonight",
        2: "the quick brown fox jumps over the lazy dog tonight",
        3: "the quick brown fox jumps over the lazy dog tonight",
        4: "pack my box with five dozen liquor jugs right now",
        5: "pack my box with five dozen liquor jugs right now",
        6: "the quick brown fox jumps over the lazy cat tonight",
        7: "hi",
        8: "hi",
        9: "completely unrelated text about distributed query engines",
        10: "another singleton document mentioning columnar parquet files",
    }
    pdf = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": "en",
            "source": "test",
            "n_chars": [len(t) for t in texts.values()],
        }
    ).astype({"doc_id": "int64", "n_chars": "int64"})
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)


def test_minhash_lsh_exact_collapse_precedes_banding(spark, tmp_path, checkpointed):
    """dedup_minhash_lsh composes exact-collapse BEFORE LSH banding on
    a corpus WITH verbatim duplicates: the shingle source is filtered
    by an anti-join against the DUPLICATE-sized copy set (not a semi
    against the corpus-sized map), and the output is the
    cross-expansion UNION intra-group pairs. Values strict-match the
    registered DuckDB oracle (which runs the UNCOLLAPSED semantics) on
    the same corpus — the collapse is a pure work optimization."""
    import duckdb

    from mapreducegcp_spark.registry import all_queries

    _write_dup_corpus(tmp_path)
    rq = all_queries()["dedup_minhash_lsh"]
    df = rq.fn(spark, str(tmp_path))
    tree = df._jdf.queryExecution().executedPlan().toString()
    # the anti-join feeds the signature table, which both banding and
    # the estimate joins read through a local checkpoint
    assert any("LeftAnti" in plan for plan in checkpointed), checkpointed
    assert "Union" in tree, tree[:2000]

    got = sorted((r.doc_a, r.doc_b, r.jaccard_est) for r in df.collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = sorted(map(tuple, con.execute(rq.oracle).fetchall()))
    assert got == want, (got[:10], want[:10])
    # the verbatim groups must be fully present as intra pairs
    pairs = {(a, b) for a, b, _ in got}
    assert {(1, 2), (1, 3), (2, 3), (4, 5)} <= pairs
    # the unsigned 2-copy group ("hi" shingles to nothing) emits none
    assert (7, 8) not in pairs


def test_exact_group_map_semantics(spark):
    """Group-map semantics pinned directly on the real corpus (its
    sha2 build sits behind the session-cached checkpoint, so the
    expression is not visible in consumer plans)."""
    from mapreducegcp_spark.operators.dedup import exact_group_map

    gm = exact_group_map(spark, SF_DIR)
    rows = {r.member: r.rep for r in gm.collect()}
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    assert set(rows) == set(docs)  # one row per document
    by_text: dict = {}
    for doc_id, text in docs.items():
        by_text.setdefault(text, []).append(doc_id)
    for text, ids in by_text.items():
        want = min(ids)
        for i in ids:
            assert rows[i] == want, (i, rows[i], want)
