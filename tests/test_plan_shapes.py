"""Physical-plan regression guards: the properties that make these
queries scale are asserted on the plan text, so a refactor that silently
loses a pushdown, broadcast, or partial aggregation fails CI — not a
100 TB run. (Plans at sf0.001; shapes are size-independent here because
dims stay under the broadcast threshold at every SF we test.)"""

import pytest

import __spark_entry__ as entry
from queries._base import _t

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entry.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Whole-query plans are memoized per (session, sf_dir); once another
    # test has EXECUTED the shared DataFrame, AdaptiveSparkPlan.toString()
    # prints the final plan AND the initial plan — two copies of every
    # operator, which breaks the node-counting assertions below. Keep only
    # the first (final/current) section; for never-executed plans the
    # marker is absent and the string is unchanged.
    return plan.split("+- == Initial Plan ==")[0]


def test_q5_joins_broadcast_no_cartesian(spark):
    plan = _plan(spark, "q5_local_supplier")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q3_pushes_date_filter_to_scan(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "PushedFilters: [" in plan
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("c_mktsegment" in p or "IsNotNull" in p for p in pushed)


def test_route_topics_single_shuffle(spark):
    plan = _plan(spark, "route_topics")
    # one aggregation exchange + the local-rebalance round robin at most
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan[:500]


def test_bigram_partial_aggregation_before_shuffle(spark):
    plan = _plan(spark, "bigram_topk")
    # map-side combine: a partial_count HashAggregate must exist, and the
    # final sort is a bounded TakeOrdered, not a global Sort
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_lsh_pairs_no_cartesian(spark):
    plan = _plan(spark, "lsh_planted_dups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_topk_is_take_ordered(spark):
    plan = _plan(spark, "ann_cosine_topk")
    assert "TakeOrderedAndProject" in plan


def test_q7_broadcasts_dims_no_cartesian(spark):
    plan = _plan(spark, "q7_volume_shipping")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q14_pushes_join_and_partial_agg(spark):
    plan = _plan(spark, "q14_promo_share")
    assert "BroadcastHashJoin" in plan  # part side broadcasts
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_pii_scrub_chain_evaluated_once(spark):
    # clean_text and chars_removed both reference the 3-regex scrub; the
    # staged projection must keep exactly one copy of the chain in the plan
    plan = _plan(spark, "pii_scrubbed")
    assert plan.count("<EMAIL>") == 1, plan[:1000]
    assert plan.count("<PHONE>") == 1


def test_media_stats_has_no_python_evaluator(spark):
    plan = _plan(spark, "media_batch_stats")
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, marker


def test_simhash_token_hashes_staged_once(spark):
    # with_simhash materializes the md5 token-hash array in its own
    # projection; the 16 per-bit expressions must reference it, not
    # re-derive it (one md5 call in the plan, not 16)
    plan = _plan(spark, "simhash_fingerprints")
    assert plan.count("md5(") <= 2, plan.count("md5(")


def test_kmv_sketch_is_take_ordered(spark):
    # the k-smallest select must be a bounded TakeOrdered (per-partition
    # top-k + k-row driver merge), never a global Sort of all hashes
    plan = _plan(spark, "kmv_distinct_users")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [h" not in plan


def test_tfidf_partial_aggregation_no_python(spark):
    plan = _plan(spark, "tfidf_top_terms")
    assert "partial_count" in plan  # tf and df both map-side combined
    for marker in ("ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, marker


def test_minhash_estimate_is_shuffle_free(spark):
    # both signatures live in one projection over documents: a pure map
    # (the only exchange allowed is the local input rebalance, which is
    # round-robin, not a hash shuffle)
    plan = _plan(spark, "minhash_jaccard_estimate")
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_quantization_single_label_shuffle(spark):
    plan = _plan(spark, "embedding_quantization_error")
    assert plan.count("Exchange hashpartitioning") == 1  # the label agg
    assert "Join" not in plan


def test_frame_plan_prunes_payload_from_scan(spark):
    # metadata-only planning must not read the payload source column:
    # the parquet ReadSchema carries doc_id + n_chars, never text
    plan = _plan(spark, "frame_sample_plan")
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "n_chars" in read_schema
    assert "text" not in read_schema, read_schema


def test_aqe_splits_skewed_join(spark):
    """The skew story is live, not configuration theater: with a 90%-hot
    key, AQE's skew-join rule must split the oversized partition
    (skew=true on the SortMergeJoin in the FINAL adaptive plan).
    Thresholds are lowered to make 200k local rows register as skew —
    the mechanism is identical at 100 TB with the defaults."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k")
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:800]
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_running_sum_window_is_partitioned(spark):
    # the corpus-wide cumulative sum must run as a PARTITIONED window
    # over a range partitioning — an unpartitioned window would be a
    # single task holding the whole corpus. The only unpartitioned
    # window allowed is the one over the per-partition subtotals
    # (one row per partition, driver-scale by construction).
    # checkpoint=False exposes the full lineage (the production path
    # pins the same layout behind a localCheckpoint).
    from kafka_firehose_nozzle_spark.operators.packing import (
        with_global_running_sum,
    )

    df = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "n_chars AS w"
    )
    out = with_global_running_sum(df, "doc_id", "w", checkpoint=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    corpus_windows = [
        seg.split(")")[0]
        for seg in plan.split("windowspecdefinition(")[1:]
        if "doc_id" in seg.split(")")[0]
    ]
    assert corpus_windows and all("_pid" in w for w in corpus_windows), (
        plan[:1200]
    )


def test_scd2_single_exchange_for_both_windows(spark):
    """scd2_history's two window passes partition by the same key, so
    the physical plan must contain exactly ONE hash Exchange — a second
    one would mean the history build shuffles the event log twice."""
    plan = _plan(spark, "scd2_user_history")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    assert "CartesianProduct" not in plan


def test_zorder_key_is_pure_projection(spark):
    """The z-key + bucketing must stay a codegen projection over the
    scan: the only exchanges allowed are the 1-row bounds aggregate's
    and the final groupBy's — never a sort or join on the corpus."""
    plan = _plan(spark, "zorder_layout")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:1500]


def test_semdedup_broadcasts_centroids_no_cartesian(spark):
    # the within-cell pairwise join must be a hash equi-join on cell_id;
    # the centroid side of the assignment rides in broadcast
    plan = _plan(spark, "semdedup_keep")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the id_a < id_b pairwise join is an equi-join on cell_id
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_posting_lists_partial_agg_take_ordered(spark):
    plan = _plan(spark, "posting_lists")
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_dup_window_stats_hashes_before_shuffle(spark):
    # the shuffled join key must be the 60-bit gh hash, not the window
    # string: no raw gram column may appear in an Exchange's output
    plan = _plan(spark, "dup_window_stats")
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        key = seg.split(",")[0]
        assert key.startswith("gh") or key.startswith("doc_id"), key


def test_knn_graph_window_is_partitioned(spark):
    # the per-vertex top-k window must be partitioned by vec_id — a
    # global (unpartitioned) window would serialize the whole pair set
    plan = _plan(spark, "knn_graph")
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"Window \[row_number", plan):
        seg = plan[m.start() : m.start() + 300]
        assert "windowspecdefinition(vec_id" in seg or "vec_id" in seg


def test_constraint_audit_no_wide_shuffle(spark):
    # FK checks must resolve as broadcast anti-joins at this dim scale,
    # and nothing in the audit may cartesian
    plan = _plan(spark, "constraint_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("LeftAnti") >= 2


def test_embedding_outliers_integer_moments(spark):
    # moment aggregation and re-join stay on integral sim_ppm
    plan = _plan(spark, "embedding_outliers")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan


def test_bpe_encode_is_pure_map_after_training(spark):
    # encoding itself must be a scan + projection chain: no join, no
    # aggregate between the parquet scan and the output projection
    # (training runs eagerly before the returned plan is built)
    plan = _plan(spark, "bpe_encode")
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_parquet_aggregate_pushdown_answers_from_footers(spark):
    """MIN/MAX/COUNT over a raw parquet table can be answered from
    row-group statistics alone — at 100 TB that is the difference
    between touching metadata and scanning the table. Requires the v2
    parquet source; both confs are runtime-dynamic, restored after."""
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        df = (
            spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
            .agg({"l_orderkey": "min"})
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [MIN(l_orderkey)]" in plan
        assert df.collect()[0][0] == 0
    finally:
        spark.conf.unset("spark.sql.sources.useV1SourceList")
        spark.conf.unset("spark.sql.parquet.aggregatePushdown")


def test_part_name_matches_broadcasts_freq_no_cartesian(spark):
    """ER blocking must stay an equi-join on block_key with the token
    frequency table broadcast — no cartesian fallback ever."""
    plan = _plan(spark, "part_name_matches")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_spans_partial_agg_no_python(spark):
    """Window-frequency counting must partial-aggregate map-side and
    keep the whole pipeline JVM-side (HOFs, not Python UDFs)."""
    plan = _plan(spark, "substring_dup_spans")
    assert "partial_count" in plan or "partial_finalmerge" in plan, plan[:800]
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_loglog_shuffle_carries_registers_not_keys(spark):
    """The LogLog rollup's second aggregation keys on (event_type, reg):
    both aggs partial-aggregate, and no distinct over raw user keys
    appears in the sketch branch (the exact count lives in a separate
    join branch by design)."""
    plan = _plan(spark, "loglog_distinct_users")
    assert plan.count("HashAggregate") >= 4  # partial+final x two levels
    assert "BatchEvalPython" not in plan


def test_trimmed_mean_single_sort_per_type(spark):
    """Ranking within event_type must reuse ONE exchange: row_number
    and the count window share the partitioning, and the final agg is
    partial before its shuffle."""
    plan = _plan(spark, "trimmed_event_stats")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan[:900]
    assert "CartesianProduct" not in plan


def test_user_similarity_broadcasts_anchor_take_ordered(spark):
    """The sparse-cosine ranking must broadcast the single anchor
    vector (never shuffle the corpus against it), finish with
    TakeOrdered, and the only allowed nested-loop join is the 1-row
    norm scalar attach."""
    plan = _plan(spark, "user_activity_similarity")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_boilerplate_topk_partial_agg_take_ordered(spark):
    """The boilerplate report must partial-aggregate the distinct-doc
    count (two exchanges: dedup + count), stay JVM-side, and finish
    with TakeOrdered — no global sort of the window-frequency table."""
    plan = _plan(spark, "boilerplate_topk")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark):
    """At 100 TB the scan sides clear Spark's default runtime-filter
    thresholds (creation side <= 10 MB built FROM a selective dim,
    application side >= 10 GB) and Catalyst injects a bloom
    might_contain onto the fact scan before the shuffle — rows that
    can't join die at the scan. The sf0.1 fact side is 11 MB, so this
    guard lowers the application threshold to prove the MECHANISM fires
    and stays wired in this engine's session config; broadcast is
    disabled because a broadcast join subsumes the bloom."""
    from pyspark.sql import functions as F

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "1MB",
    }
    saved = {}
    for k, v in overrides.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        ord_ = spark.read.parquet(
            "/root/testdata/sf0.1/orders.parquet"
        ).filter(F.col("o_orderpriority") == "1-URGENT")
        li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        j = (
            li.join(ord_, li.l_orderkey == ord_.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "might_contain" in plan.lower(), plan[:1200]


def test_dsir_broadcasts_bucket_ratios_no_cartesian(spark):
    """DSIR's log-ratio table is B rows (a constant) — it must reach the
    token stream via broadcast, and nothing may cross-join: at 100 TB
    the token stream is the corpus, and a shuffled join on the bucket id
    would move it."""
    plan = _plan(spark, "dsir_log_weights")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shuffle_shards_no_global_sort(spark):
    """The deterministic corpus shuffle must sort per shard (hash
    partitioning on the shard id), never materialize a total order:
    'Exchange SinglePartition' under the window would serialize the
    whole corpus through one task."""
    plan = _plan(spark, "shuffle_shards")
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan.split("AdaptiveSparkPlan")[0]


def test_robust_outliers_broadcasts_medians(spark):
    """The per-type median and MAD tables are event-type-cardinality
    rows; they must broadcast back onto the stream — a shuffled rejoin
    of the full event volume per statistic would double the job's
    shuffle IO."""
    plan = _plan(spark, "robust_outlier_events")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_lang_entropy_partial_agg_before_rollup(spark):
    """The (source, lang) aggregation must partial-combine map-side —
    the rollup input is bounded by the language-mix cardinality, not
    the corpus."""
    plan = _plan(spark, "lang_entropy_by_source")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_decontam_broadcasts_benchmark_side(spark):
    """The benchmark gram table must broadcast (an eval suite is MBs
    against a 100 TB corpus) so the train-side explode never shuffles
    for the probe."""
    plan = _plan(spark, "benchmark_decontam")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_snapshot_asof_pushes_time_bound_to_scan(spark):
    """The as-of bound must reach the parquet scan as a pushed filter —
    at 100 TB that predicate IS the time travel (partition/row-group
    pruning); a post-scan filter reads the whole log."""
    plan = _plan(spark, "snapshot_asof")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "ts" in pushed


def test_psi_broadcasts_totals_partial_agg(spark):
    """PSI's per-type totals are event-type-cardinality rows — broadcast
    rejoin, and the (type, bin) aggregation must partial-combine."""
    plan = _plan(spark, "psi_value_drift")
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_pareto_no_self_join_no_cartesian(spark):
    """The skyline must factor through length buckets: no NOT-EXISTS
    self-join (cartesian/nested-loop) may appear, and the per-row
    windows must be bucket-partitioned (a single unpartitioned window
    over the corpus would serialize it through one task)."""
    plan = _plan(spark, "pareto_frontier_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(bkt" in plan


def test_winnow_single_exchange_doc_partitioned_windows(spark):
    """Winnowing's two window functions (argmin + per-doc count) must
    share ONE doc_id exchange and sort — a second Exchange would mean
    the windows repartition independently — and the window must be
    doc-partitioned, never a global (unpartitioned) sort."""
    plan = _plan(spark, "winnow_fingerprints")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(doc_id" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_bigram_lm_count_tables_broadcast_no_python(spark):
    """The bigram/context count tables (vocab cardinality) must join
    to the occurrence stream as broadcasts at this SF — the 100 TB
    degrade path is a shuffled equi-join, never a nested loop — and
    the whole score stays JVM-side."""
    plan = _plan(spark, "bigram_lm_scores")
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_gram_novelty_equi_join_on_hash_no_python(spark):
    """Novelty's first-seen join must be an equi-join on the int64
    gram hash (broadcast here, shuffled-hash at scale) with the
    distinct pair aggregation partitioned on (doc_id, gh)."""
    plan = _plan(spark, "gram_novelty")
    assert "hashpartitioning(doc_id" in plan and "gh" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_gopher_flags_two_stage_agg_no_python(spark):
    """Gopher flags must factor the per-doc mode through the
    (doc, token) count table — two hash aggregates with map-side
    partials, doc-partitioned, zero Python and zero joins."""
    plan = _plan(spark, "gopher_quality_flags")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "hashpartitioning(doc_id" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # pure aggregation pipeline


def test_feature_hashing_bounded_agg_grp_window(spark):
    """The signed-bucket aggregate is (group x 64)-bounded with
    map-side partials; the ranking window must be group-partitioned
    (never a global sort over the token stream)."""
    plan = _plan(spark, "feature_hashing")
    assert "partial_sum" in plan
    assert "hashpartitioning(grp" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_heaps_growth_type_agg_partials_no_python(spark):
    """Heaps growth ships int64 gram hashes only: the first-seen
    MIN(doc_id) aggregate and the bucket rollups must partial-combine;
    the only window runs over <= buckets rows."""
    plan = _plan(spark, "heaps_vocab_growth")
    assert "partial_min" in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_rfm_fact_agg_partials_dimension_windows(spark):
    """RFM's fact-table pass must partial-combine down to customer
    cardinality before any window; the ntile windows then sort the
    customer DIMENSION (documented trade), never re-touching orders."""
    plan = _plan(spark, "rfm_segments")
    assert "partial_count" in plan
    assert "partial_sum" in plan
    assert "partial_max" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_changepoint_type_partitioned_windows_broadcast_totals(spark):
    """CUSUM changepoint: the prefix-sum and argmax windows must be
    event_type-partitioned, per-type totals rejoin as a broadcast, and
    the raw event scan partial-combines to (type, day) before any
    shuffle.  (The types x spine densification is a bounded
    nested-loop by construction: types x days, never fact rows.)"""
    plan = _plan(spark, "changepoint_daily")
    assert "hashpartitioning(event_type" in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_span_plan_is_pure_projection(spark):
    """The span-corruption plan must stay a single map stage: grid,
    hash gate, and mask accounting are array HOFs fused into the scan —
    zero exchanges, zero joins, zero Python."""
    plan = _plan(spark, "span_corruption_plan")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_jl_distortion_broadcast_signs_no_cartesian(spark):
    """JL distortion: the 1024-row sign matrix must reach the diff
    stream as a broadcast equi-join (built from ONE range, not a
    range x range cartesian), pair filters push to the scan side, and
    the distance aggregations partial-combine."""
    plan = _plan(spark, "jl_distortion_pairs")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan
    assert "EvalPython" not in plan


def test_basket_lift_broadcasts_dim_no_cartesian(spark):
    """Market-basket: the part dim must reach lineitem as a broadcast,
    the within-basket pairing is an equi-join on orderkey (per-order
    bounded fan-out), and brand totals rejoin broadcast — no cartesian
    or nested-loop anywhere."""
    plan = _plan(spark, "basket_lift_pairs")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_lsh_recall_semi_join_no_cartesian(spark):
    """LSH recall eval: the truth intersection must be a (left-semi)
    equi-join on both pair ids; the candidate generation keeps its
    banded equi-join shape."""
    plan = _plan(spark, "lsh_recall_eval")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_ks_grid_partial_agg_before_bounded_window(spark):
    """Grid-KS: the fact join partial-combines to price-bucket
    cardinality BEFORE the (bounded, <500-row) cumulative window — the
    whole point of grid-KS over exact KS at 100 TB."""
    plan = _plan(spark, "ks_grid_drift")
    assert "partial_sum" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_kappa_factors_through_token_count_table(spark):
    """Cohen's kappa: per-doc stats must factor through the (doc,
    token) count table with partial-combined aggregates (the gopher
    idiom); the confusion matrix is ONE single-row aggregate."""
    plan = _plan(spark, "classifier_kappa")
    assert "partial_count" in plan
    assert "partial_sum" in plan
    assert "EvalPython" not in plan


def test_twap_user_partitioned_window_then_agg(spark):
    """TWAP: the lead() window must be user-partitioned (never a
    global sort) and the weighted sums partial-combine to user
    cardinality."""
    plan = _plan(spark, "twap_user_value")
    assert "hashpartitioning(user_id" in plan
    assert "partial_sum" in plan
    assert "EvalPython" not in plan


def test_png_pixel_decode_single_python_stage_no_join(spark):
    """PNG pixel decode: payload bytes must cross the Python boundary
    in mapInPandas stages with NO join and NO shuffle between build
    and decode (the media_av_durations Arrow-transit lesson); the only
    exchange allowed is the final presentation sort."""
    plan = _plan(spark, "png_pixel_stats")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1  # rangepartitioning for orderBy


def test_split_leakage_two_partial_aggs_no_join(spark):
    """Leakage audit: split label is a pure map; the user rollup and
    the single-row finish must both partial-combine; no joins."""
    plan = _plan(spark, "split_leakage_audit")
    assert "partial_count" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_markov_entropy_user_window_broadcast_totals(spark):
    """Entropy rate: lead() must stay user-partitioned; per-src totals
    rejoin broadcast; the nano-term quantization keeps everything else
    at state-pair cardinality."""
    plan = _plan(spark, "markov_entropy_rate")
    assert "hashpartitioning(user_id" in plan
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_corr_matrix_single_pass_no_join(spark):
    """Correlation matrix: all ten moments in ONE partial-combined
    aggregation over the fact scan — no joins, no second pass."""
    plan = _plan(spark, "lineitem_corr_matrix")
    assert "partial_sum" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_silhouette_bounded_broadcast_loop_exact_ints(spark):
    """Silhouette: the centroid assignment is the bounded
    broadcast-nested-loop class (vectors x 10 centroid rows — the
    types-x-spine precedent), never a CartesianProduct; distance math
    stays JVM-side int64."""
    plan = _plan(spark, "label_silhouette")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_attribution_user_window_then_bounded_agg(spark):
    """Last-touch: one user-partitioned window (last_value over the
    preceding frame), then aggregation at touch cardinality."""
    plan = _plan(spark, "last_touch_attribution")
    assert "hashpartitioning(user_id" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_path_trigrams_take_ordered_finish(spark):
    """Session paths: the top-20 cut must be TakeOrdered (per-partition
    heap), never a global sort of the path table."""
    plan = _plan(spark, "session_path_trigrams")
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_len_confound_moments_partial_combine(spark):
    """Length-quality confound: the per-source moment sums must
    partial-combine; the doc join stays at doc cardinality."""
    plan = _plan(spark, "quality_length_confound")
    assert "partial_sum" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_norm_quantiles_single_label_window_exchange(spark):
    """Norm quantiles: both windows (rank + count) share the label
    partitioning — exactly one exchange, JVM-side int64 norm math."""
    plan = _plan(spark, "norm_quantile_ranks")
    assert "hashpartitioning(label" in plan
    assert plan.count("Exchange") == 1
    assert "EvalPython" not in plan


def test_conversion_latency_user_agg_before_join(spark):
    """Conversion latency: the first-view MIN must partial-combine to
    user cardinality BEFORE rejoining events; bucket rollup bounded at
    49 rows."""
    plan = _plan(spark, "conversion_latency_buckets")
    assert "partial_min" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_km_survival_user_aggs_bounded_spine(spark):
    """Kaplan-Meier: user-cardinality partial aggs feed a day-step
    table; the unpartitioned cumulative windows run on that bounded
    spine only (waterfill class), never on events."""
    plan = _plan(spark, "km_survival_daily")
    assert "partial_min" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_cross_source_dups_banded_join_no_cartesian(spark):
    """Cross-source matrix: candidate generation stays the banded LSH
    equi-join; source attachment is two doc-cardinality equi-joins."""
    plan = _plan(spark, "cross_source_dup_matrix")
    assert "CartesianProduct" not in plan
    # the only nested loop is the 1-row total broadcast (cells x tot)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan  # banded candidates + source joins
    assert "EvalPython" not in plan


def test_emb_dim_stats_single_dim_shuffle(spark):
    """Dimension stats: one posexplode + one dim-cardinality
    partial-combined agg; the shuffle carries moment rows, never
    vectors."""
    plan = _plan(spark, "embedding_dim_stats")
    assert "partial_sum" in plan
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_k_anonymity_two_aggs_no_join(spark):
    """k-anonymity: one QI-class partial agg + one single-row rollup;
    the customer table is scanned exactly once."""
    plan = _plan(spark, "k_anonymity_audit")
    assert "partial_count" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_gini_stump_user_agg_then_bounded_spine(spark):
    """Gini stump: the user-cardinality agg is the only corpus-sized
    stage; threshold scoring runs on the distinct-count spine with the
    1-row totals broadcast."""
    plan = _plan(spark, "gini_stump_split")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_ndcg_take_ordered_then_ten_row_windows(spark):
    """NDCG: the ranking cut must be TakeOrdered(10); the rank/ideal
    windows run on that 10-row frame only (bounded by construction)."""
    plan = _plan(spark, "ndcg_retrieval_eval")
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_loo_influence_dimension_sized_after_one_agg(spark):
    """LOO influence: one source-cardinality partial agg; totals
    broadcast back; exact decimal means."""
    plan = _plan(spark, "loo_source_influence")
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_activity_transition_user_agg_four_row_rollup(spark):
    """Churn quadrant: bounds broadcast, one user-cardinality agg,
    4-row rollup."""
    plan = _plan(spark, "activity_transition_matrix")
    assert "partial_max" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_did_single_cell_agg(spark):
    """DiD: one corpus partial agg to 4 cells with DECIMAL sums; the
    one-row finish carries no second scan of events beyond the bounds
    probe."""
    plan = _plan(spark, "did_estimate")
    assert "partial_count" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_wilson_user_agg_then_two_arms(spark):
    """Wilson CI: per-user conversion partial-combines to user
    cardinality; arm stats are a 2-row table."""
    plan = _plan(spark, "conversion_wilson_ci")
    assert "partial_max" in plan
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_vocab_psi_take_ordered_top_tokens(spark):
    """Vocab PSI: the top-100 cut must be TakeOrdered; half totals
    rejoin as a 1-row broadcast."""
    plan = _plan(spark, "vocab_psi_drift")
    assert "TakeOrderedAndProject" in plan
    assert "partial_sum" in plan
    assert "EvalPython" not in plan


def test_backlog_month_spine_bounded_windows(spark):
    """Backlog curve: order-cardinality ship agg + month-cardinality
    rollups; cumulative windows on the date-domain spine only."""
    plan = _plan(spark, "order_backlog_timeseries")
    assert "partial_max" in plan  # per-order last ship month
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_percolator_rules_broadcast_scan_fused(spark):
    """Percolator: rules reach the corpus as a broadcast; the
    containment test is array ops fused into the scan side (bounded
    4-row nested loop, the types-x-spine class)."""
    plan = _plan(spark, "percolator_alerts")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_char_entropy_bigram_partial_combine(spark):
    """Char entropy: the bigram explode must partial-combine to
    (source, bigram) cardinality; totals broadcast back; int64 terms
    before the rollup."""
    plan = _plan(spark, "char_entropy_by_source")
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_abc_uses_distributed_prefix_sum(spark):
    """ABC classes: the corpus cumulative must go through the two-pass
    rangepartitioning prefix sum — never a single-partition window
    over all parts.  (checkpoint pins the layout, so we assert the
    range partitioning and the absence of an unpartitioned
    parts-window in the visible plan.)"""
    plan = _plan(spark, "abc_part_classes")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_hill_take_ordered_then_201_rows(spark):
    """Hill estimator: TakeOrdered(201) is the only corpus stage; rank
    window and terms run on 201 rows."""
    plan = _plan(spark, "hill_tail_index")
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_running_max_window_is_partitioned(spark):
    """The global running MAX (prefix-max twin) must also run as a
    _pid-partitioned window over a range partitioning, never one task
    holding the corpus."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.operators.packing import (
        with_global_running_max,
    )

    df = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t")
    )
    out = with_global_running_max(df, "event_id", "t", checkpoint=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    corpus_windows = [
        seg.split(")")[0]
        for seg in plan.split("windowspecdefinition(")[1:]
        if "event_id" in seg.split(")")[0]
    ]
    assert corpus_windows and all("_pid" in w for w in corpus_windows), (
        plan[:1200]
    )


def test_running_max_matches_sequential_model(spark):
    """Exactness: the two-pass prefix max equals the sequential cummax
    on a shuffled-value fixture (including a strictly-decreasing tail,
    where _prev_max dominates)."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.operators.packing import (
        with_global_running_max,
    )

    vals = [(i, (i * 37) % 101) for i in range(500)] + [
        (500 + i, 50 - i) for i in range(40)
    ]
    df = spark.createDataFrame(vals, "k LONG, v LONG")
    got = {
        r["k"]: r["rm"]
        for r in with_global_running_max(df, "k", "v", "rm").collect()
    }
    best = None
    for k, v in vals:
        best = v if best is None or v > best else best
        assert got[k] == best, (k, got[k], best)


def test_media_ahash_single_python_stage_no_join(spark):
    """aHash: payload bytes cross the Python boundary in mapInPandas
    with no join/shuffle between build and hash; only the presentation
    sort exchange remains."""
    plan = _plan(spark, "media_ahash")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1


def test_ahash_dedup_python_stages_equi_join(spark):
    """aHash dedup eval: two mapInPandas variants, an id equi-join of
    hash projections, no cartesian."""
    plan = _plan(spark, "ahash_dedup_eval")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_assortativity_vertex_degrees_single_row_moments(spark):
    """Assortativity: degree agg partial-combines at vertex
    cardinality; endpoint join is equi; moments single-row."""
    plan = _plan(spark, "graph_assortativity")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_boilerplate_filter_then_flag_equi_join(spark):
    """Boilerplate shingles: df agg partial-combines; the boiler flag
    join is equi on (source, gram) — no cartesian, no Python."""
    plan = _plan(spark, "boilerplate_shingles")
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_phrase_search_adjacency_is_equi_join(spark):
    """Phrase search: the pos+1 adjacency is folded into the join key,
    so the posting intersection is a hash/sort-merge equi join — a
    range predicate would plan BroadcastNestedLoopJoin."""
    plan = _plan(spark, "phrase_search")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_bradley_terry_duels_equi_self_join(spark):
    """Bradley-Terry: the corpus stage (duel generation) self-joins
    lineitem on the ORDER key only — equi, never cartesian — and
    partial-aggregates to brand-pair cardinality before the bounded
    collect."""
    from kafka_firehose_nozzle_spark.operators import ranking as RK
    from pyspark.sql import functions as F

    li = _t(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    part = _t(spark, SF, "part").select("p_partkey", "p_brand")
    lb = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("p_brand").alias("brand"),
        "l_quantity",
    )
    duels = RK.duel_matrix(
        lb, ["l_orderkey"], "brand", "l_quantity", "l_linenumber"
    )
    plan = duels._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_poisson_bootstrap_one_scan_grouped(spark):
    """Poisson bootstrap: one generate+explode projection, grouped
    partial sums to 32 replicate rows — no Python, no join."""
    plan = _plan(spark, "poisson_bootstrap_mean")
    assert "partial_sum" in plan
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_conformal_residual_window_is_partitioned(spark):
    """Conformal: the residual ranking window is partitioned by
    source (the plan's Window node carries a partition spec), and
    the stat joins are broadcast."""
    plan = _plan(spark, "conformal_length_bounds")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    import re

    for m in re.finditer(r"Window \[row_number\(\)[^\n]*", plan):
        assert "windowspecdefinition(source" in m.group(0), m.group(0)


def test_selection_parity_bounded_spine_window(spark):
    """Parity audit: the only single-partition exchange feeds the
    source-cardinality rollup, never corpus rows — the plan's
    SinglePartition sits ABOVE a HashAggregate over source."""
    plan = _plan(spark, "selection_parity_audit")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    if "SinglePartition" in plan:
        agg_pos = plan.find("HashAggregate")
        assert agg_pos != -1


def test_kcore_no_cartesian_vertex_aggs(spark):
    """K-core: every peel round is a vertex-cardinality agg + two
    equi semi filters; no cartesian, no Python anywhere."""
    plan = _plan(spark, "kcore_parts")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_acf_bounded_spine_equi_lag_join(spark):
    """ACF: the corpus stage is one day-cardinality aggregate; the
    lag pairing is an equi join on (day - lag) over the bounded
    spine — no window over corpus rows, no cartesian."""
    plan = _plan(spark, "acf_daily_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan


def test_ppmi_zipped_slices_no_positional_self_join(spark):
    """PPMI: window pairs come from zipped shifted slices — exactly
    two corpus-side joins (the word-cardinality margin joins), never
    a positional self-join of exploded positions."""
    plan = _plan(spark, "ppmi_window_cooc")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_rake_partitioned_segment_window(spark):
    """RAKE: the segment-id cumulative window is partitioned by doc;
    the score join explodes distinct phrases only; no cartesian."""
    plan = _plan(spark, "rake_keywords")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    import re

    for m in re.finditer(r"windowspecdefinition\([^\n]*", plan):
        assert "doc_id" in m.group(0), m.group(0)


def test_label_prop_vertex_partitioned_argmax(spark):
    """LPA: per-round argmax windows are partitioned by vertex; edge
    joins are equi; no cartesian."""
    plan = _plan(spark, "label_prop_communities")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_kfold_dim_joins_broadcast(spark):
    """K-fold audit: corpus collapses to (fold, lang) in one agg;
    the stat joins are broadcast over <= folds x langs rows."""
    plan = _plan(spark, "kfold_balance_audit")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_time_decay_scalar_broadcast_takeordered(spark):
    """Time decay: max-ts is a broadcast scalar; finish is
    TakeOrdered, not a global sort."""
    plan = _plan(spark, "time_decay_user_value")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_negative_sampling_word_cardinality(spark):
    """Negative-sampling table: one token-cardinality agg; the
    normalizer joins back broadcast; no Python."""
    plan = _plan(spark, "negative_sampling_table")
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_mixture_interleave_partitioned_rank_takeordered(spark):
    """Interleave schedule: ranks from a source-partitioned window;
    global order via TakeOrdered(50)."""
    plan = _plan(spark, "mixture_interleave_schedule")
    assert "TakeOrderedAndProject" in plan
    import re

    for m in re.finditer(r"windowspecdefinition\([^\n]*", plan):
        assert "source" in m.group(0), m.group(0)


def test_burrows_delta_dim_cardinality_joins(spark):
    """Burrows' Delta: corpus collapses to (source, word) in one agg;
    grid/moment/pair joins live at dim cardinality; no Python."""
    plan = _plan(spark, "burrows_delta_sources")
    assert "partial_count" in plan
    assert "EvalPython" not in plan


def test_item_item_cosine_equi_join_takeordered(spark):
    """Item-item CF: co-order self-join is equi on the order key;
    degree joins equi; TakeOrdered finish."""
    plan = _plan(spark, "item_item_cosine")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_revenue_drawdown_partitioned_windows_no_cartesian(spark):
    """Drawdown: prefix windows partitioned by segment; the only
    nested-loop is the intentional segments x calendar-spine broadcast
    cross join (bounded by the calendar at any corpus size)."""
    plan = _plan(spark, "revenue_drawdown")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    import re

    for m in re.finditer(r"windowspecdefinition\([^\n]*", plan):
        assert "c_mktsegment" in m.group(0), m.group(0)


def test_spearman_ranks_via_distributed_prefix_sum(spark):
    """Spearman: ranks come from the two-pass prefix sum over DISTINCT
    values (its rangepartitioning hides behind the localCheckpoint —
    same visibility caveat as test_abc_uses_distributed_prefix_sum),
    so assert what the visible plan CAN show: no global row sort, no
    cartesian, no Python, and a partial-combined moment aggregate."""
    plan = _plan(spark, "spearman_lineitem")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    # the fact table must never be globally sorted for ranks
    assert "Sort [l_" not in plan


def test_huber_broadcast_scalar_chain(spark):
    """Huber IRLS: every scalar handoff is a 1-row broadcast nested
    loop; the corpus is never collected and never cartesian-joined."""
    plan = _plan(spark, "huber_mean_price")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 4


def test_js_divergence_equi_word_join_broadcast_totals(spark):
    """JS divergence: the word self-join is equi on the word (pair
    fan-out bounded by source dim cardinality); totals broadcast."""
    plan = _plan(spark, "js_divergence_sources")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_flesch_per_row_exprs_single_agg(spark):
    """Flesch: syllable/sentence math is per-row expression work (no
    UDFs), then one partial-combined agg to source cardinality."""
    plan = _plan(spark, "flesch_by_source")
    assert "EvalPython" not in plan
    assert "partial_count" in plan


def test_simpson_partial_agg_no_python(spark):
    plan = _plan(spark, "simpson_diversity_sources")
    assert "EvalPython" not in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_kneser_ney_vocab_joins_takeordered(spark):
    """KN bigrams: stat joins run at vocab/bigram-type cardinality
    (equi), T is a 1-row broadcast, finish is TakeOrdered(50)."""
    plan = _plan(spark, "kneser_ney_bigrams")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_gains_curve_rank_via_prefix_sum(spark):
    """Gains curve: the global rank must come from the two-pass prefix
    sum (localCheckpoint hides its rangepartitioning — the abc caveat);
    the only windows in the visible plan are the 10-row decile cums."""
    plan = _plan(spark, "gains_curve_purchases")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the fact/user tables must never hit a global row-sort for ranks
    assert "Sort [views" not in plan


def test_propensity_att_two_aggs_no_python(spark):
    plan = _plan(spark, "propensity_strata_att")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_wav_rms_single_python_stage_no_shuffle(spark):
    """PCM stats: exactly the two intended Arrow stages (synthesize +
    decode); RMS math is JVM-side SQL; no hash shuffle of payloads."""
    plan = _plan(spark, "wav_rms_energy")
    assert plan.count("MapInPandas") == 2, plan.count("MapInPandas")
    assert "Exchange hashpartitioning" not in plan


def test_sigma_bands_day_agg_broadcast_moments(spark):
    plan = _plan(spark, "sigma_band_days")
    assert "EvalPython" not in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_cdc_chunks_per_row_lists_single_agg(spark):
    """CDC chunking: boundaries and chunk lengths never leave the row
    (list expressions); one agg to source cardinality; one md5 chain."""
    plan = _plan(spark, "cdc_chunk_stats")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_pq_recall_bounded_rankings_semi_join(spark):
    """PQ recall: both rankings are bounded TakeOrdered plans; the
    overlap is a 10-row join; no cartesian over the corpus."""
    plan = _plan(spark, "pq_recall_eval")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_seasonal_naive_type_partitioned_lag(spark):
    """Backtest: the lag-7 window must be partitioned by event_type."""
    import re

    plan = _plan(spark, "seasonal_naive_backtest")
    assert "EvalPython" not in plan
    for m in re.finditer(r"windowspecdefinition\([^\n]*", plan):
        assert "event_type" in m.group(0), m.group(0)


def test_l_diversity_two_aggs_no_python(spark):
    plan = _plan(spark, "l_diversity_audit")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_hilbert_staged_projections_no_shuffle(spark):
    """Hilbert: the xy2d iteration is pure staged integer projections —
    the only exchange allowed is the bucket aggregation's."""
    plan = _plan(spark, "hilbert_layout")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_hilbert_spans_narrower_than_zorder(spark):
    """The reason Hilbert exists: for the same 64-bucket layout the
    summed per-bucket span (c_max - c_min) must not exceed Z-order's.
    Run both reports at sf0.001 and compare total spans."""
    import __spark_entry__ as entry

    z = entry.queries()["zorder_layout"](spark, SF).collect()
    h = entry.queries()["hilbert_layout"](spark, SF).collect()
    zspan = sum(r["c_max"] - r["c_min"] for r in z) / len(z)
    hspan = sum(r["c_max"] - r["c_min"] for r in h) / len(h)
    assert hspan <= zspan * 1.05, (hspan, zspan)


def test_shrunk_rates_takeordered_broadcast_prior(spark):
    plan = _plan(spark, "shrunk_return_rates")
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pruning_audit_story_holds(spark):
    """The audit's reason to exist: natural order prunes nothing,
    date-sort prunes only the date predicate, Z-order prunes BOTH.
    sf0.01 (15 simulated files) — sf0.001 has only 2 files, too few
    for the pruning ratios to register."""
    import __spark_entry__ as entry

    rows = {
        r["layout"]: r
        for r in entry.queries()["pruning_skip_audit"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    nat, dat, z = rows["natural"], rows["date_sort"], rows["zorder"]
    assert nat["read_date_pred"] == nat["n_files"]
    assert dat["read_date_pred"] <= nat["n_files"] // 4
    assert dat["read_cust_pred"] == dat["n_files"]
    assert z["read_date_pred"] < nat["n_files"]
    assert z["read_cust_pred"] < nat["n_files"]


def test_chi2_keywords_broadcast_stats_source_window(spark):
    import re

    plan = _plan(spark, "chi2_keywords_by_source")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"windowspecdefinition\([^\n]*", plan):
        assert "source" in m.group(0), m.group(0)


def test_t_closeness_group_partitioned_windows(spark):
    """t-closeness: every corpus-scale cumulative window must be
    partitioned by the quasi-group (the global-distribution cum runs
    on a 5-row frame, where an unpartitioned window is fine)."""
    plan = _plan(spark, "t_closeness_audit")
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_simpsons_single_fact_pass(spark):
    """Paradox screen: pooled moments are the group sums — exactly one
    hash-shuffle over the fact table, no second scan aggregate."""
    plan = _plan(spark, "simpsons_paradox_screen")
    assert "EvalPython" not in plan
    assert "partial_sum" in plan
    assert plan.count("Scan parquet") <= 1, plan.count("Scan parquet")


def test_lm_holdout_joins_at_type_cardinality(spark):
    """LM bake-off: test bigrams aggregate to types BEFORE the joins
    (events never fan out); all joins equi; constants broadcast."""
    plan = _plan(spark, "lm_holdout_compare")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_neyman_allocation_sums_to_budget(spark):
    """Largest-remainder apportionment must hit the budget exactly."""
    import __spark_entry__ as entry

    rows = entry.queries()["neyman_allocation"](spark, SF).collect()
    assert sum(r["alloc_n"] for r in rows) == 10000


def test_ratio_ci_single_fact_agg_no_python(spark):
    plan = _plan(spark, "ratio_metric_ci")
    assert "EvalPython" not in plan
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_fd_g3_group_aggs_no_python(spark):
    plan = _plan(spark, "fd_g3_errors")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_hash_walk_equi_steps_takeordered(spark):
    """Hash walks: every step is an equi-join on (node, index) — no
    cartesian, no Python; TakeOrdered(20) finish."""
    plan = _plan(spark, "hash_walk_visits")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_markov_top1_broadcast_predictions(spark):
    """Accuracy eval: the 1-per-state prediction table broadcasts to
    the test pairs; windows are user/src-partitioned."""
    plan = _plan(spark, "markov_top1_accuracy")
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_brier_decomposition_identity_holds(spark):
    """Murphy identity: Brier = REL - RES + UNC, within the per-bin
    micro quantization (5 bins -> <= 5 micro of slack per component)."""
    import __spark_entry__ as entry

    r = entry.queries()["brier_decomposition"](spark, SF).head()
    lhs = r["brier_micro"]
    rhs = r["rel_micro"] - r["res_micro"] + r["unc_micro"]
    assert abs(lhs - rhs) <= 15, (lhs, rhs)


def test_mde_single_agg_no_python(spark):
    plan = _plan(spark, "mde_power_analysis")
    assert "EvalPython" not in plan
    assert "partial_sum" in plan


def test_median_regression_single_scan_21_aggs(spark):
    """Grid L1 regression: all 21 candidate losses in ONE scan (no
    grid crossJoin fan-out) — exactly one parquet scan in the plan."""
    plan = _plan(spark, "median_regression_grid")
    assert "EvalPython" not in plan
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_eta_squared_day_cardinality_aggs(spark):
    plan = _plan(spark, "eta_squared_factors")
    assert "EvalPython" not in plan
    assert "partial_sum" in plan


def test_mann_kendall_pair_join_runs_on_checkpointed_series(spark):
    """The day-pair join and tie rollup must run over the ONE
    materialized daily series (localCheckpoint), never re-scanning
    orders per branch: the final plan contains no parquet scan at all
    — the corpus scan happened exactly once, at checkpoint build."""
    plan = _plan(spark, "mann_kendall_trend")
    assert "FileScan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_runs_test_single_scan_via_checkpoint(spark):
    plan = _plan(spark, "runs_test_daily")
    assert "FileScan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_cusum_monitor_single_scan_via_checkpoint(spark):
    plan = _plan(spark, "cusum_monitor_daily")
    assert "FileScan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_apriori_triples_equi_joins_only(spark):
    """Both lattice-growing self-joins must be hash equi-joins on the
    order key — the DuckDB-side twin of this guard is the inline
    join-anchoring comment in ORACLE_APRIORI_TRIPLES (the optimizer
    turned a mis-anchored equality into an inequality-only join)."""
    plan = _plan(spark, "apriori_triples")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hits_no_cartesian_scores_broadcast_max(spark):
    plan = _plan(spark, "hits_scores")
    assert "CartesianProduct" not in plan
    # per half-iteration the 1-row max rides a broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ra_link_prediction_wedge_is_equi_join(spark):
    plan = _plan(spark, "ra_link_prediction")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_target_encoding_single_fact_aggregate(spark):
    """One corpus-scale exchange only: the (brand, fold) aggregate.
    Window totals run over the 125-row aggregate, so any additional
    hashpartitioning exchange means the fact table is being shuffled
    twice."""
    plan = _plan(spark, "target_encoding_oof")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:1500]


def test_ridge_cv_single_fold_aggregate_shape(spark):
    """The sweep is sufficient-statistics only: no per-lambda or
    per-fold rescan (no more than the fold aggregate's exchanges), and
    the 30-cell arithmetic never joins back to the fact table."""
    plan = _plan(spark, "ridge_lambda_cv")
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") <= 3


def test_frame_extract_single_python_chain_no_shuffle(spark):
    """Frame extraction: AVI build and frame walk are back-to-back
    mapInPandas stages with no join and no shuffle between them — frame
    bytes never cross an exchange; only the presentation sort remains."""
    plan = _plan(spark, "frame_extract_hashes")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1


def test_lsh_component_edges_no_self_join(spark):
    """The component edge build must be the window-min star (one bucket
    shuffle + sort-based min), NOT the all-pairs band self-join —
    no join operator of any kind before the edge list exists."""
    from kafka_firehose_nozzle_spark.operators import dedup as D
    from queries.dedup import _planted_docs

    docs2 = _planted_docs(spark, SF)
    edges = D.lsh_component_edges(docs2, num_hashes=8, num_bands=4)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_no_python_stage_single_exchange_family(spark):
    """The as-of join must be the JVM union+window plan (r7): no Python
    evaluator (the old cogrouped merge_asof paid a pandas call per key —
    5-7 min at sf10), no join node; one hash exchange on the key feeds
    the direction sorts (nearest's two windows may reuse it)."""
    for name in ("asof_purchase_orders", "asof_nearest_order"):
        plan = _plan(spark, name)
        assert "EvalPython" not in plan and "FlatMapCoGroups" not in plan
        assert "Window" in plan
        assert "Join" not in plan


def test_triangle_wedge_stream_never_shuffled(spark):
    """The r8 triangle rewrite: the wedge stream (sum of C(out_deg,2)
    rows — 1.7 B at sf1) must be consumed by a PARTIAL hash aggregation
    in the same stage as the wedge join; only the aggregated
    endpoint-pair table may cross an exchange.  Guard: a partial-agg
    HashAggregate sits between the wedge SortMergeJoin and the exchange
    above it, with no Exchange in between (the old semi-join shape
    shuffled the raw stream — 50 GB of spill)."""
    import re

    plan = _plan(spark, "supplier_triangles")
    # locate the wedge join: the single-key SMJ on [w], [u]
    m = re.search(r"HashAggregate\(keys=\[u#\d+L, w#\d+L\], functions=\[partial_count", plan)
    assert m, "partial aggregation of the wedge stream is missing"
    # between that partial agg and the wedge join below it: no Exchange
    below = plan[m.end():]
    join_at = below.find("SortMergeJoin")
    assert join_at != -1
    assert "Exchange" not in below[:join_at], (
        "the raw wedge stream is being shuffled before aggregation"
    )
