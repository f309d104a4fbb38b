"""Physical-plan posture tests (SURVEY.md §4): predicates reach the
scan, dimension joins broadcast, single-shuffle operators stay
single-shuffle. These guard the 100 TB design, not just correctness."""

from __future__ import annotations

from talknet_segmentation_batchprocessing_spark import registry
import pytest

from .conftest import SF_SMOKE
from .plan_inspect import (
    assert_broadcast_join,
    assert_pushed_filter,
    codegen_subtree_count,
    count_exchanges,
    formatted_plan,
    plan_has,
    single_partition_sorts,
)

registry._ensure_loaded()


def q(name, spark):
    return registry.REGISTRY[name].fn(spark, SF_SMOKE)


def test_f1_filter_pushed_to_scan(spark):
    assert_pushed_filter(q("f1_confidence_filter", spark), "GreaterThan(l_quantity")


def test_f7_isin_pushed_to_scan(spark):
    assert_pushed_filter(q("f7_isin_filter", spark), "In(event_type")


def test_j1_dimension_join_broadcasts(spark):
    assert_broadcast_join(q("j1_equijoin_ranked", spark))


def test_j3_dimension_join_broadcasts(spark):
    assert_broadcast_join(q("j3_surrogate_equijoin", spark))


def test_w1_segmentation_single_shuffle_before_agg(spark):
    """W1: the lag window, the cumsum window and the groupBy all share
    the (user_id) hash partitioning — exactly 2 exchanges total: one
    for the partitioned work, one for the final global seg_id window
    ordering by start_ts (still per-user)."""
    n = count_exchanges(q("w1_speaking_segments", spark))
    assert n <= 2, f"expected <=2 exchanges, got {n}"


def test_extract_segments_column_pruning(spark):
    """Only the referenced columns reach the scan."""
    checks = plan_has(q("w1_speaking_segments", spark), "ReadSchema")
    assert checks["ReadSchema"]


# Queries that previously funnelled all rows through one task via an
# unpartitioned window; now two-phase (range-bucket + offsets) or
# top-k (TakeOrderedAndProject). The guard fails on ANY Sort fed by an
# Exchange SinglePartition — the physical signature of that hazard.
TWO_PHASE_QUERIES = [
    "j1_equijoin_ranked",
    "j8_length_constrained_pick",
    "w7_batch_packing",
    "w8_global_sort_limit",
    "u2_union_modulo_split",
    "a6_average_precision",
    "ava_map_eval",
    # round-2 additions: partitioned windows / pure aggregations by
    # construction — the guard keeps them that way
    "w10_sessionize",
    "w11_sliding_window",
    "j9_asof_join",
    "text_tfidf_topk",
    "contamination_ngram",
    "sample_stratified",
    "text_unigram_logprob",
    "dedup_cc_star",
    "emb_pq_codes",
    # round-4 additions
    "sim_pq_topk",
    "dedup_keep_canonical",
    "text_sentence_stats",
    "emb_dim_stats",
    "text_bigram_topk",
    "x20_variant_json",
    "ts_sax_similarity",
    "doc_chunk_overlap",
    "dedup_incremental",
    "emb_cluster_balance",
    "shuffle_shard_assign",
    "sketch_kmv_distinct",
    "sketch_hll_distinct",
    "sketch_quantile_sampled",
    "x21_zorder_value",
    "curation_pipeline",
    "u5_merge_upsert",
    "w12_funnel_steps",
    "dedup_char_ngram",
    "j10_interval_join",
    "agg_time_rollup",
    "graph_triangle_count",
    "w14_cohort_retention",
    "sample_weighted_hash",
    "sim_recall_eval",
    "text_langid_confusion",
    "dedup_semantic_keep",
    # round-5 additions
    "dedup_exact_substring",
    "dedup_semantic_keep_lsh",
    "sketch_countmin_topk",
    "w15_event_pattern",
    "dedup_containment",
    "graph_pagerank",
    "dedup_keep_canonical_lsh",
    "contamination_bloom",
    "sketch_kmv_setops",
    "sketch_hll_merge",
    "text_gopher_rules",
    "text_perplexity_bucket",
    "dedup_cluster_stats",
    # round-6 additions
    "pack_token_sequences",
    "dedup_line_corpus",
    "talkset_generate",
    # round-7 additions: broadcast-threshold / partitioned-fold /
    # Expand-only by construction — the guard keeps them that way
    "dsir_importance_weights",
    "w23_rfm_segments",
    "ext_unpivot",
    "doc_ngram_novelty",
    "curation_dsir_vs_rules",
    "sim_ivfpq_topk",
    "sim_ivfpq_recall",
    "sample_weighted_reservoir",
    "w24_active_users",
    "quality_ensemble_vote",
    "u6_intersect",
    "text_token_fertility",
    # round-9 additions: the last two corpus-sized global windows,
    # rebuilt on global_cumsum / global_rank + arithmetic ntile
    "classifier_auc_eval",
    "classifier_decile_lift",
]


def test_contamination_bench_side_broadcasts(spark):
    """The benchmark shingle set must broadcast (the corpus side is the
    100 TB scan; a shuffle of corpus shingles would be the hazard)."""
    assert_broadcast_join(q("contamination_ngram", spark))


def test_tfidf_idf_side_broadcasts(spark):
    assert_broadcast_join(q("text_tfidf_topk", spark))


@pytest.mark.parametrize("name", TWO_PHASE_QUERIES)
def test_no_single_partition_sort(name, spark):
    n = single_partition_sorts(q(name, spark))
    assert n == 0, f"{name}: {n} Sort node(s) fed by Exchange SinglePartition"


@pytest.mark.parametrize("name", TWO_PHASE_QUERIES)
def test_no_single_partition_sort_two_phase_forced(name, spark):
    """The adaptive switch runs the one-phase form at test SF; force
    the two-phase branch so ITS plan stays guarded too (the shape that
    actually runs above the crossover)."""
    from talknet_segmentation_batchprocessing_spark.plans import two_phase
    from talknet_segmentation_batchprocessing_spark.registry import release_persisted

    old = two_phase.CROSSOVER_ROWS
    two_phase.CROSSOVER_ROWS = 0
    try:
        n = single_partition_sorts(q(name, spark))
        assert n == 0, f"{name}: {n} Sort node(s) fed by Exchange SinglePartition"
    finally:
        two_phase.CROSSOVER_ROWS = old
        release_persisted()


def test_single_partition_sort_detector_catches_bad_plan(spark):
    """The detector itself must flag the anti-pattern, or the guard
    above is vacuous."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = registry.load(spark, SF_SMOKE, "events")
    bad = ev.withColumn("rn", F.row_number().over(Window.orderBy("event_id")))
    assert single_partition_sorts(bad) >= 1


def test_codegen_covers_relational_core(spark):
    # AQE wraps the whole plan until execution, hiding codegen subtrees
    # from pre-execution explain — inspect with it off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert codegen_subtree_count(q("q1_pricing_summary", spark)) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_ap_one_phase_sorts_exactly_twice(spark):
    """The AP window pipeline must sort its single partition exactly
    TWICE (forward order for rank/cumsum/lag, reverse order for the
    suffix max) — a third sort means the delta-recall lag drifted
    after the reverse-order window again (round-4 fusion; it was the
    dominant one-phase cost)."""
    from talknet_segmentation_batchprocessing_spark.registry import release_persisted

    for name in ("a6_average_precision", "ava_map_eval"):
        release_persisted()
        plan = q(name, spark)._jdf.queryExecution().executedPlan().toString()
        n_sorts = plan.count("+- Sort ") + plan.count(":- Sort ")
        assert n_sorts <= 2, f"{name}: {n_sorts} Sort nodes\n{plan}"


def _drop_graph_table(spark, name):
    """Drop a published graph table and delete its external location:
    ``DROP TABLE`` keeps an external table's files."""
    import shutil
    from urllib.parse import urlparse

    if not spark.catalog.tableExists(name):
        return
    loc = next(
        r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        if r.col_name == "Location"
    )
    spark.sql(f"DROP TABLE {name}")
    shutil.rmtree(urlparse(loc).path, ignore_errors=True)


def test_triangle_bucketed_wedge_join_zero_exchange(spark, monkeypatch):
    """Round 6: the oriented near-dup edge table is published bucketed
    on s_rk (sources/bucketed.py), so the wedge SELF-join — the hot
    join of triangle counting — must plan with zero Exchange on either
    side (broadcast disabled to expose the SMJ the 100 TB plan uses).
    Round 12 made the publication SIZE-ADAPTIVE (below the broadcast
    threshold consumers get the checkpointed frame directly); force
    the large-scale path so this test keeps guarding the 100 TB plan."""
    from pyspark.sql import functions as F

    from talknet_segmentation_batchprocessing_spark.queries import extensions

    monkeypatch.setattr(extensions, "_GRAPH_PUBLISH_THRESHOLD", -1)
    _oriented_edges_bucketed = extensions._oriented_edges_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = _oriented_edges_bucketed(spark, SF_SMOKE)
        w1 = o.select("s_rk", F.col("t").alias("b"))
        w2 = o.select("s_rk", F.col("t").alias("c"))
        plan = (
            w1.join(w2, "s_rk")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, f"bucketed wedge join shuffles:\n{plan}"
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        _drop_graph_table(
            spark,
            extensions._graph_table_name(
                spark, "graph_oriented_edges", SF_SMOKE
            ),
        )


@pytest.mark.parametrize("side", ["broadcast", "bucketed"])
def test_graph_table_republish_serves_new_rows(spark, monkeypatch, side):
    """A second publication under the same name serves its own rows on
    both sides of the graph publish switch: nothing from the first
    publication is reused."""
    from talknet_segmentation_batchprocessing_spark.queries import extensions

    if side == "bucketed":
        monkeypatch.setattr(extensions, "_GRAPH_PUBLISH_THRESHOLD", -1)
    base, key = "graph_republish_probe", "k"

    def publish(n):
        edges = spark.range(n).withColumnRenamed("id", key)
        out = extensions._write_graph_table(spark, edges, base, key, SF_SMOKE)
        return sorted(r[key] for r in out.collect())

    try:
        assert publish(3) == [0, 1, 2]
        assert publish(5) == [0, 1, 2, 3, 4]
    finally:
        _drop_graph_table(
            spark, extensions._graph_table_name(spark, base, SF_SMOKE)
        )


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "events_anomaly_mad"])
def test_single_action_frame_shares_exchange_without_persist(spark, name):
    """A frame that only the returned plan reads is not persisted:
    within one action, exchange reuse already computes the shared
    aggregate once. dedup_ngram_jaccard joins its per-doc shingle
    counts onto both sides of each pair, and events_anomaly_mad
    aggregates the per-user deviations that it also returns. After the
    action the final plan scans no cache, and a ReusedExchange serves
    the second reader."""
    registry.release_persisted()
    df = q(name, spark)
    df.collect()
    final = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("\n+- == Initial Plan ==")[0]
    )
    assert "isFinalPlan=true" in final
    assert "InMemoryTableScan" not in final, final
    assert "ReusedExchange" in final, final


def test_triangle_executed_exchanges_bounded(spark):
    """The full triangle query's EXECUTED plan must stay at or below 8
    exchanges (was 18 in round 5 before the bucketed edge table).
    ``collect()`` runs the frame's own QueryExecution (``count()`` would
    run a separate aggregate one), so its adaptive plan reaches its
    final form; only that final plan is counted, not the initial plan
    AQE keeps beside it."""
    df = q("graph_triangle_count", spark)
    df.collect()
    adaptive = df._jdf.queryExecution().executedPlan()
    assert "isFinalPlan=true" in adaptive.toString().splitlines()[0]
    plan = adaptive.finalPhysicalPlan().toString()
    import re

    ids, noid = set(), set()
    for line in plan.splitlines():
        if "Exchange" in line:
            m = re.search(r"plan_id=(\d+)", line)
            (ids.add(m.group(1)) if m else noid.add(line))
    n = len(ids) + len(noid)
    assert n <= 8, f"triangle executed plan has {n} exchanges"


def test_kmeans_centroids_broadcast_and_no_udf(spark):
    """Round 6: emb_kmeans_assign's k=8 centroid compare must plan as a
    broadcast nested-loop/hash join (never an exchange of the vector
    side), and the whole query must stay JVM-side (no Python eval)."""
    df = q("emb_kmeans_assign", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, f"python boundary in kmeans plan:\n{plan}"


def test_edit_distance_stays_jvm_side(spark):
    """dedup_edit_distance's Levenshtein verify is F.levenshtein —
    whole plan must be Python-free."""
    df = q("dedup_edit_distance", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, f"python boundary in plan:\n{plan}"


def test_bpe_pairs_is_takeordered(spark):
    """bpe_merge_step's global top-20 must compile to
    TakeOrderedAndProject (partial per-partition top-k), not a global
    Sort + GlobalLimit."""
    df = q("bpe_merge_step", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def _no_python(plan: str, label: str) -> None:
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, f"python boundary in {label} plan:\n{plan}"


def test_mix_temperature_total_broadcasts(spark):
    """mix_temperature_sampling: the 1-row normalizer total must
    broadcast (never shuffle the per-source stats against it)."""
    assert_broadcast_join(q("mix_temperature_sampling", spark))


def test_dataset_card_total_broadcasts_and_jvm(spark):
    """dataset_card_stats: corpus-total joins broadcast; Python-free."""
    df = q("dataset_card_stats", spark)
    assert_broadcast_join(df)
    _no_python(df._jdf.queryExecution().executedPlan().toString(), "dataset_card")


def test_matryoshka_query_side_broadcasts(spark):
    """emb_matryoshka_recall: the query stratum must broadcast against
    the candidate scan (the candidate side is the corpus — shuffling it
    against a 4% stratum would be the wrong plan at any scale), and the
    cosine folds stay JVM-side."""
    df = q("emb_matryoshka_recall", spark)
    assert_broadcast_join(df)
    _no_python(df._jdf.queryExecution().executedPlan().toString(), "matryoshka")


def test_threshold_sweep_axis_broadcasts(spark):
    """dedup_threshold_sweep: the 8-row threshold axis broadcasts; the
    edge table is never replicated through an exchange for it."""
    assert_broadcast_join(q("dedup_threshold_sweep", spark))


def test_rate_limit_single_partitioning_family(spark):
    """w17_rate_limit: the (user, bucket) rank window and the user
    aggregate share the user hash family — at most 2 exchanges, and no
    single-partition sort anywhere."""
    df = q("w17_rate_limit", spark)
    assert count_exchanges(df) <= 2
    assert single_partition_sorts(df) == 0


def test_ema_decay_bounded_frame_no_python(spark):
    """w18_ema_decay: one user-keyed exchange for the bounded-frame
    window; the decay fold is a JVM higher-order function."""
    df = q("w18_ema_decay", spark)
    assert count_exchanges(df) <= 1
    assert single_partition_sorts(df) == 0
    _no_python(df._jdf.queryExecution().executedPlan().toString(), "ema_decay")


def test_rule_attribution_single_corpus_pass(spark):
    """curation_rule_attribution: the rule count must not multiply
    corpus scans — exactly one parquet scan of documents in the plan."""
    plan = q("curation_rule_attribution", spark)._jdf.queryExecution(
    ).executedPlan().toString()
    import re as _re

    scans = len(_re.findall(r"documents\.parquet", plan))
    assert scans <= 1, f"expected one documents scan, got {scans}"


def test_classifier_single_pass_jvm(spark):
    """text_classifier_score: one documents scan, whole plan JVM-side
    (the hashed weights live inside expressions, no Python)."""
    plan = q("text_classifier_score", spark)._jdf.queryExecution(
    ).executedPlan().toString()
    _no_python(plan, "classifier")
    import re as _re

    assert len(_re.findall(r"documents\.parquet", plan)) <= 1


def test_shard_balance_total_broadcasts(spark):
    """shard_balance_audit: the 1-row corpus total must broadcast."""
    assert_broadcast_join(q("shard_balance_audit", spark))


def test_knn_graph_no_python_no_single_sort(spark):
    """sim_knn_graph_lsh: JVM-only (folds are higher-order functions)
    and no single-partition sort — the top-k window keys on the
    vector."""
    df = q("sim_knn_graph_lsh", spark)
    _no_python(df._jdf.queryExecution().executedPlan().toString(), "knn_graph")
    assert single_partition_sorts(df) == 0


def test_forward_fill_single_exchange(spark):
    """w19_forward_fill: exactly the one user-keyed exchange."""
    df = q("w19_forward_fill", spark)
    assert count_exchanges(df) <= 1
    assert single_partition_sorts(df) == 0


def test_norm_outliers_moments_broadcast(spark):
    """emb_norm_outliers: the 1-row moment frame broadcasts against the
    vector scan; Python-free."""
    df = q("emb_norm_outliers", spark)
    assert_broadcast_join(df)
    _no_python(df._jdf.queryExecution().executedPlan().toString(), "norm_outliers")


def test_auc_eval_collapses_before_window(spark):
    """classifier_auc_eval: the running-negatives pass must sit ABOVE
    the margin-collapsing aggregate (cardinality = distinct margins,
    not docs), the whole plan stays JVM-side, and — since distinct
    margins grow ~O(docs) — NO single-partition sort survives: the
    prefix comes from global_cumsum (sized one-partition window below
    the crossover, bucketed two-phase above)."""
    df = q("classifier_auc_eval", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    _no_python(plan, "auc_eval")
    import re as _re

    assert len(_re.findall(r"documents\.parquet", plan)) <= 1
    assert single_partition_sorts(df) == 0


def test_decile_lift_totals_broadcast(spark):
    """classifier_decile_lift: the 1-row totals frame broadcasts; one
    documents scan feeds both the rank and the gains passes."""
    df = q("classifier_decile_lift", spark)
    assert_broadcast_join(df)
    _no_python(df._jdf.queryExecution().executedPlan().toString(), "decile_lift")


@pytest.mark.parametrize(
    "name", ["classifier_auc_eval", "classifier_decile_lift"]
)
def test_classifier_eval_two_phase_forced_parity(name, spark):
    """The adaptive one-phase result (what the oracle gate checks at
    test SF) and the forced two-phase result (what actually runs above
    the crossover) must be row-identical — this pins the arithmetic
    ntile reconstruction and the exclusive-prefix rewrite on the shape
    a 100 TB corpus would execute."""
    from talknet_segmentation_batchprocessing_spark.plans import two_phase
    from talknet_segmentation_batchprocessing_spark.registry import release_persisted

    base = sorted(map(tuple, q(name, spark).collect()))
    old = two_phase.CROSSOVER_ROWS
    two_phase.CROSSOVER_ROWS = 0
    try:
        forced = sorted(map(tuple, q(name, spark).collect()))
    finally:
        two_phase.CROSSOVER_ROWS = old
        release_persisted()
    assert forced == base


def test_covariance_gram_batches_then_tiny_agg(spark):
    """emb_covariance_pairs: the Gram partials come from ONE
    MapInPandas pass (exact int64 matmul per Arrow batch — the
    documented dense-linear-algebra exception to the no-Python rule),
    merged by a d^2-key aggregate and TakeOrdered; no corpus
    self-join, no single-partition sort."""
    df = q("emb_covariance_pairs", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "SortMergeJoin" not in plan, "no corpus self-join"
    assert "TakeOrderedAndProject" in plan
    assert single_partition_sorts(df) == 0


def test_q3_dimensions_broadcast_fact_unshuffled(spark):
    """q3: customer and (orders x customer) broadcast; the lineitem
    fact side never hashes across the cluster before the aggregate;
    both date/segment filters reach their scans."""
    df = q("q3_shipping_priority", spark)
    assert_broadcast_join(df)
    assert_pushed_filter(df, "LessThan(o_orderdate")
    assert_pushed_filter(df, "GreaterThan(l_shipdate")
    assert "TakeOrderedAndProject" in (
        df._jdf.queryExecution().executedPlan().toString()
    )


def test_q5_snowflake_scale_safe_join_strategy(spark):
    """q5 (round-7 ADVICE fix): only the constant-size region->nation
    chain is force-broadcast; the SF-linear sides (supplier, customer,
    filtered orders) are LEFT TO AQE, which broadcasts them while
    small and switches to shuffled joins at scale — the old plan
    force-broadcast the orders x customer intermediate (~25M rows at
    SF100, driver OOM). Static plan contract: the dimension broadcast
    exists, the region filter reaches the scan, and nothing degenerates
    to a cartesian product; the join strategy for the big sides is
    deliberately NOT pinned."""
    df = q("q5_local_supplier_volume", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert_broadcast_join(df)
    assert_pushed_filter(df, "EqualTo(r_name,ASIA)")


def test_attribution_single_user_partitioning(spark):
    """w21: the forward-min and rank windows all key on user_id (or its
    conversion-group refinement) — no single-partition sort; JVM-only."""
    df = q("w21_attribution_linear", spark)
    _no_python(df._jdf.queryExecution().executedPlan().toString(), "attribution")
    assert single_partition_sorts(df) == 0


def test_markov_single_exchange_then_tiny_join(spark):
    """w22: one user-keyed exchange for the lead window; the
    src-marginal joins broadcast; no single-partition sort, JVM-only."""
    df = q("w22_markov_transitions", spark)
    _no_python(df._jdf.queryExecution().executedPlan().toString(), "markov")
    assert_broadcast_join(df)
    assert single_partition_sorts(df) == 0


# ------------------------------------------------------- TPC-H suite
# (round 7, queries/tpch.py): each test pins the physical posture the
# module docstring promises — pushed scans, semi/anti joins that never
# materialize fan-out, TakeOrdered top-k instead of global sorts,
# constant-size dims broadcast, SF-linear sides left to AQE, and the
# q21 single-scan rewrite.


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_pure_scan_agg(spark):
    """q6: all three predicates reach the parquet scan; the only
    exchange is the 1-row combine (no hash/range shuffle at all);
    whole plan JVM-side."""
    df = q("q6_forecast_revenue", spark)
    assert_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")
    assert_pushed_filter(df, "LessThan(l_quantity,24.0)")
    assert_pushed_filter(df, "GreaterThanOrEqual(l_discount,0.05)")
    assert count_exchanges(df) == 0
    _no_python(_executed(df), "q6")


def test_q4_exists_is_left_semi(spark):
    """q4: the EXISTS compiles to a LeftSemi join — the orders x
    lineitem fan-out is never materialized; date filter pushed."""
    df = q("q4_order_priority", spark)
    plan = _executed(df)
    assert "LeftSemi" in plan, f"expected LeftSemi:\n{plan[:3000]}"
    assert_pushed_filter(df, "GreaterThanOrEqual(o_orderdate")


def test_q7_dim_chain_broadcasts_no_cartesian(spark):
    """q7: the 2-region dim chain broadcasts onto supplier/customer;
    the pair disjunction never degenerates to a cartesian product."""
    df = q("q7_volume_shipping", spark)
    assert_broadcast_join(df)
    assert "CartesianProduct" not in _executed(df)


def test_q8_snowflake_no_cartesian_region_pushed(spark):
    """q8: 8-way snowflake stays equi-join end-to-end; region/type
    filters reach their scans; region->nation broadcast."""
    df = q("q8_market_share", spark)
    assert_broadcast_join(df)
    assert_pushed_filter(df, "EqualTo(r_name,AMERICA)")
    assert_pushed_filter(df, "EqualTo(p_type,ECONOMY)")
    assert "CartesianProduct" not in _executed(df)


def test_q10_topk_is_takeordered(spark):
    """q10: the top-20 ranking compiles to TakeOrderedAndProject (per-
    partition partial top-k), never a global sort; returnflag pushed."""
    df = q("q10_returned_items", spark)
    assert "TakeOrderedAndProject" in _executed(df)
    assert_pushed_filter(df, "EqualTo(l_returnflag,R)")
    assert single_partition_sorts(df) == 0


def test_q13_left_outer_preserved(spark):
    """q13: the join must stay LEFT OUTER (zero-order customers are
    the point); the priority filter pushes to the orders scan."""
    df = q("q13_customer_distribution", spark)
    plan = _executed(df)
    assert "LeftOuter" in plan, f"expected LeftOuter:\n{plan[:3000]}"
    assert_pushed_filter(df, "Not(EqualTo(o_orderpriority,1-URGENT))")


def test_q14_month_filter_pushed(spark):
    df = q("q14_promo_effect", spark)
    assert_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")
    assert single_partition_sorts(df) == 0


def test_q15_scalar_max_broadcasts(spark):
    """q15: the global-max scalar joins back as a 1-row broadcast —
    never a driver collect, never a shuffled join of the aggregate
    against one row."""
    df = q("q15_top_supplier", spark)
    assert_broadcast_join(df)
    assert single_partition_sorts(df) == 0


def test_q17_decorrelated_no_cartesian(spark):
    """q17: the per-part threshold join-back stays an equi-join (the
    qty < lim residue rides as a join condition, not a cartesian
    filter); no single-partition sort."""
    df = q("q17_small_qty_revenue", spark)
    plan = _executed(df)
    assert "CartesianProduct" not in plan
    assert single_partition_sorts(df) == 0
    _no_python(plan, "q17")


def test_q18_having_then_takeordered(spark):
    """q18: top-100 compiles to TakeOrderedAndProject; the qty
    aggregate is the driving side (HAVING bounds it, so no global
    sort anywhere)."""
    df = q("q18_large_volume_customers", spark)
    assert "TakeOrderedAndProject" in _executed(df)
    assert single_partition_sorts(df) == 0


def test_q19_part_residue_pushed(spark):
    """q19: the single-side (brand, size) residue of the OR-of-
    conjunctions pushes to the part scan — the scan must carry an Or
    over p_brand — while the cross-side disjunction stays a post-join
    codegen filter (not a cartesian)."""
    df = q("q19_disjunctive_revenue", spark)
    plan = formatted_plan(df)
    assert "PushedFilters: [" in plan and "Or(And(EqualTo(p_brand" in plan, (
        f"part-side Or residue not pushed:\n{plan[:4000]}"
    )
    assert "CartesianProduct" not in _executed(df)


def test_q21_single_lineitem_scan(spark):
    """q21: the whole point of the grouped rewrite — ONE lineitem scan
    where the textbook EXISTS/NOT-EXISTS plan needs three; top-100 is
    TakeOrdered."""
    df = q("q21_waiting_suppliers", spark)
    plan = _executed(df)
    li_scans = sum(
        1
        for line in plan.splitlines()
        if "lineitem.parquet" in line and ("Scan" in line or "Location" in line)
    )
    assert li_scans <= 1, f"expected one lineitem scan, got {li_scans}:\n{plan[:3000]}"
    assert "TakeOrderedAndProject" in plan


def test_q22_anti_join_and_scalar_broadcast(spark):
    """q22: the NOT-EXISTS is a LeftAnti join against the date-pushed
    orders scan; the global-average scalar is a 1-row broadcast."""
    df = q("q22_sales_opportunity", spark)
    plan = _executed(df)
    assert "LeftAnti" in plan, f"expected LeftAnti:\n{plan[:3000]}"
    assert "Broadcast" in plan
    assert_pushed_filter(df, "GreaterThanOrEqual(o_orderdate")


def test_q2_min_join_back_takeordered(spark):
    """q2: per-part min-cost join-back stays equi (partkey + exact
    BIGINT cost); top-100 is TakeOrdered; region chain broadcasts."""
    df = q("q2_min_cost_supplier", spark)
    plan = _executed(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert_broadcast_join(df)


def test_q9_name_filter_pushed_no_cartesian(spark):
    """q9: the LIKE residue pushes to the part scan; the compound-key
    lineitem x partsupp join stays an equi-join; JVM-side end to end."""
    df = q("q9_product_type_profit", spark)
    assert_pushed_filter(df, "StringContains(p_name,red)")
    plan = _executed(df)
    assert "CartesianProduct" not in plan
    _no_python(plan, "q9")
    assert single_partition_sorts(df) == 0


def test_q11_scalar_threshold_broadcasts(spark):
    """q11: the total-value scalar rides a 1-row broadcast
    (nested-loop against the per-part aggregate is fine — the build
    side is one row), never a shuffle or collect."""
    df = q("q11_important_stock", spark)
    assert_broadcast_join(df)
    assert single_partition_sorts(df) == 0


def test_q16_not_in_is_left_anti(spark):
    """q16: the NOT IN compiles to LeftAnti; the brand/type/size
    negations push to the part scan."""
    df = q("q16_supplier_part_count", spark)
    plan = _executed(df)
    assert "LeftAnti" in plan, f"expected LeftAnti:\n{plan[:3000]}"
    assert_pushed_filter(df, "Not(EqualTo(p_brand,Brand#23))")
    assert single_partition_sorts(df) == 0


def test_q20_single_lineitem_scan(spark):
    """q20: per-part totals as a window over the (part, supplier)
    aggregate — one lineitem scan (q21's rule); date filter pushed."""
    df = q("q20_dominant_suppliers", spark)
    plan = _executed(df)
    li_scans = sum(
        1
        for line in plan.splitlines()
        if "lineitem.parquet" in line and ("Scan" in line or "Location" in line)
    )
    assert li_scans <= 1, f"expected one lineitem scan, got {li_scans}"
    assert_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")
    assert single_partition_sorts(df) == 0


def test_q12_conditional_counts_one_pass(spark):
    """q12: the split is one grouped pass (no second aggregate branch,
    no distinct), the year filter pushes to the lineitem scan, and the
    whole plan stays JVM-side."""
    df = q("q12_shipping_modes", spark)
    assert_pushed_filter(df, "GreaterThanOrEqual(l_shipdate")
    plan = _executed(df)
    _no_python(plan, "q12")
    assert single_partition_sorts(df) == 0


def test_scd2_single_exchange(spark):
    """u7_scd2_history: one user_id exchange serves the change-flag
    windows, the per-run aggregate (user_id is a grouping-key prefix),
    and the lead() stitch — the dimension build never reshuffles."""
    df = q("u7_scd2_history", spark)
    assert count_exchanges(df) <= 1
    assert single_partition_sorts(df) == 0


def test_doremi_domain_rollup_broadcasts_total(spark):
    """mix_doremi_weights: the 1-row weight-total frame broadcasts
    against the 20-row domain aggregate; no single-partition sort."""
    df = q("mix_doremi_weights", spark)
    assert_broadcast_join(df)
    assert single_partition_sorts(df) == 0


def test_rank_agreement_no_single_partition_sort(spark):
    """quality_rank_agreement: the two global ranks go through the
    adaptive two-phase ranker — no Exchange SinglePartition feeding a
    Sort at scale (below the crossover the one-partition window is the
    documented adaptive choice, so assert on the >crossover path only
    via the helper's own tests); here pin that the composed plan stays
    JVM-side."""
    df = q("quality_rank_agreement", spark)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scd2_merge_refold_side_is_seed_plus_delta(spark):
    """u8_scd2_merge: no single-partition sort anywhere, and the plan
    carries the us <= cut / us > cut split (the merge half must filter
    to delta, never rescan history events)."""
    df = q("u8_scd2_merge", spark)
    assert single_partition_sorts(df) == 0
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # both sides of the cut must survive optimization as event-scan
    # predicates: the seed half reads only us <= cut, the merge half
    # only us > cut — a plan that lost either would rescan all history
    # events on the merge side and still contain the substring
    # "cut_us", which is why the weaker assert was insufficient
    assert "<= cut_us" in plan, "seed side lost its us <= cut predicate"
    assert "> cut_us" in plan, "merge side lost its us > cut predicate"


def test_plans_md_covers_every_registered_query():
    """PLANS.md must not drift from the registry (round-9 found the
    newest debut missing from the audit): its stated query count and
    its data rows both equal the registry, every registered name has
    a row, and no row is an ERR placeholder."""
    import os
    import re

    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(path) as f:
        lines = f.read().splitlines()
    m = next(
        re.search(r"\((\d+) queries\)", ln)
        for ln in lines
        if re.search(r"\(\d+ queries\)", ln)
    )
    stated = int(m.group(1))
    rows = [
        ln
        for ln in lines
        if ln.startswith("| ") and not ln.startswith("| query |")
    ]
    names = {ln.split("|")[1].strip() for ln in rows}
    assert stated == len(rows) == len(names)
    registered = set(registry.REGISTRY)
    assert names == registered, (
        f"missing rows: {sorted(registered - names)[:5]}; "
        f"stale rows: {sorted(names - registered)[:5]}"
    )
    errs = [ln for ln in rows if "| ERR |" in ln]
    assert not errs, errs[:3]


def test_plan_audit_counts_unparsed_prior_rows(tmp_path):
    """scripts/plan_audit.py --only reuses prior PLANS.md rows; a row
    that doesn't split into exactly 6 cells must be COUNTED (it gets
    re-audited as a debut), never silently dropped — silence would
    mask a corrupt prior file as a clean run."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "plan_audit.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    p = tmp_path / "PLANS.md"
    p.write_text(
        "# PLANS\n"
        "| query | BHJ | SMJ | shuffles | 1-part | NLJ |\n"
        "|---|---|---|---|---|---|\n"
        "| good_query | 1 | 0 | 2 | 0 | 0 |\n"
        "| truncated_row | 1 | 0 |\n"
        "| overlong_row | 1 | 0 | 2 | 0 | 0 | extra |\n"
    )
    rows, bad = mod._existing_rows(str(p))
    assert set(rows) == {"good_query"}
    assert bad == 2


def test_scaling_md_ratios_match_scale_curve():
    """Every '`query` N.NNx' ratio quoted in SCALING.md must match a
    ratio recorded for that query in SCALE_CURVE.json — the PLANS.md
    drift-guard pattern applied to the prose (round 10 shipped a 0.88x
    claim the same-run refresh had already moved to 1.02x)."""
    import json
    import os
    import re

    root = os.path.join(os.path.dirname(__file__), "..")
    with open(os.path.join(root, "SCALE_CURVE.json")) as f:
        curve = json.load(f)["queries"]
    with open(os.path.join(root, "SCALING.md")) as f:
        prose = f.read()

    quoted = re.findall(r"`([a-z][a-z0-9_]+)`\s+([0-9]+\.[0-9]+)×", prose)
    assert quoted, "no quoted ratios found — did the prose format change?"
    checked = 0
    for name, val in quoted:
        entry = curve.get(name)
        if entry is None:
            continue  # quoted for a non-curve metric (e.g. bench secs)
        recorded = {
            round(v, 2)
            for k, v in entry.items()
            if k.startswith(("ratio_", "two_phase_overhead"))
            and isinstance(v, (int, float))
        }
        assert float(val) in recorded, (
            f"SCALING.md quotes {name} at {val}x but SCALE_CURVE.json "
            f"records {sorted(recorded)} — update the prose"
        )
        checked += 1
    assert checked >= 5, f"guard only matched {checked} quotes"


def test_plan_audit_flags_stale_shared_modules(tmp_path):
    """--only mode must surface package modules edited after the prior
    PLANS.md that are NOT owned by the named queries — plan shape can
    change through shared helpers (round 10's global_rank change
    touched 5 queries via plans/two_phase.py)."""
    import importlib.util
    import os
    import time

    spec = importlib.util.spec_from_file_location(
        "plan_audit2",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "plan_audit.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    class _Spec:
        def __init__(self, fn):
            self.fn = fn

    class _Reg:
        pass

    # a fake package tree: the named query's module vs a shared helper
    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    owned = pkg / "owned.py"
    owned.write_text("# the named query's own module\n")
    shared = pkg / "shared_helper.py"
    shared.write_text("# a helper the named query does not own\n")

    plans = tmp_path / "PLANS.md"
    plans.write_text("| q | 1 | 0 | 1 | 0 | 0 |\n")
    past = time.time() - 3600
    os.utime(plans, (past + 1800, past + 1800))
    os.utime(owned, (past + 3000, past + 3000))   # newer than PLANS.md
    os.utime(shared, (past + 3000, past + 3000))  # newer than PLANS.md

    import types

    fake_mod = types.ModuleType("fake_owned")
    fake_mod.__file__ = str(owned)
    import sys as _sys

    _sys.modules["fake_owned"] = fake_mod
    try:
        reg = _Reg()
        reg.__file__ = str(pkg / "__init__.py")
        fn = lambda s, d: None  # noqa: E731
        fn.__module__ = "fake_owned"
        reg.REGISTRY = {"q": _Spec(fn)}
        stale = mod._stale_modules(str(plans), {"q"}, reg)
    finally:
        _sys.modules.pop("fake_owned", None)
    names = [os.path.basename(p) for p in stale]
    assert "shared_helper.py" in names, stale
    assert "owned.py" not in names, stale
