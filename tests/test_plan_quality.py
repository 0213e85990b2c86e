"""Physical-plan assertions — the 100 TB design contract (SURVEY.md §7.4
trap 10, BASELINE.json north star).

These tests pin the *plan shape*, not results: filters reach the parquet
scan, projections prune the read schema, 1-row stats frames broadcast
(never shuffle-join), LSH candidate joins stay equi (never cartesian),
and no Python evaluation appears in any SQL-expressible operator path.
A regression that keeps results correct but silently de-optimizes the
plan fails here.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL


def _explain(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def plan_of(spark, name: str) -> str:
    return _explain(spark, entrymod.queries()[name](spark, SF_SMALL))


def lazy_plan_of(spark, name: str) -> str:
    """Plan of the LAZY (materialize=False) variant for queries whose
    driver wrapper eagerly checkpoints: the wrapper's plan collapses to
    `Scan ExistingRDD`, hiding the join shape this file pins."""
    from fresco_hpc_spark.functions import (
        embedding_near_dup_pairs,
        minhash_dup_pairs,
        ngram_jaccard_pairs_prefix,
        simhash_dup_pairs,
    )

    builders = {
        "minhash_dup_pairs": lambda: minhash_dup_pairs(
            entrymod._docs_with_dups(spark, SF_SMALL), threshold=0.5
        ),
        "simhash_dup_pairs": lambda: simhash_dup_pairs(
            entrymod._docs_with_dups(spark, SF_SMALL), max_hamming=3
        ),
        "embedding_near_dups": lambda: embedding_near_dup_pairs(
            entrymod._embeddings_with_dups(spark, SF_SMALL),
            threshold=0.999,
            num_planes=8,
        ),
        "ngram_jaccard_prefix": lambda: ngram_jaccard_pairs_prefix(
            entrymod._docs_with_dups(spark, SF_SMALL), n=3, threshold=0.5
        ),
        "containment_pairs_prefix": lambda: __import__(
            "fresco_hpc_spark.functions",
            fromlist=["ngram_containment_pairs_prefix"],
        ).ngram_containment_pairs_prefix(
            entrymod._docs_with_dups(spark, SF_SMALL), n=3, threshold=0.9
        ),
        "cross_corpus_dedup": lambda: __import__(
            "fresco_hpc_spark.functions", fromlist=["minhash_dup_pairs_between"]
        ).minhash_dup_pairs_between(
            entrymod.table(spark, SF_SMALL, "documents"),
            entrymod._incoming_batch(spark, SF_SMALL),
            threshold=0.5,
        ),
        # lazy variant (materialize defaults to True since r14 —
        # VERDICT r13 item 6 — and an eager checkpoint collapses the
        # plan to ExistingRDD); centroid VALUES don't change the plan
        # shape, so two cheap literals stand in for the trained
        # spherical codebook
        "semdedup_kmeans": lambda: __import__(
            "fresco_hpc_spark.functions", fromlist=["semdedup_kmeans"]
        ).semdedup_kmeans(
            entrymod._embeddings_with_dups(spark, SF_SMALL),
            [[1.0] + [0.0] * 63, [0.0] * 63 + [1.0]],
            threshold=0.999,
            materialize=False,
        ),
        # capped variant with a cap tiny enough that the triangle
        # salting is actually IN the probed plan (g > 1)
        "semdedup_kmeans_capped": lambda: __import__(
            "fresco_hpc_spark.functions", fromlist=["semdedup_kmeans"]
        ).semdedup_kmeans(
            entrymod._embeddings_with_dups(spark, SF_SMALL),
            [[1.0] + [0.0] * 63, [0.0] * 63 + [1.0]],
            threshold=0.999,
            materialize=False,
            max_cluster_size=2,
        ),
        # graph wrappers (materialize defaults to True since r14: the
        # canonical/oriented edge lists are the algorithm's bounded
        # working set and every consumer re-expanded the kNN-graph
        # lineage — 188 parquet scans in clustering_knn's before-plan)
        "knn_triangles": lambda: _knn_graph_lazy(
            spark, "triangle_enumerate"
        ),
        "clustering_knn": lambda: _knn_graph_lazy(
            spark, "local_clustering_coefficient"
        ),
    }
    return _explain(spark, builders[name]())


def _knn_graph_lazy(spark, fn_name: str):
    from pyspark.sql import functions as F

    from fresco_hpc_spark import operators as ops
    from fresco_hpc_spark.functions import knn_graph_blocked

    edges = knn_graph_blocked(
        entrymod.table(spark, SF_SMALL, "embeddings"), k=5
    ).select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return getattr(ops, fn_name)(edges, materialize=False)


def test_time_bound_scan_is_pruned(spark):
    # The testdata's ts is parquet TIMESTAMP(NANOS) read as int64 and
    # converted with timestamp_micros(ts div 1000); the BETWEEN applies to
    # that derived (monotonic) expression, which Catalyst will not push
    # through the projection — so no PushedFilters on ts HERE. On proper
    # TimestampType data the same operator pushes fully:
    # test_planner.py::test_execute_prunes_and_matches_direct_filter
    # asserts both PartitionFilters and time PushedFilters on the store.
    plan = plan_of(spark, "time_bound_hourly")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "event_type" not in read and "props" not in read  # pruned read
    assert "Filter" in plan  # exact predicate applied above the scan


def test_hourly_agg_prunes_read_schema_and_partial_aggregates(spark):
    plan = plan_of(spark, "hourly_agg")
    # only the two needed columns reach the scan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "ts" in read and "value" in read
    assert "event_type" not in read and "props" not in read
    # map-side combine before the exchange
    assert "partial_avg" in plan or "Partial" in plan


def test_percentile_trim_broadcasts_bounds(spark):
    plan = plan_of(spark, "percentile_trimmed_hourly")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_iqr_trim_broadcasts_bounds(spark):
    plan = plan_of(spark, "iqr_trim_agg")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_histogram_bin_index_broadcasts_stats(spark):
    plan = plan_of(spark, "histogram_bin_index")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_join_is_equi_not_cartesian(spark):
    plan = lazy_plan_of(spark, "minhash_dup_pairs")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_simhash_join_is_equi_not_cartesian(spark):
    plan = lazy_plan_of(spark, "simhash_dup_pairs")
    assert "CartesianProduct" not in plan


def test_embedding_near_dups_join_is_equi(spark):
    plan = lazy_plan_of(spark, "embedding_near_dups")
    assert "CartesianProduct" not in plan


def test_knn_graph_join_is_equi_on_block(spark):
    """The kNN-graph self-join must stay an EQUI join on the block key
    — the blocking IS the scale contract (candidates ∝ Σ block², never
    corpus²)."""
    plan = plan_of(spark, "knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_pack_texts_single_data_shuffle(spark):
    """The (stratum, bin_id) groupBy must REUSE the window's
    hash(stratum) partitioning (hash(stratum) clusters every
    (stratum, bin) group), so the whole operator costs one data
    exchange plus the presentation sort — and no join."""
    plan = plan_of(spark, "pack_texts")
    assert "Join" not in plan
    # formatted explain lists nodes twice (tree + details): one data
    # exchange + one presentation range exchange = at most 4 mentions
    assert plan.count("Exchange") <= 4
    assert "hashpartitioning(source" in plan


def test_containment_prefix_join_is_equi_not_cartesian(spark):
    """The asymmetric prefix filter must still generate candidates with
    an EQUI join on the token (the size/positional conditions ride as
    join filters, never degrade to a nested-loop product)."""
    plan = lazy_plan_of(spark, "containment_pairs_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_lazy_default_keeps_plan_composable(spark):
    # materialize=False (the default) must return a plan with the join
    # visible (no eager checkpoint) and must not leave anything persisted
    plan = lazy_plan_of(spark, "ngram_jaccard_prefix")
    assert "ExistingRDD" not in plan
    assert "Join" in plan


@pytest.mark.parametrize(
    "name",
    [
        "hourly_agg", "percentile_trimmed_hourly", "topn_others",
        "histogram_bin_index", "etl_block_rates", "etl_cpu_percent",
        "text_stats", "lang_id", "exact_dedup", "minhash_dup_pairs",
        "token_counts", "rolling_fingerprint", "embedding_knn",
        "asof_click_purchase", "session_stats", "gap_fill_hourly",
        "rolling_hour_avg", "topk_users_per_event",
        "daily_uniques", "join_salted_skew", "rollup_monthly_events",
        "set_ops_events",
        # round 2
        "ngram_jaccard_prefix", "lead_quartile_events", "wide_table_roundtrip",
        "stratified_sample", "corpus_split", "repetition_stats",
        "mad_trim_agg", "time_weighted_avg", "ohlc_hourly", "rolling_zscore",
        "interval_join_clicks", "linear_trend", "histogram2d", "value_cdf",
        "funnel", "cohort_retention",
        # round 3
        "decontaminate", "quality_rules", "class_centroids", "redact_pii",
        "chunk_documents",
        # round 4 (ewma_user_value moved to the Python-by-design set in
        # r7: ewma's default route is now the linear recurrence scan)
        "tfidf_top_terms", "unigram_logprob", "cross_corpus_dedup",
        "profile_columns", "vocab_stats", "semantic_dedup",
        "temperature_mixture", "weighted_repeat",
        # round 5 (ewma_scan and phash_dup_pairs are Python-path by
        # design: the recurrence scan and the pixel decode)
        "paragraph_dedup", "dup_ngram_spans", "hopping_window",
        "remove_dup_spans", "oov_rate", "length_filter",
        "cluster_split", "bigram_logprob", "winsorize_values",
        "standardize_values", "source_quality", "pack_sequences",
        # round 6
        "containment_pairs_prefix", "pack_texts", "domain_cap", "knn_graph",
        # round 7
        "grouped_percentiles", "weighted_sample", "histogram_equi_depth",
        "pagerank_knn", "fuzzy_match_parts", "source_divergence",
        "scd2_user_state", "length_buckets", "interpolate_values",
        "nucleus_langs", "phrase_search", "cluster_hubs", "knn_triangles",
        "sorted_neighborhood", "collocations", "source_overlap",
        "clustering_knn", "fk_audit", "event_transitions", "ks_drift",
        "seasonal_profile", "name_resolution", "revenue_by_nation",
        "basket_pairs", "pagerank_knn_weighted", "revenue_monthly_yoy",
        "rfm_segments",
        # round 11 (embedding_ann_ivfpq has its own store-building plan
        # pin in test_planner — building an index inside plan_of is not
        # a pure explain; quality_classifier trains via driver-collected
        # rounds, its scoring plan is covered by the same pin below)
        "trigram_logprob", "kn_logprob", "char_entropy",
        "kmv_distinct_users", "kmv_vocab_overlap", "quality_classifier",
        "cms_token_counts", "bloom_decontaminate", "perplexity_buckets",
        # round 11 third/fourth wave (cms_heavy_hitters collects its
        # pass-1 sketch driver-side before the scoring plan exists, so
        # like quality_classifier it is probed by execution, not a pure
        # explain — null_smoke + oracles cover it)
        "hll_distinct_users", "hll_daily_rollup", "lpa_communities",
        "weighted_length_quantiles", "embedding_ann_rp", "hard_negatives",
        "normalize_text", "tfidf_search", "cusum_drift",
        "attribution_linear",
        # round 12 (the kmeans family trains via driver-collected
        # Lloyd rounds like quality_classifier — the returned
        # assignment/rollup/sampling plan is what this pin covers; the
        # PQ-family queries stay out like pq_encode, their encode
        # plans are pinned via the stored-index tests)
        "kmeans_clusters", "kmeans_assign", "kmeans_silhouette",
        "coreset_sample", "rank_fusion", "mmr_rerank",
        # round 13 (kmeans_clusters_capped trains driver-side like the
        # rest of the family; semdedup_kmeans's assignment + in-cluster
        # pair join is a pure SQL plan; corpus_retrieval_v1's MMR tail
        # collects a bounded top-10 — the retrieval legs it composes
        # are pinned below and by their standalone twins)
        "kmeans_clusters_capped", "semdedup_kmeans",
        # round 14 (the salted pair join is pure SQL: broadcast k-row
        # fan-out + explode + equi-join on the triangle key)
        "semdedup_kmeans_capped",
    ],
)
def test_no_python_eval_in_sql_paths(spark, name):
    # Every SQL-expressible operator stays JVM-side (SURVEY.md §2.10:
    # zero UDFs needed). Python evaluation nodes mean a 10-100x hot-path
    # regression at scale. Eagerly-checkpointed wrappers are probed via
    # their lazy variant (a checkpointed plan is an opaque ExistingRDD).
    if name in (
        "minhash_dup_pairs",
        "ngram_jaccard_prefix",
        "cross_corpus_dedup",
        "containment_pairs_prefix",
        "semdedup_kmeans",
        "semdedup_kmeans_capped",
        "knn_triangles",
        "clustering_knn",
    ):
        plan = lazy_plan_of(spark, name)
    else:
        plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_topn_others_window_input_is_preaggregated(spark):
    # The global row_number window is fed by the tiny category-count
    # aggregate, not raw rows: the Window must appear above a HashAggregate.
    plan = plan_of(spark, "topn_others")
    assert "Window" in plan
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:]


def test_broadcast_dim_join_broadcasts(spark):
    plan = plan_of(spark, "join_broadcast_dim")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_semi_anti_join_strategies(spark):
    plan = plan_of(spark, "join_semi_anti")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_large_join_is_equi(spark):
    # at sf0.001 Catalyst may legitimately broadcast the small side; the
    # invariant is an equi-join with no cartesian product, never the
    # strategy name (which is size-dependent by design)
    plan = plan_of(spark, "join_large_sortmerge")
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_salted_join_splits_hot_keys(spark):
    """Salting contract: identical results to the plain join, salt key in
    the join condition (the hot key spreads over n_salts partitions), and
    the replicated side shows the explode."""
    from pyspark.sql import functions as F

    from fresco_hpc_spark.operators import salted_join
    from fresco_hpc_spark.sources import table

    li = table(spark, SF_SMALL, "lineitem").select("l_partkey", "l_quantity")
    part = (
        table(spark, SF_SMALL, "part")
        .select("p_partkey", "p_brand")
        .withColumnRenamed("p_partkey", "l_partkey")
    )
    salted = salted_join(li, part, on="l_partkey", n_salts=4)
    plain = li.join(part, on="l_partkey")
    assert salted.count() == plain.count()
    a = salted.groupBy("p_brand").agg(F.sum("l_quantity").alias("s"))
    b = plain.groupBy("p_brand").agg(F.sum("l_quantity").alias("s"))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan and ("Generate explode" in plan or "explode" in plan)
    assert "CartesianProduct" not in plan


def test_gap_fill_grid_join_is_equi(spark):
    plan = plan_of(spark, "gap_fill_hourly")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_corpus_curation_no_cartesian(spark):
    # corpus_curation v1-v4 were retired from the registry in r14
    # (VERDICT r13 item 3); v5 is the one retained end-to-end pipeline
    plan = plan_of(spark, "corpus_curation_v5")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_lead_quartile_has_no_single_partition_window(spark):
    """The scale-safe quartile-label path must never funnel raw rows
    through one task: every window in the plan is partitioned (user_id)
    and the bucket labels are literal-bound when() comparisons. Since the
    r04 orderBy removal the WHOLE plan is one hash exchange — no range
    partitioning, no presentation sort (it cost a second full-relation
    shuffle for cosmetic row order the driver re-sorts anyway). An
    unpartitioned ntile window, by contrast, IS a global
    single-partition sort — built INLINE here (the registered ntile
    query was RETIRED in r7, VERDICT r6 item 6: the registry carries no
    unpartitioned windows) so the forbidden shape stays pinned as
    forbidden."""
    plan = plan_of(spark, "lead_quartile_events")
    assert "SinglePartition" not in plan
    assert "rangepartitioning" not in plan
    # formatted explain lists each node twice (tree + details); count
    # only tree lines so one physical exchange counts once
    assert plan.count("- Exchange") == 1
    assert "lead_ntile_events" not in entrymod.queries()
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = entrymod.table(spark, SF_SMALL, "events")
    ntile_df = ev.select(
        F.ntile(4).over(Window.orderBy("value", "event_id")).alias("q")
    )
    assert "SinglePartition" in _explain(spark, ntile_df)


def _data_windows_are_per_bucket(plan: str) -> bool:
    """True when the plan has a window over the data partitioned by the
    rank core's bucket column ``_b`` alongside the group: the local
    running count never spans more than one (group, bucket) slice."""
    return any(
        "windowspecdefinition" in ln and "_b#" in ln and "_v#" in ln
        for ln in plan.splitlines()
    )


def test_value_cdf_has_no_per_group_window(spark):
    """VERDICT r6 item 1: the CDF probe must never sort a whole event
    type on one task. The plan has no cume_dist, no SinglePartition
    exchange, and the window over the DATA relation is partitioned by
    the rank bucket (_b) alongside the group — only the small
    per-(group, bucket) offsets relation windows on the bare group."""
    plan = plan_of(spark, "value_cdf")
    assert "cume_dist" not in plan
    assert "SinglePartition" not in plan
    assert _data_windows_are_per_bucket(plan)


def test_profile_agg_quartiles_are_distributed(spark):
    """VERDICT r6 item 7: profile_agg's quartiles now ride the grouped
    order-statistics primitive — no exact `percentile` buffer aggregate
    (single-task value buffer per group) anywhere in the plan."""
    plan = plan_of(spark, "profile_agg_day")
    assert "percentile(" not in plan
    assert "SinglePartition" not in plan
    assert _data_windows_are_per_bucket(plan)


@pytest.mark.parametrize(
    "name",
    [
        "value_cdf",
        "ks_drift",
        "ks_drift_quantized",
        "quantile_normalize",
        "sorted_neighborhood",
        "weighted_sample",
    ],
)
def test_order_statistics_do_not_depend_on_exchange_reuse(spark, name):
    """The rank core's buckets are a pure function of the data, so its
    results must not depend on exchange reuse or AQE: with both off and
    a different partition count every consumer of the core evaluates
    its own copy of each subtree, and the rows still equal the default
    session's. ``spark.sql.exchange.reuse`` is Spark's switch; the
    ``.enabled`` spelling is the key the package's former reuse guards
    read, set too so that those guards would refuse to run."""

    def rows():
        df = entrymod.queries()[name](spark, SF_SMALL)
        return sorted((tuple(r) for r in df.collect()), key=repr)

    expected = rows()
    confs = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.exchange.reuse": "false",
        "spark.sql.exchange.reuse.enabled": "false",
        "spark.sql.adaptive.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        got = rows()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == expected


def test_rank_buckets_are_balanced(spark):
    """10k distinct lognormal values in one key spread over at least
    P/2 buckets, and no bucket holds more than 4·n/P rows."""
    import random

    from pyspark.sql import functions as F

    from fresco_hpc_spark.operators.percentiles import _value_buckets

    rng = random.Random(5)
    n, p = 10_000, 16
    vals: set[float] = set()
    while len(vals) < n:
        vals.add(rng.lognormvariate(0.0, 1.5))
    dv = spark.createDataFrame(
        [("k", v, 1) for v in vals], "g string, _v double, _cnt bigint"
    )
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(p))
    try:
        sizes = [
            r["c"]
            for r in _value_buckets(dv, ["g"])
            .groupBy("_b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert sum(sizes) == n
    assert len(sizes) >= p // 2, sizes
    assert max(sizes) <= 4 * n / p, sizes


def test_ks_quantized_has_no_value_densify(spark):
    """VERDICT r7 item 2: the bounded-grid KS must not contain the
    exact operator's groups×distinct-values densify — no cartesian or
    nested-loop join of any kind (even the 1-row stat frame rides an
    equi-join or a scalar subquery here), and every relation is
    O(counts) or O(G·bins)."""
    plan = plan_of(spark, "ks_drift_quantized")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lazy_operators_run_no_construction_jobs(spark):
    """VERDICT r6 item 4: plan CONSTRUCTION must not execute jobs — the
    old ewma auto-route probe ran the upstream plan once before the
    real job. Build a representative spread of lazy operators and
    assert the job counter never moves. (The percentile-bounds family
    — percentile_trim/iqr/mad/winsorize/quantile_bucket — is excluded
    by design: its contract is explicitly two-phase, broadcasting
    driver-side bounds as literals.)"""
    from datetime import datetime

    from fresco_hpc_spark import operators as ops

    df = spark.createDataFrame(
        [("k", datetime(2024, 1, 1), 1.0)], "k string, ts timestamp, v double"
    )
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    ops.ewma(df, "k", "v")
    ops.ewma(df, "k", "v", route="fold")
    ops.ewma_scan(df, "k", "v")
    ops.holt_scan(df, "k", "v")
    ops.hourly_agg(df, "v", "ts")
    ops.profile_agg(df, "v", time_col="ts")
    ops.grouped_value_cdf(df, ["k"], "v")
    ops.grouped_exact_percentiles(df, ["k"], "v", [0.5])
    ops.sorted_neighborhood_pairs(df, "k")
    ops.ks_vs_rest(df, "k", "v")
    ops.quantile_normalize(df, ["k"], "v", [0.0, 1.0])
    ops.sessionize(df, "k")
    ops.topn_others(df, "k", n=5)
    ops.category_counts(df, "k")
    assert tracker.getJobIdsForGroup(None) == before


def test_repetition_stats_is_narrow_map(spark):
    """Repetition scoring must stay a per-row projection: the only
    exchange allowed is the presentation orderBy's range partitioning —
    no hash exchange, no aggregate, no explode-induced shuffle."""
    plan = plan_of(spark, "repetition_stats")
    assert "hashpartitioning" not in plan
    assert "Generate" not in plan  # no explode: shingles stay in-row


def test_sampling_filters_are_map_side(spark):
    """Hash-sampling decisions are row-local: the filter must sit below
    the aggregation, and no join or broadcast appears anywhere."""
    for name in ("stratified_sample", "corpus_split"):
        plan = plan_of(spark, name)
        assert "Join" not in plan and "BroadcastExchange" not in plan


def test_interval_join_is_equi_not_nested_loop(spark):
    """The bucketized point-in-interval join must plan as an equi join
    (sort-merge or shuffled hash on (user_id, bucket)); the raw BETWEEN
    formulation would be a BroadcastNestedLoopJoin."""
    plan = plan_of(spark, "interval_join_clicks")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_decontaminate_broadcasts_eval_ngrams(spark):
    """The eval n-gram set must reach the probe side as a broadcast —
    a shuffled join here would shuffle the training corpus' exploded
    n-gram relation, the exact cost the operator exists to avoid."""
    plan = plan_of(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_paragraph_dedup_winner_is_partial_aggregated(spark):
    """The first-occurrence winner must be a partial-aggregatable
    min(struct) under the fingerprint groupBy — a window row_number
    over the fingerprint would sort each skewed boilerplate group on
    one task. Plan: HashAggregate/ObjectHashAggregate pairs around the
    fingerprint exchange, and NO Window node anywhere."""
    plan = plan_of(spark, "paragraph_dedup")
    assert "Window" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()
    assert "CartesianProduct" not in plan


def test_dup_ngram_spans_no_window_no_cartesian(spark):
    """Gram document-frequency and the per-doc rollup are partial
    aggregations; the dup flag rejoins on the md5 fingerprint equi-key."""
    plan = plan_of(spark, "dup_ngram_spans")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_hopping_window_single_aggregation(spark):
    """The window assignment is a map-side explode — exactly ONE
    aggregate exchange (plus the presentation sort), no join at all."""
    plan = plan_of(spark, "hopping_window")
    assert "Join" not in plan
    # structural, not layout-exact (ADVICE r5): one partial+final
    # aggregate pair means at most one aggregate exchange; count the
    # Exchange nodes (tree+details each appear twice in formatted
    # explain) rather than pinning one Spark version's node layout
    assert "HashAggregate" in plan
    assert plan.count("Exchange") <= 4  # agg exchange + presentation sort


def test_ewma_scan_single_shuffle_before_python(spark):
    """The scan's only data shuffle is the hash repartition on the key
    (the final orderBy adds a range exchange on the tiny result). The
    Python crossing is exactly one MapInPandas over the sorted
    partitions."""
    from fresco_hpc_spark.operators import ewma_scan
    from fresco_hpc_spark.sources import table as load_table

    ev = load_table(spark, SF_SMALL, "events").filter("value IS NOT NULL")
    plan = _explain(spark, ewma_scan(ev, "user_id", "value", time_col="ts"))
    # structural, not layout-exact (ADVICE r5): the Python crossing
    # exists, the key repartition exists, and no exchange beyond
    # repartition(key) + presentation orderBy sneaks in
    assert "MapInPandas" in plan
    assert "hashpartitioning(user_id" in plan
    assert plan.count("Exchange") <= 4


def test_oov_vocab_probe_is_broadcast(spark):
    """The bounded top-N vocabulary must broadcast — the membership
    probe is a map-side lookup, never a shuffle of the token stream."""
    plan = plan_of(spark, "oov_rate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_fuzzy_match_candidates_are_equi_join(spark):
    """The blocked-Levenshtein candidate join must be an EQUI join on
    the block token — never a cartesian/nested-loop over the distinct
    names (the whole point of blocking). The inequality (name_a <
    name_b) and the distance threshold are residual filters on the
    equi pairs."""
    plan = plan_of(spark, "fuzzy_match_parts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_pagerank_iterations_are_key_joins(spark):
    """Every PageRank iteration is an equi-join + partial-agg groupBy:
    no cartesian product anywhere, and the contribution aggregation
    hash-partitions on the destination id so the recurrence scales
    with the edge partitioning. The only SinglePartition exchanges are
    the 1-row vertex-count aggregates (bounded by construction), and
    the adaptive runtime must dedup the repeated count/edge subtrees
    via stage reuse rather than recomputing them per iteration."""
    plan = plan_of(spark, "pagerank_knn")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(_v" in plan
    df = entrymod.queries()["pagerank_knn"](spark, SF_SMALL)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_source_divergence_tokenize_stage_is_reused(spark):
    """The KL pipeline's (group, token) count shuffle feeds FOUR
    consumers (the contribution join, the group totals, the token
    totals, the corpus total). The tokenize-explode ahead of it is the
    expensive pass over the corpus — the adaptive executed plan must
    materialize that exchange once and ReusedExchange the rest, not
    re-run the explode per consumer. No cartesian anywhere (the 1-row
    corpus total rides a broadcast)."""
    plan = plan_of(spark, "source_divergence")
    assert "CartesianProduct" not in plan
    df = entrymod.queries()["source_divergence"](spark, SF_SMALL)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_scd2_single_data_shuffle(spark):
    """All three SCD2 windows (change-detection lag, episode lead,
    version row_number) share one (key, order) spec and the episode
    filter preserves partitioning — so the whole operator costs ONE
    hash exchange on the key plus the presentation sort. A second
    hash exchange means the shared-window contract broke."""
    import re

    plan = plan_of(spark, "scd2_user_state")
    hash_ex = set(re.findall(r"hashpartitioning\(user_id[^)]*", plan))
    assert len(hash_ex) == 1, hash_ex
    # physical Exchange nodes: 1 hash (data) + 1 range (presentation)
    ex_nodes = set(re.findall(r"\(\d+\) Exchange", plan))
    assert len(ex_nodes) <= 2, ex_nodes
    assert "CartesianProduct" not in plan


def test_length_buckets_is_map_side_label_plus_bins_agg(spark):
    """Equi-depth length bucketing must follow the histogram contract:
    map-side when() labeling against literal bounds, one bins-group
    aggregate — no window, no join, no sort of the data."""
    plan = plan_of(spark, "length_buckets")
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_interpolate_single_data_shuffle(spark):
    """Both ignore-nulls windows (backward last, forward first) share
    the (key, order) spec — one hash exchange on the key plus the
    presentation sort. No join, no grid: interpolation heals in
    place."""
    import re

    plan = plan_of(spark, "interpolate_values")
    hash_ex = set(re.findall(r"hashpartitioning\(user_id[^)]*", plan))
    assert len(hash_ex) == 1, hash_ex
    ex_nodes = set(re.findall(r"\(\d+\) Exchange", plan))
    assert len(ex_nodes) <= 2, ex_nodes
    assert "Join" not in plan


def test_nucleus_window_runs_over_counts_not_rows(spark):
    """The rank/cumsum window must sit ABOVE the (group, category)
    aggregate — partition size is the category domain, never the row
    count (the same contract as topk_per_group/topn_others)."""
    plan = plan_of(spark, "nucleus_langs")
    assert "Window" in plan
    # formatted explain prints the tree root-first, so the aggregate
    # FEEDING the window appears after it textually (same assertion
    # shape as test_topn_others_window_input_is_preaggregated)
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:]
    assert "CartesianProduct" not in plan


def test_phrase_search_prunes_token_partitions(spark):
    """Each phrase token's postings scan must carry a PartitionFilters
    entry on the driver-computed bucket — the I/O contract of the
    stored index (read the tokens' directories, never the corpus), the
    same shape as the IVF nprobe pruning."""
    plan = plan_of(spark, "phrase_search")
    pf_lines = [
        ln for ln in plan.splitlines()
        if "PartitionFilters" in ln and "_bkt" in ln
    ]
    # two tokens -> two pruned scans (details section lists each once)
    assert len(pf_lines) >= 2, plan[:800]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_prunes_token_partitions(spark):
    """The ranked sibling of the phrase-pruning pin: the BM25 postings
    scan must carry a PartitionFilters entry on the query terms'
    buckets (I/O ∝ the terms' posting lists, never the corpus), the
    doc-length side must come from the slim _docstats sidecar rather
    than a full-index re-aggregate, and nothing degenerates to a
    cartesian."""
    plan = plan_of(spark, "bm25_search")
    pf_lines = [
        ln for ln in plan.splitlines()
        if "PartitionFilters" in ln and "_bkt" in ln
    ]
    assert len(pf_lines) >= 1, plan[:800]
    assert "docstats" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_retrieval_v1_legs_prune_partitions(spark):
    """The composed serving pipeline's I/O contract (VERDICT r12
    item 8): BOTH retrieval legs are partition-pruned index reads.
    The final DataFrame is the driver-side MMR output (a 5-row local
    relation — the legs execute inside the pipeline), so the pin
    explains the legs against the indexes the pipeline itself built:
    the BM25 scan carries PartitionFilters on the query terms'
    buckets, the IVF scan on the probed cells; and the in-cluster
    dedup twin never degenerates to a cartesian."""
    import __spark_entry__ as m
    from fresco_hpc_spark.functions import bm25_search_table
    from fresco_hpc_spark.functions.vectors import ivf_query_index

    # build the pipeline's indexes (fingerprint-guarded, idempotent)
    m.q_corpus_retrieval_v1(spark, SF_SMALL)
    lex_plan = _explain(spark, bm25_search_table(
        spark, "retrieval_v1_text_index", "fast table scan query", top_k=20
    ))
    assert any(
        "PartitionFilters" in ln and "_bkt" in ln
        for ln in lex_plan.splitlines()
    ), lex_plan[:800]
    centroids = m._ivf_centroids(spark, SF_SMALL)
    sem_plan = _explain(spark, ivf_query_index(
        spark.table("retrieval_v1_ivf_index"),
        m._query_vector(spark, SF_SMALL),
        centroids, k=20, nprobe=4,
    ))
    assert any(
        "PartitionFilters" in ln and "_cell" in ln
        for ln in sem_plan.splitlines()
    ), sem_plan[:800]


def test_sorted_neighborhood_candidates_are_equi_join(spark):
    """The candidate generation is an equi-join on ordinal + gap, never
    a cartesian."""
    plan = plan_of(spark, "sorted_neighborhood")
    assert "CartesianProduct" not in plan


def test_revenue_star_broadcasts_dims_and_partitions_facts(spark):
    """The warehouse star join: nation/region (and the small customer
    side at this SF) broadcast; no cartesian anywhere; the fact join
    keys stay equi."""
    plan = plan_of(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_basket_pairs_joins_on_order_key(spark):
    """Market-basket candidates come from an EQUI self-join on the
    order key over the distinct (order, part) relation — pair stream is
    bounded by basket sizes, never catalog²."""
    plan = plan_of(spark, "basket_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_kmeans_assign_is_map_only(spark):
    """The k-means assignment is one narrow projection over literal
    centroid arrays: no Exchange, no join, no Python — the shape that
    lets a 100 TB corpus assign in a single scan."""
    plan = plan_of(spark, "kmeans_assign")
    # the final orderBy adds a range exchange for presentation; the
    # assignment itself must add none beyond it (formatted explain
    # mentions each node twice: tree + details)
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_kmeans_clusters_is_single_partial_agg(spark):
    """The per-cluster rollup is a k-row hash aggregate with map-side
    combine over the map-only assignment — one shuffle of k rows per
    task, nothing corpus-sized moves."""
    plan = plan_of(spark, "kmeans_clusters")
    assert "HashAggregate" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_coreset_total_is_broadcast(spark):
    """lightweight_coreset's 1-row (n, inertia) total joins back via a
    broadcast nested-loop (the percentile-bounds pattern) — never a
    shuffled join against the corpus."""
    plan = plan_of(spark, "coreset_sample")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_rank_fusion_is_bounded_join_over_topk(spark):
    """RRF fuses two ALREADY-bounded top-N relations: both retrieval
    legs end in TakeOrderedAndProject / ordered limits, and the fusion
    join shape is never cartesian against anything corpus-sized."""
    plan = plan_of(spark, "rank_fusion")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_keyed_window_exchange_width_is_pinned(spark):
    """The r14 widen_exchange contract: rolling_zscore and
    interpolate_values repartition by their key with an EXPLICIT
    partition count (REPARTITION_BY_NUM), so AQE's byte-target
    coalescing cannot serialize the CPU-bound window frames on
    small-in-bytes data; the window REUSES that single exchange (no
    second hashpartitioning of the events relation). The mapInPandas
    state scans (ewma_scan, holt_forecast) deliberately keep the
    UNPINNED keyed repartition — pinning them measured SLOWER (each
    Arrow task pays a Python-worker round trip)."""
    for name in ("rolling_zscore", "interpolate_values"):
        plan = plan_of(spark, name)
        assert "REPARTITION_BY_NUM" in plan, name
        assert plan.count("hashpartitioning(") == 1, name
    for name in ("ewma_scan", "holt_forecast"):
        plan = plan_of(spark, name)
        assert "REPARTITION_BY_NUM" not in plan, name
        assert "REPARTITION_BY_COL" in plan, name


def test_pair_fast_path_joins_on_bigint_ids(spark):
    """VERDICT r14 item 1 'done' criterion: the materialize fast path's
    candidate + verify joins key on the xxhash64 BIGINT id — no token
    STRING column survives past the audited cached relation (the cache
    itself carries (doc, tid, n_tokens, df, _collided, rk) only)."""
    from fresco_hpc_spark.functions import dedup as d

    docs = entrymod._docs_with_dups(spark, SF_SMALL)
    ranked, clean = d._hashed_ranked(docs, "text", "doc_id", 3)
    try:
        assert clean, "audit must pass on the real 64-bit hash"
        assert "token" not in ranked.columns
        for body in (
            d._prefix_jaccard_pairs(ranked, "tid", 0.5),
            d._prefix_containment_pairs(ranked, "tid", 0.8),
        ):
            plan = _explain(spark, body)
            # token strings legitimately exist UPSTREAM of the audited
            # cache (the tokenize lineage the InMemoryRelation detail
            # embeds); the contract is that no join above the cache
            # keys on them — every equi-join key line must be
            # tid/doc-derived bigints, never token#
            key_lines = [
                ln for ln in plan.splitlines() if "keys [" in ln
            ]
            assert key_lines, "expected equi-join key lines in the plan"
            assert all("token#" not in ln for ln in key_lines), key_lines
            assert any("tid#" in ln or "_t#" in ln for ln in key_lines), (
                key_lines
            )
    finally:
        ranked.unpersist()


def test_ks_quantized_is_deterministic_across_rebuilds(spark):
    """The r8/r15 offsets corruption manifests as RUN-TO-RUN variance
    (each fresh build samples new range boundaries), with big groups'
    ks_d drifting and overshooting the exact statistic. Three fresh
    builds over skewed multi-partition data must agree exactly — a
    single-run parity check can get lucky; this cannot."""
    import random

    from fresco_hpc_spark.operators.percentiles import ks_vs_rest_quantized

    rng = random.Random(8)
    rows = [("big_a", rng.gauss(50.0, 10.0)) for _ in range(900)]
    rows += [("big_b", rng.gauss(55.0, 12.0)) for _ in range(700)]
    rows += [(None, rng.uniform(0.0, 100.0)) for _ in range(150)]
    df = spark.createDataFrame(rows, "g string, v double")
    runs = [
        sorted(
            (
                (r["g"], r["ks_d"], r["ks_at"], r["ks_err_bound"])
                for r in ks_vs_rest_quantized(
                    df, "g", "v", bins=16, round_to=9
                ).collect()
            ),
            key=str,
        )
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2], runs
