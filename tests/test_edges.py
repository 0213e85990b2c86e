"""Edge probes: Q8/O5 planner parity, folder discovery (S5/S6), empty
time windows, constant-column histograms (width 0)."""

from __future__ import annotations

from fresco_hpc_spark import operators as ops
from fresco_hpc_spark.plans import execute, write_partitioned_store
from fresco_hpc_spark.sources import discover_files, discover_month_folders, table
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_q8_time_only_special_case(spark, tmp_path):
    store = str(tmp_path / "store")
    events = table(spark, SF_SMALL, "events").limit(100).withColumnRenamed("ts", "time")
    write_partitioned_store(events, store, time_col="time")
    out = execute(spark, "SELECT TIME FROM JOB_DATA", store)
    assert out.columns == ["time"]
    assert out.count() == 100


def test_row_limit_o5(spark, tmp_path):
    store = str(tmp_path / "store2")
    events = table(spark, SF_SMALL, "events").withColumnRenamed("ts", "time")
    write_partitioned_store(events, store, time_col="time")
    sql = ("SELECT * FROM s3_fresco WHERE time BETWEEN "
           "'2024-01-01 00:00:00' AND '2024-01-31 00:00:00'")
    assert execute(spark, sql, store, row_limit=7).count() == 7


def test_discovery(spark, tmp_path):
    for name in ("2024-01", "2024-02", "not-a-month", "2024-13x"):
        d = tmp_path / name
        d.mkdir()
        (d / "block.csv").write_text("a,b\n1,2\n")
        (d / "cpu.csv").write_text("a,b\n1,2\n")
        (d / "readme.txt").write_text("x")
    folders = discover_month_folders(spark, str(tmp_path))
    assert [f.rsplit("/", 1)[-1] for f in folders] == ["2024-01", "2024-02"]
    only_jan = discover_month_folders(spark, str(tmp_path), folder_pattern=r"-01$")
    assert len(only_jan) == 1
    files = discover_files(spark, folders, ["block", "cpu"])
    assert len(files) == 4
    assert all(f.endswith(".csv") for f in files)


def test_empty_time_window(spark):
    events = table(spark, SF_SMALL, "events")
    empty = ops.time_bound(events, "2030-01-01", "2030-01-02", time_col="ts")
    assert ops.hourly_agg(empty, "value", time_col="ts").count() == 0
    assert ops.topn_others(empty, "event_type").count() == 0


def test_constant_column_histogram_zero_width(spark):
    df = table(spark, SF_SMALL, "events").withColumn("k", F.lit(5.0))
    # width = (max-min)/bins = 0 → the NULLIF/zero-width guard must put
    # every row in one bin, not divide by zero (A9 semantics,
    # databaseOptimization.ts:222-264)
    h = ops.histogram_bin_index(df, "k", bins=10).collect()
    nonempty = [r for r in h if r["count"] > 0]
    assert len(nonempty) == 1
    assert nonempty[0]["count"] == 1000


def test_percentile_trim_on_empty_input(spark):
    events = table(spark, SF_SMALL, "events").filter(F.lit(False))
    assert ops.percentile_trim(events, "value").count() == 0


def test_quantile_bucket_nulls_and_empty(spark):
    from fresco_hpc_spark.operators import quantile_bucket

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0), (5, None)],
        "id bigint, v double",
    )
    out = {r.id: r.bucket for r in quantile_bucket(df, "v").collect()}
    assert out[5] is None  # null value -> null label, not the top bucket
    assert out[1] == 1 and out[4] == 4
    assert sorted(out[i] for i in (1, 2, 3, 4)) == [1, 2, 3, 4]

    empty = df.filter("v IS NULL AND id < 0")
    rows = quantile_bucket(empty, "v").collect()
    assert rows == []


def test_histogram2d_constant_axis(spark):
    from fresco_hpc_spark.operators import histogram2d

    df = spark.createDataFrame(
        [(5.0, float(i)) for i in range(100)], "x double, y double"
    )
    out = histogram2d(df, "x", "y", x_bins=10, y_bins=4).collect()
    # constant x -> every row in x_bin 0; y spreads over all 4 bins
    assert {r.x_bin for r in out} == {0}
    assert {r.y_bin for r in out} == {0, 1, 2, 3}
    assert sum(r["count"] for r in out) == 100


def test_driver_contract_consistency():
    """Every oracle_sql() key must name a queries() entry (a typo here
    silently downgrades a query to the weaker rows-only check), and since
    round 4 EVERY query has an oracle — the multimodal trio's driver
    projections emit scalar descriptors with closed-form SQL twins, so a
    missing oracle is always a bug now."""
    import __spark_entry__ as m

    qs, oracles = set(m.queries()), set(m.oracle_sql())
    assert oracles <= qs, f"orphan oracles: {oracles - qs}"
    assert qs - oracles == set(), f"queries without oracle: {qs - oracles}"


def _certification_ledger() -> tuple[dict[str, int], int]:
    """(newest driver CORRECTNESS row per query, current round number)
    derived from the CORRECTNESS_r*.json files on disk — the driver's
    actual ledger, not a hand-maintained list. The current round is one
    past the newest recorded file (the driver writes r{N} at the END of
    round N)."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest: dict[str, int] = {}
    max_round = 0
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        max_round = max(max_round, rnd)
        for name in json.load(open(path)):
            newest[name] = max(rnd, newest.get(name, 0))
    return newest, max_round + 1


def test_correctness_window_contains_priority_queries():
    """The driver certifies the FIRST 50 queries() keys each round. The
    round-16 window must hold the 44 queries whose newest certification
    row is r12 — all of them go >=5 rounds stale the moment
    CORRECTNESS_r16 lands, so this round clears the whole r12 tranche —
    plus 6 proactive r13 rotations that new r16 arrivals would displace
    as they land. An accidental insertion above them silently pushes the
    tail out of the window while the comments still claim coverage (r6
    review finding: three queries drifted to positions 51-53; r9
    repeat: boilerplate_remove pushed time_extent to position 51). The
    pin is exactly window-sized: an insertion that grows it past 50
    fails HERE, at authoring time, not at judging time. Bench-order
    dependencies are pinned too: index_build_text (outside the window
    this round) must precede phrase_search and bm25_search in dict
    order so their bench numbers are query-only."""
    import __spark_entry__ as m

    names = list(m.queries())
    window = names[:50]
    priority = {
        # the 44 r12-certified queries — >=5 rounds stale when
        # CORRECTNESS_r16 lands; the ledger invariant below forces
        # exactly this set to lead the window
        "profile_agg_day", "profile_agg_minute", "grouped_percentiles",
        "histogram_equi_depth", "weighted_sample", "ewma_user_value",
        "knn_graph", "knn_graph_ivf", "pagerank_knn", "fuzzy_match_parts",
        "source_divergence", "scd2_user_state", "nucleus_langs",
        "length_buckets", "interpolate_values", "cluster_hubs",
        "knn_triangles", "sorted_neighborhood", "collocations",
        "source_overlap", "clustering_knn", "fk_audit",
        "event_transitions", "ks_drift", "pack_texts",
        "ngram_jaccard_prefix", "ngram_jaccard_prefix_zipf",
        "containment_pairs_prefix", "containment_plain_zipf",
        "containment_prefix_zipf", "time_extent", "kmeans_clusters",
        "kmeans_assign", "kmeans_silhouette", "coreset_sample",
        "pq_encode_opq", "ann_recall_pq", "ann_recall_opq", "rank_fusion",
        "mmr_rerank", "seasonal_profile", "name_resolution",
        "revenue_by_nation", "revenue_monthly_yoy",
        # proactive r13 rotations (49 r13 rows go stale at r17; this
        # tranche smooths the r17 window to 43 + arrivals). New r16
        # arrivals would displace these fillers as they land.
        "rfm_segments", "basket_pairs", "pagerank_knn_weighted",
        "ks_drift_quantized", "ks_reference_drift", "data_quality_checks",
    }
    assert len(priority) == 50, (
        f"priority pin must be exactly window-sized, got {len(priority)}"
    )
    missing = priority - set(window)
    assert not missing, f"priority queries outside the 50-window: {missing}"
    assert names.index("index_build_text") < names.index("phrase_search")
    assert names.index("index_build_text") < names.index("bm25_search")


def test_certification_window_rotation_invariant():
    """VERDICT r10 item 2: the window must be DERIVED from the driver's
    certification ledger, not trusted to a hand-pinned list that can go
    stale (the rotation stalled once at r9 and nearly again at r10).
    Structural rules, valid for any future round without editing this
    test:

    1. every registered query that has NEVER been driver-certified must
       sit inside the first-50 window (arrivals certify in their
       arrival round);
    2. no query OUTSIDE the window may have a newest driver row more
       than 4 rounds old (164+ queries / 50 per round = a full rotation
       every ~4 rounds — anything older means the rotation stalled);
    3. window slots spent on already-fresh queries (newest row within 2
       rounds) are wasted rotation bandwidth — allow at most 2 (the
       build-exhibit exception: index_build_text must precede
       bm25_search in dict order).
    """
    import __spark_entry__ as m

    newest, current_round = _certification_ledger()
    names = list(m.queries())
    window, outside = set(names[:50]), names[50:]

    never = {n for n in names if n not in newest}
    uncertified_outside = never - window
    assert not uncertified_outside, (
        f"never-certified queries outside the window: {uncertified_outside}"
    )

    stalled = {
        n: newest[n]
        for n in outside
        if n in newest and newest[n] <= current_round - 5
    }
    assert not stalled, (
        f"rotation stalled — queries outside the window with a newest "
        f"driver row ≥5 rounds old (current round {current_round}): {stalled}"
    )

    fresh_in_window = {
        n: newest[n]
        for n in window
        if n in newest and newest[n] >= current_round - 2
    }
    assert len(fresh_in_window) <= 2, (
        f"window wastes {len(fresh_in_window)} slots on already-fresh "
        f"queries: {fresh_in_window}"
    )
