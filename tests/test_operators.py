

import pytest


def test_time_weighted_avg_hand_computed(spark):
    from datetime import datetime

    from fresco_hpc_spark.operators import time_weighted_avg

    rows = [
        # key 1: value 10 holds 10s, value 20 holds 30s -> (100+600)/40 = 17.5
        (1, datetime(2024, 1, 1, 0, 0, 0), 10.0, 1),
        (1, datetime(2024, 1, 1, 0, 0, 10), 20.0, 2),
        (1, datetime(2024, 1, 1, 0, 0, 40), 99.0, 3),  # last sample: no hold
        # key 2: single sample -> NULL
        (2, datetime(2024, 1, 1, 0, 0, 0), 5.0, 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double, event_id bigint"
    )
    out = {
        r.user_id: r.time_weighted_avg
        for r in time_weighted_avg(
            df, "user_id", tiebreak_col="event_id"
        ).collect()
    }
    assert out[1] == 17.5
    assert out[2] is None


def test_ohlc_downsample_hand_computed(spark):
    from datetime import datetime

    from fresco_hpc_spark.operators import ohlc_downsample

    rows = [
        (1, datetime(2024, 1, 1, 0, 5), 3.0, 1),
        (1, datetime(2024, 1, 1, 0, 10), 9.0, 2),
        (1, datetime(2024, 1, 1, 0, 50), 1.0, 3),
        (1, datetime(2024, 1, 1, 1, 0), 7.0, 4),  # next hour
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double, event_id bigint"
    )
    out = ohlc_downsample(df, "user_id", bucket="hour").collect()
    assert len(out) == 2
    first = out[0]
    assert (first.open, first.high, first.low, first.close, first.n_points) == (
        3.0, 9.0, 1.0, 1.0, 3,
    )
    assert (out[1].open, out[1].close, out[1].n_points) == (7.0, 7.0, 1)


def test_mad_trim_robust_to_outliers(spark):
    from fresco_hpc_spark.operators import mad_trim

    base = [(i, 100.0 + (i % 7)) for i in range(100)]
    outliers = [(1000 + i, 1e9) for i in range(5)]
    df = spark.createDataFrame(base + outliers, "id bigint, v double")
    kept = mad_trim(df, "v", k=3.0)
    assert kept.count() == 100  # every 1e9 outlier cut, all inliers kept
    assert kept.agg({"v": "max"}).collect()[0][0] < 1000


def test_interval_join_inner_and_left(spark):
    from datetime import datetime

    from fresco_hpc_spark.operators import interval_join

    points = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 30)),   # inside iv A
            (1, datetime(2024, 1, 1, 5, 0)),    # no interval
            (2, datetime(2024, 1, 1, 0, 45)),   # other key: no match
        ],
        "user_id bigint, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (1, "A", datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 1, 0)),
            # spans 3 buckets at 3600s: explode covers multi-bucket spans
            (1, "B", datetime(2024, 1, 1, 0, 15), datetime(2024, 1, 1, 2, 30)),
        ],
        "user_id bigint, name string, s timestamp, e timestamp",
    )
    inner = interval_join(
        points, intervals, "ts", "s", "e", keys=["user_id"]
    )
    got = {(r.ts.minute, r.name) for r in inner.collect()}
    assert got == {(30, "A"), (30, "B")}

    left = interval_join(
        points, intervals, "ts", "s", "e", keys=["user_id"], how="left"
    )
    rows = left.collect()
    assert len(rows) == 4  # 2 matches + 2 unmatched points with null names
    assert sum(1 for r in rows if r.name is None) == 2


def test_interval_join_left_with_null_point_columns(spark):
    """Regression (ADVICE r02): a matched point carrying a NULL in a
    non-key column must emit exactly once — the old anti-join remainder
    used null-unsafe equality and double-emitted such rows."""
    from datetime import datetime

    from fresco_hpc_spark.operators import interval_join

    points = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 30), None),       # matched, null payload
            (1, datetime(2024, 1, 1, 5, 0), "x"),         # unmatched
            (1, datetime(2024, 1, 1, 6, 0), None),        # unmatched, null payload
        ],
        "user_id bigint, ts timestamp, tag string",
    )
    intervals = spark.createDataFrame(
        [(1, "A", datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 1, 0))],
        "user_id bigint, name string, s timestamp, e timestamp",
    )
    left = interval_join(
        points, intervals, "ts", "s", "e", keys=["user_id"], how="left"
    )
    rows = left.collect()
    assert len(rows) == 3  # one row per point, never duplicated
    by_min = {r.ts.minute if r.ts.hour == 0 else r.ts.hour * 100: r for r in rows}
    assert by_min[30].name == "A" and by_min[30].tag is None
    assert by_min[500].name is None and by_min[600].name is None


def test_cohort_retention_rejects_calendar_buckets(spark):
    from fresco_hpc_spark.operators import cohort_retention

    df = spark.createDataFrame([(1, None)], "user_id bigint, ts timestamp")
    with pytest.raises(ValueError, match="day.*hour|hour.*day"):
        cohort_retention(df, bucket="week")


def test_rolling_zscore_flags_spike(spark):
    from datetime import datetime, timedelta

    from fresco_hpc_spark.operators import rolling_zscore

    base = datetime(2024, 1, 1)
    rows = [
        (1, base + timedelta(minutes=i), 100.0 + (i % 3), i) for i in range(20)
    ] + [(1, base + timedelta(minutes=20), 1000.0, 20)]  # spike
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double, event_id bigint"
    )
    out = {r.event_id: r for r in rolling_zscore(df, "user_id").collect()}
    assert out[0].zscore is None and out[0].is_anomaly is False  # warmup
    assert out[20].is_anomaly is True and out[20].zscore > 100
    assert all(not out[i].is_anomaly for i in range(20))


def test_funnel_strict_ordering(spark):
    from datetime import datetime, timedelta

    from fresco_hpc_spark.operators import funnel_counts

    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)
    rows = [
        # user 1 completes in order
        (1, "view", t(0)), (1, "click", t(1)), (1, "purchase", t(2)),
        # user 2 clicks BEFORE viewing: click must not count
        (2, "click", t(0)), (2, "view", t(1)),
        # user 3 views only
        (3, "view", t(0)),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, event_type string, ts timestamp")
    out = {r.step_name: r.n_keys for r in funnel_counts(df, ["view", "click", "purchase"]).collect()}
    assert out == {"view": 3, "click": 1, "purchase": 1}


def test_cohort_retention_triangle(spark):
    from datetime import datetime

    from fresco_hpc_spark.operators import cohort_retention

    rows = [
        (1, datetime(2024, 1, 1, 5)), (1, datetime(2024, 1, 2, 9)),   # day0+day1
        (2, datetime(2024, 1, 1, 7)),                                  # day0 only
        (3, datetime(2024, 1, 2, 1)), (3, datetime(2024, 1, 2, 23)),  # later cohort, 1 bucket
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    out = {(r.cohort.day, r.offset): r.n_active for r in cohort_retention(df).collect()}
    assert out == {(1, 0): 2, (1, 1): 1, (2, 0): 1}


def test_profile_columns_hand_computed(spark):
    """Nulls, distincts, and typed min/max: numerics/timestamps get
    DOUBLE min/max (ts as epoch seconds), strings NULL."""
    from datetime import datetime

    from fresco_hpc_spark.operators import profile_columns

    df = spark.createDataFrame(
        [
            (1, 10.0, "a", datetime(2024, 1, 1)),
            (2, None, "b", datetime(2024, 1, 2)),
            (3, 30.0, "a", None),
            (None, 10.0, None, datetime(2024, 1, 1)),
        ],
        "id bigint, v double, s string, t timestamp",
    )
    out = {r.column: r for r in profile_columns(df).collect()}
    assert set(out) == {"id", "v", "s", "t"}
    assert out["id"].n_rows == 4 and out["id"].n_nulls == 1
    assert out["id"].n_distinct == 3 and out["id"].min_value == 1.0
    assert out["v"].n_nulls == 1 and out["v"].n_distinct == 2
    assert out["v"].min_value == 10.0 and out["v"].max_value == 30.0
    assert out["v"].null_frac == 0.25
    assert out["s"].min_value is None and out["s"].max_value is None
    assert out["s"].n_distinct == 2
    # timestamp min/max as epoch seconds (session TZ = UTC)
    assert out["t"].min_value == datetime(2024, 1, 1).timestamp() or \
        out["t"].min_value == 1704067200.0
    assert out["t"].n_nulls == 1


def test_profile_columns_interval_and_date_take_null_branch(spark):
    """ADVICE r4: the old prefix match ('int'...) caught 'interval day'
    dtypes and the cast-to-double raised an AnalysisException. Interval
    and date columns must profile with NULL min/max, not fail."""
    from fresco_hpc_spark.operators import profile_columns

    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, INTERVAL '2' DAY, DATE '2024-01-01'), "
        "(2, INTERVAL '3' DAY, DATE '2024-02-01'), "
        "(3, NULL, NULL) AS t(id, dur, d)"
    )
    out = {r.column: r for r in profile_columns(df).collect()}
    assert out["dur"].min_value is None and out["dur"].max_value is None
    assert out["dur"].n_nulls == 1 and out["dur"].n_distinct == 2
    assert out["d"].min_value is None and out["d"].n_nulls == 1
    assert out["id"].min_value == 1.0  # plain ints still numeric


def test_profile_columns_empty_table(spark):
    from fresco_hpc_spark.operators import profile_columns

    df = spark.createDataFrame([], "id bigint, s string")
    out = {r.column: r for r in profile_columns(df).collect()}
    assert out["id"].n_rows == 0 and out["id"].n_nulls == 0
    assert out["id"].null_frac == 0.0 and out["id"].n_distinct == 0
    assert out["id"].min_value is None


def test_ewma_hand_computed(spark):
    """s0=v0; s_i = 0.3*v + 0.7*s. Two keys, interleaved input order —
    the fold must sort by time within each key first."""
    from datetime import datetime

    from fresco_hpc_spark.operators import ewma

    rows = [
        ("a", datetime(2024, 1, 1, 0, 2), 20.0),  # out of order on purpose
        ("a", datetime(2024, 1, 1, 0, 1), 10.0),
        ("a", datetime(2024, 1, 1, 0, 3), 0.0),
        ("b", datetime(2024, 1, 1, 0, 1), 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {(r.k, r.ts.minute): r.ewma for r in ewma(df, "k", "v").collect()}
    s1 = 10.0
    s2 = 0.3 * 20.0 + (1.0 - 0.3) * s1
    s3 = 0.3 * 0.0 + (1.0 - 0.3) * s2
    assert out[("a", 1)] == round(s1, 6)
    assert out[("a", 2)] == round(s2, 6)
    assert out[("a", 3)] == round(s3, 6)
    assert out[("b", 1)] == 5.0


def _lcg_series(n, seed=1):
    """Deterministic pseudo-random doubles in [0, 100) — no
    Math.random in tests (reproducibility)."""
    x, out = seed, []
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        out.append((x >> 11) % 10_000_000 / 100_000.0)
    return out


def test_ewma_scan_bit_identical_to_fold(spark):
    """VERDICT r4 item 3: the linear scan must agree with the quadratic
    JVM fold bit-for-bit, including on a LONG series where float drift
    would surface (5 000 steps of compounding) and across interleaved
    keys. Both apply the same JVM-side rounding, so equality of the
    rounded output certifies pre-round bit-identity to 1e-6 precision;
    the long series makes any op-order divergence compound visibly."""
    from datetime import datetime, timedelta

    from fresco_hpc_spark.operators import ewma, ewma_scan

    t0 = datetime(2024, 1, 1)
    rows = []
    for k, n in (("a", 5000), ("b", 1), ("c", 137)):
        for i, v in enumerate(_lcg_series(n, seed=ord(k))):
            rows.append((k, t0 + timedelta(seconds=i), v))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double").repartition(8)
    fold = [tuple(r) for r in ewma(df, "k", "v", alpha=0.3, route="fold").collect()]
    scan = [tuple(r) for r in ewma_scan(df, "k", "v", alpha=0.3).collect()]
    assert len(fold) == 5138
    assert fold == scan


def test_ewma_scan_null_propagation_matches_fold(spark):
    """ADVICE r5: a NULL value must poison the rest of the key's series
    with SQL NULL in BOTH variants (α·v + (1−α)·NULL = NULL), not
    become NaN or raise in the scan. Covers null at series start, null
    mid-series, and an untouched clean key."""
    from datetime import datetime, timedelta

    from fresco_hpc_spark.operators import ewma, ewma_scan

    t0 = datetime(2024, 1, 1)
    rows = [
        ("start_null", t0, None),
        ("start_null", t0 + timedelta(seconds=1), 5.0),
        ("mid_null", t0, 10.0),
        ("mid_null", t0 + timedelta(seconds=1), None),
        ("mid_null", t0 + timedelta(seconds=2), 7.0),
        ("clean", t0, 4.0),
        ("clean", t0 + timedelta(seconds=1), 8.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    fold = [tuple(r) for r in ewma(df, "k", "v", route="fold").collect()]
    scan = [tuple(r) for r in ewma_scan(df, "k", "v").collect()]
    assert fold == scan
    by_key = {}
    for k, _, s in scan:
        by_key.setdefault(k, []).append(s)
    assert by_key["start_null"] == [None, None]
    assert by_key["mid_null"] == [10.0, None, None]
    assert by_key["clean"] == [4.0, round(0.3 * 8.0 + 0.7 * 4.0, 6)]


def test_ewma_routes_lazily(spark):
    """VERDICT r6 item 4: ewma() routes by the `route` parameter alone —
    the default is the linear scan (never asymptotically worse), the
    fold is the opt-in micro-key variant, and NO job runs at
    construction time (the old auto-route probe executed the upstream
    plan once before the real job). Zero-eager-jobs is asserted with a
    job-start listener."""
    from datetime import datetime, timedelta

    from fresco_hpc_spark.operators import timeseries as ts_mod

    t0 = datetime(2024, 1, 1)
    rows = [
        ("k", t0 + timedelta(seconds=i), float(i % 7)) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    routed = ts_mod.ewma(df, "k", "v")
    fold = ts_mod.ewma(df, "k", "v", route="fold")
    assert tracker.getJobIdsForGroup(None) == before  # construction ran no job
    assert "MapInPandas" in routed._jdf.queryExecution().analyzed().toString()
    assert "MapInPandas" not in fold._jdf.queryExecution().analyzed().toString()
    assert [tuple(r) for r in routed.collect()] == [
        tuple(r) for r in fold.collect()
    ]
    with pytest.raises(ValueError):
        ts_mod.ewma(df, "k", "v", route="nope")


def test_holt_scan_hand_computed(spark):
    """l1=v1, b1=0; l_i = 0.5*v + 0.5*(l+b); b_i = 0.5*(l_i - l_prev)
    + 0.5*b_prev — a perfectly linear series locks the trend onto the
    slope and the forecast converges to the next value. Also pins the
    null-poison contract and per-key state isolation."""
    from datetime import datetime, timedelta

    from fresco_hpc_spark.operators import holt_scan

    t0 = datetime(2024, 1, 1)
    rows = [("k", t0 + timedelta(seconds=i), float(10 + 2 * i)) for i in range(4)]
    rows += [("p", t0, 5.0), ("p", t0 + timedelta(seconds=1), None)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        (r.k, r.ts.second): (r.level, r.trend, r.forecast)
        for r in holt_scan(df, "k", "v", alpha=0.5, beta=0.5).collect()
    }
    # hand-rolled recurrence
    l, b = 10.0, 0.0
    expect = [(l, b)]
    for v in (12.0, 14.0, 16.0):
        nl = 0.5 * v + (1.0 - 0.5) * (l + b)
        b = 0.5 * (nl - l) + (1.0 - 0.5) * b
        l = nl
        expect.append((l, b))
    for i, (el, eb) in enumerate(expect):
        gl, gb, gf = out[("k", i)]
        assert gl == round(el, 6) and gb == round(eb, 6)
        assert gf == round(el + eb, 6)
    # null poisons the rest of the key; other keys untouched
    assert out[("p", 0)] == (5.0, 0.0, 5.0)
    assert out[("p", 1)] == (None, None, None)


def test_ewma_accepts_epoch_long_time_col(spark):
    """ADVICE r4: the fold's zero value is now derived from the input,
    so a non-timestamp time column (epoch long) works in both variants
    and they still agree."""
    from fresco_hpc_spark.operators import ewma, ewma_scan

    rows = [("k", 1000 + i, v) for i, v in enumerate(_lcg_series(50))]
    df = spark.createDataFrame(rows, "k string, t bigint, v double")
    fold = [tuple(r) for r in ewma(df, "k", "v", time_col="t", route="fold").collect()]
    scan = [tuple(r) for r in ewma_scan(df, "k", "v", time_col="t").collect()]
    assert fold == scan and len(fold) == 50
    assert fold[0][2] == round(_lcg_series(1)[0], 6)


def test_hopping_window_agg_hand_computed(spark):
    """1h windows sliding 15m: an event at 00:40 lands in the four
    windows starting 23:45..00:30; only non-empty windows emit; the mean
    rides integer micro-units."""
    from datetime import datetime

    from fresco_hpc_spark.operators import hopping_window_agg

    df = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 0, 40), 10.0),
            (datetime(2024, 1, 1, 0, 50), 20.0),
            (datetime(2024, 1, 1, 2, 0), 7.0),
            (datetime(2024, 1, 1, 0, 5), None),  # nulls excluded
        ],
        "ts timestamp, value double",
    )
    out = {
        r.window_start: (r.n_events, r.avg_value)
        for r in hopping_window_agg(df, "value").collect()
    }
    # both 00:40 and 00:50 fall in windows starting 00:00..00:30
    for m in (0, 15, 30):
        assert out[datetime(2024, 1, 1, 0, m)] == (2, 15.0)
    # 23:45 window holds only the 00:40 event
    assert out[datetime(2023, 12, 31, 23, 45)] == (1, 10.0)
    # 00:45 window holds only the 00:50 event
    assert out[datetime(2024, 1, 1, 0, 45)] == (1, 20.0)
    # the 02:00 event fills its own four windows
    assert out[datetime(2024, 1, 1, 2, 0)] == (1, 7.0)
    # 5 windows cover the 00:40/00:50 cluster (23:45..00:45), 4 cover 02:00
    assert len(out) == 5 + 4


def test_winsorize_clips_and_preserves_rows(spark):
    """[p25, p75] over 1..21 (PERCENTILE_CONT: 6 and 16): tails pull to
    the edges, interior values pass through, nulls survive unclipped,
    row count unchanged."""
    from fresco_hpc_spark.operators import winsorize

    rows = [(i, float(i)) for i in range(1, 22)] + [(99, None)]
    df = spark.createDataFrame(rows, "id bigint, v double")
    out = {r.id: r for r in winsorize(df, "v", 0.25, 0.75).collect()}
    assert len(out) == 22
    assert out[1].v_winsorized == 6.0 and out[1].was_clipped
    assert out[21].v_winsorized == 16.0 and out[21].was_clipped
    assert out[10].v_winsorized == 10.0 and not out[10].was_clipped
    assert out[6].v_winsorized == 6.0 and not out[6].was_clipped  # edge: not clipped
    assert out[99].v_winsorized is None and not out[99].was_clipped


def test_winsorize_all_null_column_degenerates_gracefully(spark):
    from fresco_hpc_spark.operators import winsorize

    df = spark.createDataFrame(
        [(1, None), (2, None)], "id bigint, v double"
    )
    out = winsorize(df, "v").collect()
    assert len(out) == 2
    assert all(r.v_winsorized is None and not r.was_clipped for r in out)


def test_grouped_value_cdf_matches_cume_dist_window(spark):
    """VERDICT r6 item 1: the distributed order-statistics CDF must
    reproduce the per-group cume_dist window relation exactly —
    including tie groups (equal values share one cdf), probe points
    that no row lands on (absent, not interpolated), and a
    single-value group (cdf 1.0). NULL values are excluded by
    contract."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fresco_hpc_spark.operators import grouped_value_cdf

    rows = []
    # group 'a': 1..10 → every decile lands exactly on one value
    rows += [("a", float(i)) for i in range(1, 11)]
    # group 'b': 20 rows with heavy ties → decile probes hit tie edges
    rows += [("b", float(v)) for v in [1, 1, 1, 1, 2, 2, 2, 2, 3, 3,
                                       3, 3, 4, 4, 4, 4, 5, 5, 5, 5]]
    # group 'c': single value; group 'd': one real value + a NULL;
    # NULL group: a legitimate group of its own (null-safe offsets join)
    rows += [("c", 7.0), ("d", 9.0), ("d", None), (None, 2.0), (None, 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    nkey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    got = sorted(
        (tuple(r) for r in grouped_value_cdf(df, ["g"], "v").collect()),
        key=nkey,
    )
    w = Window.partitionBy("g").orderBy("v")
    expect = sorted(
        (
            tuple(r)
            for r in df.filter(F.col("v").isNotNull())
            .select("g", "v", F.round(F.cume_dist().over(w), 6).alias("cdf"))
            .filter(F.col("cdf").isin([round(0.1 * i, 1) for i in range(1, 11)]))
            .groupBy("g", "cdf")
            .agg(F.round(F.max("v"), 6).alias("value_at"))
            .collect()
        ),
        key=nkey,
    )
    assert got == expect
    by_g = {}
    for g, cdf, v in got:
        by_g.setdefault(g, []).append((cdf, v))
    assert by_g["a"] == [(round(0.1 * i, 1), float(i)) for i in range(1, 11)]
    # ties: each value covers 4/20 = 0.2 of the mass
    assert by_g["b"] == [(0.2, 1.0), (0.4, 2.0), (0.6, 3.0), (0.8, 4.0), (1.0, 5.0)]
    assert by_g["c"] == [(1.0, 7.0)]
    assert by_g["d"] == [(1.0, 9.0)]  # NULL excluded from n
    assert by_g[None] == [(0.5, 2.0), (1.0, 4.0)]  # NULL group kept


def test_grouped_exact_percentiles_matches_buffer_aggregate(spark):
    """VERDICT r6 item 7: the grouped distributed order statistics must
    agree with Spark's exact interpolating `percentile` buffer
    aggregate bit-for-bit across interpolated positions, exact-hit
    positions, tie runs, and a single-row group."""
    from pyspark.sql import functions as F

    from fresco_hpc_spark.operators import grouped_exact_percentiles

    rows = [("a", float(v)) for v in _lcg_series(101)]
    rows += [("b", float(v // 3)) for v in range(10)]  # tie runs
    rows += [("solo", 42.5)]
    rows += [(None, float(v)) for v in range(5)]  # NULL group kept
    df = spark.createDataFrame(rows, "g string, v double").repartition(7)
    fracs = [0.0, 0.25, 0.5, 0.613, 0.75, 1.0]
    got = {
        (r.g, r.fraction): r.value
        for r in grouped_exact_percentiles(df, ["g"], "v", fracs).collect()
    }
    arr = ",".join(repr(f) for f in fracs)
    expect_rows = df.groupBy("g").agg(
        F.expr(f"percentile(v, array({arr}))").alias("q")
    ).collect()
    expect = {
        (r.g, f): v for r in expect_rows for f, v in zip(fracs, r.q)
    }
    assert set(got) == set(expect)
    for k in expect:
        assert got[k] == expect[k], k


def test_standardize_per_group_hand_computed(spark):
    """Per-group z over exact fixed-point sums: group 'a' = {1, 2, 3}
    (mean 2, sd 1), group 'b' has one row (NULL z), nulls pass through."""
    from fresco_hpc_spark.operators import standardize

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 9.0), ("a", None)],
        "g string, v double",
    )
    out = standardize(df, "v", group_cols=["g"]).collect()
    zs = {(r.g, r.v): r.v_z for r in out}
    assert zs[("a", 1.0)] == -1.0 and zs[("a", 2.0)] == 0.0
    assert zs[("a", 3.0)] == 1.0
    assert zs[("b", 9.0)] is None  # n < 2
    assert zs[("a", None)] is None
    assert len(out) == 5  # every row preserved


def test_standardize_global_and_constant_column(spark):
    from fresco_hpc_spark.operators import standardize

    df = spark.createDataFrame([(i, 5.0) for i in range(4)], "id bigint, v double")
    out = standardize(df, "v").collect()
    assert all(r.v_z is None for r in out)  # zero variance -> NULL


def test_equi_depth_histogram_balances_bins(spark):
    """Edges at the i/bins percentiles: on 1..100 distinct values with
    4 bins every bin holds exactly 25 rows with contiguous min/max;
    ties at a bound stay in one bin (standard equi-depth semantics);
    NULLs excluded; counts partition the non-null rows."""
    from fresco_hpc_spark.operators import equi_depth_histogram

    rows = [(float(i),) for i in range(1, 101)] + [(None,)]
    df = spark.createDataFrame(rows, "x double")
    out = {r.bin: r for r in equi_depth_histogram(df, "x", bins=4).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert all(out[b].n_rows == 25 for b in out)
    assert out[1].min_value == 1.0 and out[1].max_value == 25.0
    assert out[4].min_value == 76.0 and out[4].max_value == 100.0
    # heavy ties: one value dominating → that bin swallows the ties
    tied = spark.createDataFrame(
        [(5.0,)] * 90 + [(float(i),) for i in range(10)], "x double"
    )
    tout = {r.bin: r.n_rows for r in equi_depth_histogram(tied, "x", bins=4).collect()}
    assert sum(tout.values()) == 100
    assert max(tout.values()) >= 90  # ties never split across bins


def test_salted_join_equals_plain_join_on_skewed_input(spark):
    """VERDICT r7 item 7: salting must be a pure physical rewrite — on
    a deliberately skewed input (half the left rows on ONE key, plus
    keys with no right match and right keys with no left match) the
    salted inner AND left joins equal the plain joins as multisets,
    not just in count. The head-to-head task-bound measurement is
    recorded in SCALE.md."""
    from pyspark.sql import functions as F

    from fresco_hpc_spark.operators import salted_join

    left = spark.range(20_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.hash("id"), F.lit(500)))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(0, 400).select(  # keys 400..499 unmatched on right
        F.col("id").alias("k"), (F.col("id") * 3).alias("dim")
    )
    for how in ("inner", "left"):
        plain = left.join(right, "k", how)
        salted = salted_join(left, right, on="k", n_salts=8, how=how)
        assert plain.exceptAll(salted).count() == 0, how
        assert salted.exceptAll(plain).count() == 0, how


def test_check_constraints_counts_each_violation_kind(spark):
    """The expectation runner on deliberately dirty data: every check
    kind counts its own violations (NULL key, out-of-range, value
    outside the accepted set, duplicated key tuple — BOTH copies — and
    an orphan foreign key), and a NULL value is a violation only for
    not_null (accepted_values/between skip NULLs by contract)."""
    from pyspark.sql import functions as F

    from fresco_hpc_spark.operators import check_constraints

    df = spark.createDataFrame(
        [
            (1, "A", 0.5, 10),
            (2, "B", 1.5, 10),      # bad status, out-of-range x
            (None, "A", None, 20),  # null id; null x NOT a range violation
            (4, "A", 0.0, 99),      # orphan ref
            (5, "A", 1.0, 10),
            (5, "A", 0.2, 20),      # duplicate id 5 (both rows count)
        ],
        "id int, status string, x double, ref int",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pid int")
    rows = {
        (r["check"], r["target"]): r
        for r in check_constraints(
            df,
            [
                ("not_null", "id"),
                ("accepted_values", "status", ["A"]),
                ("between", "x", 0.0, 1.0),
                ("unique", ["id"]),
                ("foreign_key", "ref", parent, "pid"),
            ],
        ).collect()
    }
    assert rows[("not_null", "id")]["n_violations"] == 1
    assert rows[("accepted_values", "status")]["n_violations"] == 1
    assert rows[("between", "x")]["n_violations"] == 1
    assert rows[("unique", "id")]["n_violations"] == 2
    assert rows[("foreign_key", "ref")]["n_violations"] == 1
    assert all(r["n_rows"] == 6 for r in rows.values())
    assert not any(r["passed"] for r in rows.values())
    # a clean frame passes everything
    clean = df.filter("id IS NOT NULL AND id <> 5 AND status = 'A' AND x BETWEEN 0 AND 1 AND ref IN (10, 20)")
    ok = check_constraints(
        clean,
        [("not_null", "id"), ("unique", ["id"]), ("foreign_key", "ref", parent, "pid")],
    ).collect()
    assert all(r["passed"] for r in ok)


def test_weighted_quantiles_mass_selection(spark):
    """Lower weighted quantile contract: the pick is the smallest value
    whose cumulative weight reaches q x total — one heavy row can BE
    the median; NULL values and non-positive weights are excluded; the
    result is always a raw input value; bad fractions fail loudly."""
    import pytest as _pt

    from fresco_hpc_spark.operators import weighted_quantiles

    rows = [
        # group a: value 100 carries 90% of the mass
        ("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 100.0, 18.0),
        # group b: uniform weights -> plain lower quantiles
        ("b", 1.0, 1.0), ("b", 2.0, 1.0), ("b", 3.0, 1.0), ("b", 4.0, 1.0),
        # excluded rows
        ("a", None, 5.0), ("a", 7.0, None), ("a", 7.0, 0.0), ("a", 7.0, -2.0),
    ]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    out = {r.g: r for r in weighted_quantiles(df, "v", "w", "g").collect()}
    a, b = out["a"], out["b"]
    assert (a.wq_25, a.wq_50, a.wq_75) == (100.0, 100.0, 100.0)
    assert a.total_weight == 20.0  # excluded rows contribute nothing
    assert (b.wq_25, b.wq_50, b.wq_75) == (1.0, 2.0, 3.0)
    # duplicate values pre-aggregate: two half-weights act as one row
    dup = spark.createDataFrame(
        [("c", 1.0, 0.5), ("c", 1.0, 0.5), ("c", 2.0, 1.0)],
        "g string, v double, w double",
    )
    d = weighted_quantiles(dup, "v", "w", "g", qs=(0.5,)).first()
    assert d.wq_50 == 1.0 and d.total_weight == 2.0
    # ADVICE r11: fractional weights micro-quantize to BIGINT, so the
    # threshold compare is exact integer arithmetic — the same frame
    # under wildly different partitionings picks identical values
    # (a double running sum could flip a >= at a boundary)
    import random as _random

    rng = _random.Random(7)
    frac_rows = [
        ("f", float(v), rng.random() * 3.0 + 0.001)
        for v in range(200)
    ]
    fdf = spark.createDataFrame(frac_rows, "g string, v double, w double")
    base = weighted_quantiles(fdf.repartition(1), "v", "w", "g").collect()
    shuffled = weighted_quantiles(
        fdf.repartition(32, "v"), "v", "w", "g"
    ).collect()
    assert base == shuffled
    # exactly-at-boundary mass: q*total lands exactly on a cumulative
    # weight (0.25 * 4.0 == 1.0) — >= must pick the boundary value
    edge = spark.createDataFrame(
        [("e", 1.0, 1.0), ("e", 2.0, 1.0), ("e", 3.0, 1.0), ("e", 4.0, 1.0)],
        "g string, v double, w double",
    )
    e = weighted_quantiles(edge, "v", "w", "g").first()
    assert (e.wq_25, e.wq_50, e.wq_75) == (1.0, 2.0, 3.0)
    with _pt.raises(ValueError, match="fractions"):
        weighted_quantiles(df, "v", "w", "g", qs=(0.0,))
