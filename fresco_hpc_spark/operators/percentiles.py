"""Percentile / robust-statistics operators (SURVEY.md §2.3 J1-J2, §2.4
A3/A5).

The reference trims outliers by cross-joining each row against a 1-row
percentile (or IQR) relation and keeping rows inside the bounds
(DatabaseQueries.ts:158-190; databaseOptimization.ts:199-218). The Spark
restatement keeps the same filter-by-bounds shape, but the bounds are not
lazy: the global trims (``percentile_trim``, ``iqr_trim``, ``mad_trim``,
``winsorize``, ``quantile_bucket``, ``global_percentiles``) get them from
``distributed_exact_percentiles``, which persists its input and makes two
driver collects (per-bucket counts, then the target rows) before the
operator returns a plan; the bounds enter the plan as literals (a
broadcast 1-row bounds relation for the trims). The grouped operators
stay lazy. Exact interpolating ``percentile`` matches DuckDB's
PERCENTILE_CONT (SURVEY.md §7.4 trap 1).

Scale note: Spark's exact ``percentile`` aggregate merges every distinct
value into ONE reducer's buffer — O(n) memory on a single node, dead at
100 TB. Global (single-group) percentiles here instead use
``distributed_exact_percentiles``: range-repartition the column, count
per range bucket, then sort ONLY the buckets that contain the target
order statistics (≤ 2 per fraction). No node ever holds more than one
bucket; the second pass touches ~(#fractions · n/P) rows. Grouped
order statistics (CDFs, per-group percentiles, the KS family,
quantile normalization) share one lazy core, :func:`_rank_core`, whose
buckets are a pure function of the data, so its result does not
depend on which exchanges Spark reuses.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from fresco_hpc_spark.operators.timeseries import hourly_agg

_ROUND = 6


def distributed_exact_percentiles(
    df: DataFrame, col: str, fractions: list[float]
) -> list[float | None]:
    """Exact PERCENTILE_CONT values for one global group, computed as
    distributed order statistics.

    1. Range-shuffle the non-null column into P ordered buckets
       (equal values land in one bucket, so global multiset order holds).
    2. One tiny agg gives per-bucket counts → cumulative offsets and n.
    3. Every fraction needs positions floor/ceil of f·(n−1); only the
       buckets holding those positions are row_number-sorted (the pid
       filter prunes the rest BEFORE the window's exchange).
    4. Interpolate ``lo + (hi−lo)·frac`` — the same formula Spark's
       ``percentile`` and DuckDB's PERCENTILE_CONT use, so oracle parity
       is preserved bit-for-bit.

    Returns driver-side floats (None per fraction when the input is
    empty) — the callers inline them as literal bounds / 1-row frames.

    It stays separate from the lazy grouped core (:func:`_rank_core`)
    for two reasons. The persist pins the range buckets, so the two
    passes see one bucket assignment. And it is the cheaper path on
    the dashboard's windows: routed through the grouped core under a
    constant key, the global trim measured 1.44/1.74/1.71 CPU-s per
    chart against 0.76/0.93/1.25 for this function (three 12-request
    sets over a 1,200-row, 6-hour window, identical rows).
    """
    spark = df.sparkSession
    vals = df.select(F.col(col).alias("_v")).filter(F.col("_v").isNotNull())
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        vals.repartitionByRange(p, "_v")
        .select("_v", F.spark_partition_id().alias("_pid"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        counts = {r["_pid"]: r["count"] for r in ranged.groupBy("_pid").count().collect()}
        n = sum(counts.values())
        if n == 0:
            return [None] * len(fractions)
        offsets, acc = {}, 0
        pids = sorted(counts)
        for pid in pids:
            offsets[pid] = acc
            acc += counts[pid]
        positions = sorted(
            {math.floor(f * (n - 1)) for f in fractions}
            | {math.ceil(f * (n - 1)) for f in fractions}
        )
        per_pid: dict[int, list[int]] = {}
        for pos in positions:
            pid = max(q for q in pids if offsets[q] <= pos and counts[q] > 0)
            per_pid.setdefault(pid, []).append(pos - offsets[pid])
        cond = None
        for pid, local in per_pid.items():
            c = (F.col("_pid") == pid) & (F.col("_rn").isin(local))
            cond = c if cond is None else (cond | c)
        w = Window.partitionBy("_pid").orderBy("_v")
        hits = (
            ranged.filter(F.col("_pid").isin(list(per_pid)))
            .withColumn("_rn", F.row_number().over(w) - 1)
            .filter(cond)
            .select("_pid", "_rn", "_v")
            .collect()
        )
        value_at = {offsets[r["_pid"]] + r["_rn"]: r["_v"] for r in hits}
        out: list[float | None] = []
        for f in fractions:
            pos = f * (n - 1)
            lo, hi = math.floor(pos), math.ceil(pos)
            vlo, vhi = float(value_at[lo]), float(value_at[hi])
            out.append(vlo + (vhi - vlo) * (pos - lo))
        return out
    finally:
        ranged.unpersist()


# Sampled values per rank bucket: a bucket's share of its key then
# varies by about 1/sqrt(16) around 1/P.
_SAMPLE_PER_BUCKET = 16


def _on_keys(
    left: DataFrame, right: DataFrame, keys: list[str], how: str = "inner"
) -> DataFrame:
    """Join ``right`` onto ``left`` on ``keys``, NULL-SAFE: a NULL group
    is a real group (window PARTITION BY already treats it as one), and
    a plain equi-join would silently drop its rows. ``right``'s copies
    of the keys are dropped. With no keys ``right`` is one row, attached
    as a scalar subquery rather than a cross join."""
    if not keys:
        row = right.select(F.struct(*right.columns).alias("_r")).scalar()
        return left.select("*", *[row[c].alias(c) for c in right.columns])
    r = right.select(
        *[F.col(c).alias(f"_k{i}") for i, c in enumerate(keys)],
        *[c for c in right.columns if c not in keys],
    )
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"_k{i}")) for i, c in enumerate(keys)],
    )
    return left.join(r, cond, how).drop(*[f"_k{i}" for i in range(len(keys))])


def _value_buckets(dv: DataFrame, keys: list[str]) -> DataFrame:
    """``dv`` plus ``_b``, the rank core's bucket: a pure function of
    the row and of per-key edges built only from deterministic
    operators.

    1. Per key, a sample of about ``_SAMPLE_PER_BUCKET · P`` distinct
       values (P = shuffle partitions): a row is kept when
       ``pmod(xxhash64(keys, _v), #distinct) < _SAMPLE_PER_BUCKET · P``,
       so a small key is sampled whole.
    2. Per key, every ``max(_SAMPLE_PER_BUCKET, ⌈m/P⌉)``-th value of the
       sorted sample (m values) is an edge: at most P − 1 edges, and a
       key with few values gets few buckets.
    3. ``_b = #{edges e : e < _v}`` (:func:`reference_bin_expr`), which
       is non-decreasing in ``_v`` within a key."""
    p = int(dv.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    distinct = dv.groupBy(*keys).agg(F.count(F.lit(1)).alias("_d"))
    sample = (
        _on_keys(dv, distinct, keys)
        .filter(
            F.pmod(F.xxhash64(*keys, "_v"), F.col("_d"))
            < _SAMPLE_PER_BUCKET * p
        )
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list("_v")).alias("_s"))
    )
    m = F.size("_s")
    stride = F.greatest(F.lit(_SAMPLE_PER_BUCKET), F.ceil(m / p))
    edges = sample.select(
        *keys,
        F.filter("_s", lambda _, i: ((i + 1) % stride == 0) & (i + 1 < m)).alias(
            "_e"
        ),
    )
    b = F.coalesce(reference_bin_expr(F.col("_e"), F.col("_v")), F.lit(0))
    return _on_keys(dv, edges, keys, "left").select(*dv.columns, b.alias("_b"))


def _rank_core(dv: DataFrame, keys: list[str]) -> DataFrame:
    """The order-statistics core: from the tie-collapsed
    ``(keys…, _v, _cnt)`` relation (one row per key and distinct value)
    to ``(keys…, _v, _cnt, _cume, _n)``, where ``_cume`` counts the
    key's rows with value ≤ ``_v`` and ``_n`` is the key's size. With
    no keys the whole relation is one group. Rows with ``_cnt`` = 0 add
    nothing to ``_cume`` or ``_n`` but still get an output row — the KS
    operators' probe rows. Other input columns are not carried.

    Values go to buckets (:func:`_value_buckets`). Per-(key, bucket)
    subtotals roll into offsets and key sizes through windows over
    that small relation; ``_cume = offset + running count`` inside one
    (key, bucket) slice, the widest window on the data. The bucket is a
    pure function of the data, so the subtotal branch and the data
    branch agree however often Spark evaluates them, with or without
    exchange reuse. Nothing runs at construction."""
    bucketed = _value_buckets(dv, keys)
    w_key = Window.partitionBy(*keys)
    offsets = (
        bucketed.groupBy(*keys, "_b")
        .agg(F.sum("_cnt").alias("_bc"))
        .select(
            *keys,
            "_b",
            F.coalesce(
                F.sum("_bc").over(
                    w_key.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_off"),
            F.sum("_bc").over(w_key).alias("_n"),
        )
    )
    w_local = (
        Window.partitionBy(*keys, "_b")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return _on_keys(bucketed, offsets, [*keys, "_b"]).select(
        *keys,
        "_v",
        "_cnt",
        (F.col("_off") + F.sum("_cnt").over(w_local)).alias("_cume"),
        "_n",
    )


def grouped_cume_counts(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group cumulative value counts WITHOUT a per-group sort — the
    fully distributed building block under :func:`grouped_value_cdf`,
    :func:`grouped_exact_percentiles`, :func:`quantile_normalize` and
    ``weighted_sample_k`` (VERDICT r6 items 1/7: the ``cume_dist`` /
    ``ntile`` window shape puts each group on ONE task, a 20 TB
    single-task sort at 100 TB with few groups).

    Returns one row per (group, DISTINCT non-null value):
    ``group_cols…, _v, _cnt`` (rows tied at this value), ``_cume``
    (rows with value ≤ _v inside the group — the cume_dist numerator),
    and ``_n`` (group size). NULL values are excluded: Spark orders
    NULL first and DuckDB last, so any NULL-inclusive contract is
    engine-ambiguous; callers wanting NULL handling coalesce first.

    Ties collapse first (``groupBy(group, value).count()``, a map-side
    partial agg), then :func:`_rank_core` ranks the distinct values
    with no driver collect and no window wider than one (group,
    bucket) slice.
    """
    dv = (
        df.select(*group_cols, F.col(value_col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .groupBy(*group_cols, "_v")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    return _rank_core(dv, group_cols)


def grouped_value_cdf(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    probes: list[float] | None = None,
    round_to: int = _ROUND,
) -> DataFrame:
    """Empirical-CDF probe per group — the scale-safe twin of::

        SELECT g, ROUND(cume_dist() OVER (PARTITION BY g ORDER BY v), 6)
                  AS cdf, ROUND(MAX(v), 6) AS value_at ... WHERE cdf IN probes

    over NON-NULL values, computing the identical (group, cdf,
    value_at) relation from :func:`grouped_cume_counts` instead of a
    per-group ``cume_dist`` window (VERDICT r6 item 1: with few groups
    that window sorts ~n/G rows on one task). ``cume_dist`` is constant
    across rows tied at a value, so the distinct-value granularity is
    exact, and ``max(value)`` at a probed cdf is the max surviving
    distinct value.
    """
    if probes is None:
        probes = [round(0.1 * i, 1) for i in range(1, 11)]
    cume = grouped_cume_counts(df, group_cols, value_col)
    cdf = F.round(F.col("_cume") / F.col("_n"), round_to)
    return (
        cume.select(*group_cols, F.col("_v"), cdf.alias("cdf"))
        .filter(F.col("cdf").isin(list(probes)))
        .groupBy(*group_cols, "cdf")
        .agg(F.round(F.max("_v"), round_to).alias("value_at"))
        .orderBy(*group_cols, "cdf")
    )


def grouped_exact_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    fractions: list[float],
) -> DataFrame:
    """Exact per-group PERCENTILE_CONT without per-group sorts OR the
    single-reducer value buffer (VERDICT r6 item 7) — the grouped twin
    of :func:`distributed_exact_percentiles`, fully lazy and
    distributed (nothing driver-side, usable at billions of groups).

    From :func:`grouped_cume_counts`, each distinct value covers the
    0-indexed sorted positions ``[_cume − _cnt, _cume)`` of its group.
    Each fraction f needs positions ⌊f·(n−1)⌋ and ⌈f·(n−1)⌉: explode
    the (small, literal) fraction list across the distinct-value rows,
    keep covering rows, and interpolate ``lo + (hi − lo)·(pos − ⌊pos⌋)``
    — the same IEEE op order Spark's ``percentile``, DuckDB's
    PERCENTILE_CONT, and :func:`distributed_exact_percentiles` use, so
    results are bit-compatible with all three.

    Returns (group_cols…, fraction, value) over non-null values; groups
    with no non-null rows are absent (same contract as an SQL GROUP BY
    percentile over an empty group).
    """
    cume = grouped_cume_counts(df, group_cols, value_col)
    return _percentile_extract(cume, group_cols, fractions)


def grouped_exact_percentiles_from_counts(
    dv: DataFrame, group_cols: list[str], fractions: list[float]
) -> DataFrame:
    """:func:`grouped_exact_percentiles` for callers that already hold
    the tie-collapsed ``(group…, _v, _cnt)`` relation (the KS operators'
    counts hub): skips re-aggregating the raw rows. Identical output
    and interpolation arithmetic."""
    return _percentile_extract(_rank_core(dv, group_cols), group_cols, fractions)


def _percentile_extract(
    cume: DataFrame, group_cols: list[str], fractions: list[float]
) -> DataFrame:
    """Shared PERCENTILE_CONT extraction over a grouped cume relation
    (``group…, _v, _cnt, _cume, _n``): each distinct value covers the
    0-indexed sorted positions ``[_cume − _cnt, _cume)``; keep rows
    covering ⌊f·(n−1)⌋ / ⌈f·(n−1)⌉ and interpolate with the same IEEE
    op order as Spark's ``percentile`` and DuckDB's PERCENTILE_CONT.
    Zero-count rows cover the empty interval, so a probe-densified cume
    relation extracts the same percentiles as the plain one."""
    frac = F.explode(F.array(*[F.lit(float(f)) for f in fractions])).alias(
        "fraction"
    )
    pos = F.col("fraction") * (F.col("_n") - 1).cast("double")
    plo, phi = F.floor(pos), F.ceil(pos)
    lo_start = F.col("_cume") - F.col("_cnt")
    exploded = cume.select(*group_cols, "_v", "_cnt", "_cume", "_n", frac)
    covers_lo = (lo_start <= plo) & (plo < F.col("_cume"))
    covers_hi = (lo_start <= phi) & (phi < F.col("_cume"))
    hits = exploded.filter(covers_lo | covers_hi)
    agg = hits.groupBy(*group_cols, "fraction").agg(
        F.max(F.when(covers_lo, F.col("_v"))).alias("_vlo"),
        F.max(F.when(covers_hi, F.col("_v"))).alias("_vhi"),
        F.first("_n").alias("_n"),
    )
    pos2 = F.col("fraction") * (F.col("_n") - 1).cast("double")
    value = F.col("_vlo") + (F.col("_vhi") - F.col("_vlo")) * (
        pos2 - F.floor(pos2)
    )
    return agg.select(*group_cols, "fraction", value.alias("value"))


def _percentiles_expr(col: str, fractions: list[float]):
    """ONE ``percentile(col, array(f...))`` call: all fractions share a
    single aggregation buffer (per-partition value map + one sort) instead
    of paying the buffer per fraction — measured ~3x on 600k rows. Exact
    interpolation is kept for PERCENTILE_CONT oracle parity (SURVEY.md
    §7.4 trap 1); at true 100 TB single-group scale, swap for
    ``approx_percentile`` where the oracle contract allows."""
    arr = ",".join(repr(f) for f in fractions)
    return F.expr(f"percentile(`{col}`, array({arr}))")


def global_percentiles(df: DataFrame, col: str, fractions: list[float]) -> DataFrame:
    """A5: scalar ``PERCENTILE_CONT(f) WITHIN GROUP (ORDER BY col)`` for
    each fraction, as one 1-row DataFrame (DatabaseQueries.ts:160-165).
    Single global group → distributed order statistics, not the
    single-reducer ``percentile`` buffer."""
    vals = distributed_exact_percentiles(df, col, fractions)
    labels = [f"p{str(f).replace('0.', '').ljust(2, '0')}" for f in fractions]
    return df.sparkSession.range(1).select(
        *[
            (
                F.round(F.lit(v), _ROUND)
                if v is not None
                else F.lit(None).cast("double")
            ).alias(lbl)
            for v, lbl in zip(vals, labels)
        ]
    )


def quantile_bucket(
    df: DataFrame,
    col: str,
    fractions: list[float] | None = None,
    label_col: str = "bucket",
    round_to: int = _ROUND,
):
    """Scale-safe global quantile LABELS: exact bounds from
    ``distributed_exact_percentiles`` inlined as literals, then a map-side
    ``when()`` chain — no unpartitioned window, no single-partition sort
    (the scale problem with a global ``ntile``: one task sorts the whole
    table). Same labels as NTILE modulo tie-position semantics: rows are
    bucketed by VALUE against the bounds, so equal values always share a
    bucket (ntile may split them to even out bucket sizes).

    Bounds are rounded (half-up, ``round_to`` dp) before comparison so an
    oracle recomputing them with its own PERCENTILE_CONT lands on the
    same literals — last-ulp interpolation differences can't flip a row
    whose value equals a bound. Null values get a null label.
    """
    if fractions is None:
        fractions = [0.25, 0.5, 0.75]
    from decimal import ROUND_HALF_UP, Decimal

    bounds = distributed_exact_percentiles(df, col, list(fractions))
    if bounds[0] is None:
        return df.withColumn(label_col, F.lit(None).cast("bigint"))
    expr = None
    for i, b in enumerate(bounds):
        # HALF_UP like Spark's F.round / DuckDB's ROUND — python round()
        # is half-even and would diverge on exact-tie bounds
        rb = float(
            Decimal(float(b)).quantize(Decimal(1).scaleb(-round_to), ROUND_HALF_UP)
        )
        cond = F.col(col) <= F.lit(rb)
        expr = F.when(cond, i + 1) if expr is None else expr.when(cond, i + 1)
    expr = (
        F.when(F.col(col).isNull(), F.lit(None))
        .otherwise(expr.otherwise(len(bounds) + 1))
        .cast("bigint")
    )
    return df.withColumn(label_col, expr)


def _bounds_trim(df: DataFrame, col: str, lower, upper, names) -> DataFrame:
    """Shared J1/J2 tail: the driver-side bounds become a broadcast 1-row
    relation cross-joined in (the reference's own shape, and what keeps
    the fact-table filter map-side with zero shuffles)."""
    lo_name, hi_name = names
    bounds = df.sparkSession.range(1).select(
        F.lit(lower).cast("double").alias(lo_name),
        F.lit(upper).cast("double").alias(hi_name),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .filter(F.col(col).between(F.col(lo_name), F.col(hi_name)))
        .drop(lo_name, hi_name)
    )


def percentile_trim(
    df: DataFrame, col: str, low: float = 0.01, high: float = 0.99
) -> DataFrame:
    """J1: keep rows with ``col BETWEEN p_low AND p_high`` where the bounds
    are percentiles of the same relation (DatabaseQueries.ts:158-190).

    Bounds come from ``distributed_exact_percentiles`` (no single-node
    value buffer); the trim itself is a broadcast-bounds map-side filter.
    On empty input the bounds are null and BETWEEN keeps nothing — same
    as the reference's empty percentile relation.
    """
    p_low, p_high = distributed_exact_percentiles(df, col, [low, high])
    return _bounds_trim(df, col, p_low, p_high, ("_p_low", "_p_high"))


def iqr_trim(df: DataFrame, col: str, k: float = 1.5) -> DataFrame:
    """J2: keep rows within ``[q25 - k*IQR, q75 + k*IQR]``
    (databaseOptimization.ts:199-218)."""
    q25, q75 = distributed_exact_percentiles(df, col, [0.25, 0.75])
    lower = q25 - (q75 - q25) * k if q25 is not None else None
    upper = q75 + (q75 - q25) * k if q25 is not None else None
    return _bounds_trim(df, col, lower, upper, ("_lower", "_upper"))


def mad_trim(df: DataFrame, col: str, k: float = 3.0) -> DataFrame:
    """Robust MAD outlier trim: keep rows within
    ``median ± k · 1.4826 · MAD`` (1.4826 makes MAD a consistent σ
    estimator under normality — the standard robust-z cut). Unlike the
    IQR rule this survives 50% contamination; it is the trim you want on
    telemetry with long failure tails.

    Two driver-side scalar passes through ``distributed_exact_percentiles``
    (median, then median absolute deviation — no single-reducer value
    buffer at any scale), then the same broadcast-bounds map-side filter
    as J1/J2. The bound arithmetic is written in the same textual order
    as the DuckDB oracle so both engines compute bit-identical bounds.
    """
    (med,) = distributed_exact_percentiles(df, col, [0.5])
    if med is None:
        return _bounds_trim(df, col, None, None, ("_lower", "_upper"))
    dev = df.select(F.abs(F.col(col) - F.lit(med)).alias("_dev"))
    (mad,) = distributed_exact_percentiles(dev, "_dev", [0.5])
    lower = med - k * 1.4826 * mad
    upper = med + k * 1.4826 * mad
    return _bounds_trim(df, col, lower, upper, ("_lower", "_upper"))


def percentile_trimmed_hourly_agg(
    df: DataFrame,
    value_col: str,
    time_col: str = "time",
    low: float = 0.01,
    high: float = 0.99,
) -> DataFrame:
    """A3: the robust line-plot view — J1 trim composed with the A2 hourly
    aggregation (DatabaseQueries.ts:148-190, vgplot.tsx:245-283)."""
    trimmed = percentile_trim(
        df.filter(F.col(time_col).isNotNull() & F.col(value_col).isNotNull()),
        value_col,
        low,
        high,
    )
    return hourly_agg(trimmed, value_col, time_col)


def winsorize(
    df: DataFrame,
    col: str,
    p_low: float = 0.05,
    p_high: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorization — the CLIP counterpart of :func:`percentile_trim`:
    values outside the [p_low, p_high] percentile band are pulled to
    the band edges instead of dropped, preserving row count (the choice
    when downstream joins/counts must see every row but tail outliers
    would wreck means and regressions).

    Bounds come from :func:`distributed_exact_percentiles` (exact
    PERCENTILE_CONT, no single-reducer buffer) and apply as broadcast
    literals in one map-side projection — two bounded jobs at build
    time, zero shuffle of the data. Adds ``{out_col}`` (clipped,
    rounded) and ``was_clipped``; NULL values pass through unclipped.
    """
    out_col = out_col or f"{col}_winsorized"
    lo, hi = distributed_exact_percentiles(df, col, [p_low, p_high])
    if lo is None or hi is None:
        # empty / all-null column: nothing to clip — same degenerate
        # contract as global_percentiles (NULL bounds)
        return df.withColumn(
            out_col, F.lit(None).cast("double")
        ).withColumn("was_clipped", F.lit(False))
    lo = round(lo, _ROUND)
    hi = round(hi, _ROUND)
    c = F.col(col)
    clipped = F.round(F.least(F.greatest(c, F.lit(lo)), F.lit(hi)), _ROUND)
    return df.withColumn(
        out_col, F.when(c.isNull(), F.lit(None).cast("double")).otherwise(clipped)
    ).withColumn(
        "was_clipped",
        F.coalesce((c < F.lit(lo)) | (c > F.lit(hi)), F.lit(False)),
    )


def approx_percentiles_certified(
    df: DataFrame,
    col: str,
    fractions: list[float],
    accuracy: int = 1000,
) -> DataFrame:
    """The interactive-dashboard twin of :func:`global_percentiles`
    (VERDICT r7 item 8): Spark's ``approx_percentile`` (Greenwald–
    Khanna sketch, mergeable, one pass, O(accuracy·log n) memory —
    the 100 TB fast path) TOGETHER WITH a distributed certificate that
    its published rank guarantee held on THIS data. For each fraction
    the sketch promises a returned value whose rank is within
    n/accuracy of f·n; the certificate recounts the true rank interval
    of the returned value ``[count(v < val) + 1, count(v ≤ val)]`` in
    the same aggregation pass and checks it intersects
    ``f·n ± (n/accuracy + 1)`` (+1 absorbs the rank-vs-count boundary
    convention; ties widen the interval, never break the check).

    Output: one row per fraction — ``fraction, approx_value, n_values,
    within_bound``. Exact values stay the oracle default everywhere
    else; this operator exists so the interactive path can swap in the
    sketch WITHOUT giving up a machine-checked error contract (the
    ``daily_uniques`` approx_count_distinct pattern, now for order
    statistics). Empty/all-null input yields zero rows.

    Plan shape: one aggregation for the sketch, one broadcast of its
    1-row result, one map-side conditional-count aggregation — two
    passes, no shuffle of the data beyond the partial aggs, nothing
    driver-side."""
    if accuracy < 1:
        raise ValueError(f"accuracy must be >= 1, got {accuracy}")
    vals = df.select(F.col(col).alias("_v")).filter(F.col("_v").isNotNull())
    arr = ",".join(repr(float(f)) for f in fractions)
    ap = vals.agg(
        F.expr(f"approx_percentile(_v, array({arr}), {int(accuracy)})").alias("_ap")
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i in range(len(fractions)):
        v_i = F.element_at("_ap", i + 1)
        aggs.append(F.first(v_i).alias(f"_v{i}"))
        aggs.append(
            F.sum(F.when(F.col("_v") < v_i, 1).otherwise(0)).cast("bigint").alias(f"_lt{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("_v") <= v_i, 1).otherwise(0)).cast("bigint").alias(f"_le{i}")
        )
    one = vals.crossJoin(F.broadcast(ap)).agg(*aggs).filter(F.col("_n") > 0)
    rows = one.select(
        "_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(f)).alias("fraction"),
                        F.col(f"_v{i}").cast("double").alias("approx_value"),
                        F.col(f"_lt{i}").alias("_lt"),
                        F.col(f"_le{i}").alias("_le"),
                    )
                    for i, f in enumerate(fractions)
                ]
            )
        ).alias("_s"),
    ).select(F.col("_n"), F.col("_s.*"))
    target = F.col("fraction") * F.col("_n")
    budget = F.col("_n") / F.lit(float(accuracy)) + F.lit(1.0)
    within = (
        (F.col("_lt") + 1 <= target + budget) & (F.col("_le") >= target - budget)
    )
    return rows.select(
        "fraction",
        "approx_value",
        F.col("_n").cast("bigint").alias("n_values"),
        within.alias("within_bound"),
    ).orderBy("fraction")


def grouped_approx_percentiles_certified(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    fractions: list[float],
    accuracy: int = 1000,
) -> DataFrame:
    """Per-GROUP :func:`approx_percentiles_certified` — the sketch twin
    of :func:`grouped_exact_percentiles` for the interactive path. One
    aggregation builds a Greenwald–Khanna sketch per group (mergeable,
    O(accuracy) buffer per group on its reducer); one null-safe equi
    join carries the returned values back to the data (the sketch side
    is G rows — AQE broadcasts it at realistic G); one partial-agg pass
    recounts each value's true rank interval and checks the published
    n_g/accuracy bound per group, same +1 boundary slack as the global
    operator. Groups keep their own n_g and bound — a tiny group's
    budget is honestly tight, not averaged away by the corpus.

    Output: one row per (group, fraction) —
    ``group_cols…, fraction, approx_value, n_values, within_bound``;
    groups with no non-null rows are absent (the SQL GROUP BY empty
    contract). NULL groups are real groups (null-safe join)."""
    if accuracy < 1:
        raise ValueError(f"accuracy must be >= 1, got {accuracy}")
    vals = df.select(
        *group_cols, F.col(col).alias("_v")
    ).filter(F.col("_v").isNotNull())
    arr = ",".join(repr(float(f)) for f in fractions)
    sk = vals.groupBy(*group_cols).agg(
        F.expr(f"approx_percentile(_v, array({arr}), {int(accuracy)})").alias("_ap")
    )
    sk_r = sk.select(
        *[F.col(c).alias(f"_s_{i}") for i, c in enumerate(group_cols)], "_ap"
    )
    cond = None
    for i, c in enumerate(group_cols):
        e = F.col(c).eqNullSafe(F.col(f"_s_{i}"))
        cond = e if cond is None else (cond & e)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i in range(len(fractions)):
        v_i = F.element_at("_ap", i + 1)
        aggs.append(F.first(v_i).alias(f"_v{i}"))
        aggs.append(
            F.sum(F.when(F.col("_v") < v_i, 1).otherwise(0)).cast("bigint").alias(f"_lt{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("_v") <= v_i, 1).otherwise(0)).cast("bigint").alias(f"_le{i}")
        )
    one = vals.join(sk_r, cond).groupBy(*group_cols).agg(*aggs)
    rows = one.select(
        *group_cols,
        "_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(f)).alias("fraction"),
                        F.col(f"_v{i}").cast("double").alias("approx_value"),
                        F.col(f"_lt{i}").alias("_lt"),
                        F.col(f"_le{i}").alias("_le"),
                    )
                    for i, f in enumerate(fractions)
                ]
            )
        ).alias("_s"),
    ).select(*group_cols, F.col("_n"), F.col("_s.*"))
    target = F.col("fraction") * F.col("_n")
    budget = F.col("_n") / F.lit(float(accuracy)) + F.lit(1.0)
    within = (
        (F.col("_lt") + 1 <= target + budget) & (F.col("_le") >= target - budget)
    )
    return rows.select(
        *group_cols,
        "fraction",
        "approx_value",
        F.col("_n").cast("bigint").alias("n_values"),
        within.alias("within_bound"),
    ).orderBy(*group_cols, "fraction")


def ks_vs_rest_quantized(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bins: int = 32,
    round_to: int = _ROUND,
) -> DataFrame:
    """Bounded-grid two-sample KS of every group against the rest — the
    production path for CONTINUOUS values at 100 TB, where the exact
    :func:`ks_vs_rest` densify is G·D rows (D ≈ n for continuous
    doubles). This variant evaluates both CDFs only at equi-depth grid
    edges, so every relation in the plan is O(tie-collapsed data) or
    O(G·bins) and nothing scales with G·D (plan-pinned: no crossJoin,
    no value×group densify).

    Statistic and bound. With ``F_rest = (n·F_pool − n_g·F_g)/n_rest``,
    group-vs-rest KS is a scaled group-vs-pooled comparison:
    ``D_g = (n/n_rest)·sup|F_g − F_pool|``. The grid per group is the
    UNION of the group's own ``bins`` equi-depth edges and the pooled
    ``bins`` equi-depth edges (both exact PERCENTILE_CONT at fractions
    i/bins, i = 1..bins, so each grid always ends at the sample max).
    Between adjacent probes the open-interval mass of the group CDF is
    ≤ 1/bins + 1/n_g (its own quantile edges subdivide it; the 1/n_g
    is PERCENTILE_CONT interpolation slack) and of the pooled CDF is
    ≤ 1/bins + 1/n, hence::

        0 ≤ D_g − D̂_g ≤ (n/n_rest)·(1/bins + 1/n_g)   (= ks_err_bound)

    D̂_g never overshoots (every probe is a real evaluation point). A
    pooled-only grid does NOT admit such a bound: a small group
    concentrated strictly inside one pooled bin hides arbitrarily large
    drift (10 rows at one value inside a quiet pooled decile → D ≈ 1,
    pooled-grid D̂ ≈ 0) — which is why the per-group edges are not an
    optimization but the correctness of the bound, and why the bound is
    per-group data (emitted as a column), not a constant.

    Exactness of what IS computed: probe-point CDFs are exact integer
    cumulative counts from the rank core (:func:`_rank_core`) fed the
    tie-collapsed counts relation with zero-count probe rows merged in
    (a probe tied with a data value collapses into that row, so the
    running sum includes the tie's mass). The D̂ division and argmax
    tie-break (min probe value at the max, exact equality of identical
    doubles) are engine-stable, same as the exact operator.

    Scale shape: one tie-collapse shuffle, the grouped distributed
    order-statistics machinery for the per-group edges (fed the
    tie-collapsed counts hub directly), group cumes, and pooled cumes,
    and G·bins-sized equi-joins — no window over more than one (group,
    bucket) slice, no driver collect beyond the ``bins`` pooled literals
    (bounded by the parameter, same contract as ``quantile_bucket``).

    Output: ``group_col, n_group, ks_d, ks_at, ks_err_bound`` — the
    exact operator's schema plus the per-group bound. Groups that are
    the whole corpus have no rest-sample and report NULL (bound
    included). ``ks_at`` is the minimizing PROBE value, which may be an
    interpolated quantile rather than a data value — the quantized
    contract.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    fractions = [i / bins for i in range(1, bins + 1)]
    nn = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).filter(F.col("_v").isNotNull())
    gtype = df.schema[group_col].dataType
    schema = (
        f"`{group_col}` {gtype.simpleString()}, "
        "n_group bigint, ks_d double, ks_at double, ks_err_bound double"
    )
    counts = nn.groupBy("_g", "_v").agg(F.count(F.lit(1)).alias("_cnt"))
    pooled_counts = counts.groupBy("_v").agg(F.sum("_cnt").alias("_cnt"))
    # Pooled equi-depth edges, collected as driver literals (bounded by
    # ``bins`` — the documented two-phase contract, as quantile_bucket).
    # ONE job through the rank core with no group key
    # (identical interpolation arithmetic, see _percentile_extract)
    # instead of distributed_exact_percentiles' persist + two collects
    # (r15: the operator was 65 stages of scheduling latency at sf0.1 —
    # fewer jobs/driver syncs, same relations).
    pooled = grouped_exact_percentiles_from_counts(
        pooled_counts, [], fractions
    ).collect()
    if not pooled:
        return df.sparkSession.createDataFrame([], schema)
    pooled_edges = sorted({float(r["value"]) for r in pooled})
    groups = counts.select("_g").distinct()
    # group edges from the SAME tie-collapsed counts hub the rest of the
    # plan consumes (no second raw-row aggregation)
    gedges = grouped_exact_percentiles_from_counts(
        counts, ["_g"], fractions
    ).select("_g", F.col("value").alias("_v"))
    pedges = groups.select(
        "_g",
        F.explode(
            F.array(*[F.lit(e) for e in pooled_edges])
        ).alias("_v"),
    )
    # The probe frame is consumed FOUR times (zero-count merge, the
    # group-cume join-back, the global probe-value set, and through it
    # the pooled pass); left lazy, each consumer re-expands the
    # grouped-order-statistics subtree behind gedges — measured 2x the
    # operator at sf0.1. It is G·2·bins rows by construction, so one
    # eager localCheckpoint is bounded and collapses the re-evaluation
    # (the operator is already two-phase: the pooled edges above are
    # driver-side literals).
    probes = gedges.unionByName(pedges).distinct().localCheckpoint(eager=True)
    # merge zero-count probe rows into the counts relation — a probe
    # value absent from the group's data still needs a cume row, and a
    # probe tied with a data value collapses into it so the cume
    # includes the tie's jump. Probe rows are then re-identified by
    # joining the probe set back onto the output.
    combined = (
        counts.unionByName(
            probes.select("_g", "_v", F.lit(0).cast("long").alias("_cnt"))
        )
        .groupBy("_g", "_v")
        .agg(F.sum("_cnt").alias("_cnt"))
    )
    # The two CDF passes stay SEPARATE machinery invocations on purpose
    # (r15 measured experiment): fusing them into one tagged pass cut
    # the stage count 65→61 but SERIALIZED two independent chains that
    # AQE otherwise schedules concurrently — 5.5→6.6 s at sf0.1. In the
    # driver-latency-bound regime, parallel independent chains beat a
    # shorter fused serial path.
    gcume = (
        _rank_core(combined, ["_g"])
        .join(
            probes.select(F.col("_g").alias("_gp"), F.col("_v").alias("_vp")),
            F.col("_g").eqNullSafe(F.col("_gp")) & (F.col("_v") == F.col("_vp")),
        )
        .select("_g", "_v", F.col("_cume").alias("_gc"), F.col("_n").alias("_ng"))
    )
    # pooled CDF at the GLOBAL probe-value set, via the same machinery
    # with no group key; _n here is the corpus total
    gv = probes.select("_v").distinct()
    pooled_combined = (
        pooled_counts.unionByName(
            gv.select("_v", F.lit(0).cast("long").alias("_cnt"))
        )
        .groupBy("_v")
        .agg(F.sum("_cnt").alias("_cnt"))
    )
    pcume = (
        _rank_core(pooled_combined, [])
        .join(gv.select(F.col("_v").alias("_vp")), F.col("_v") == F.col("_vp"))
        .select("_v", F.col("_cume").alias("_pc"), F.col("_n").alias("_nt"))
    )
    diffs = (
        gcume.join(pcume, "_v")
        .filter(F.col("_nt") > F.col("_ng"))
        .select(
            "_g",
            "_v",
            "_nt",
            F.abs(
                F.col("_gc") / F.col("_ng")
                - (F.col("_pc") - F.col("_gc"))
                / (F.col("_nt") - F.col("_ng"))
            ).alias("_d"),
        )
    )
    err = (F.col("_nt").cast("double") / (F.col("_nt") - F.col("_n"))) * (
        F.lit(1.0 / bins) + F.lit(1.0) / F.col("_n")
    )
    return _ks_result(diffs, counts, group_col, round_to, ks_err_bound=err)


def _ks_result(
    diffs: DataFrame, counts: DataFrame, group_col: str, round_to: int, **extra
) -> DataFrame:
    """Shared tail of the two-sample KS operators. ``diffs`` holds
    ``_g, _v, _nt, _d`` (corpus size ``_nt``, CDF gap ``_d``) for every
    group that has a rest-sample. The max of ``struct(_d, −_v)`` picks
    the largest gap and, on exact-double ties, the SMALLEST value, in
    one aggregation. The per-group sizes (``_n``, from the
    tie-collapsed ``counts``) are the left side of a NULL-SAFE join, so
    a group that is the whole corpus (absent from ``diffs``) reports
    NULL statistics. ``extra`` output columns are expressions over
    ``_n`` and ``_nt``, rounded like the statistic."""
    best = diffs.groupBy("_g").agg(
        F.max(F.struct("_d", (-F.col("_v")).alias("_nv"), "_nt")).alias("_s")
    )
    sizes = counts.groupBy("_g").agg(F.sum("_cnt").alias("_n"))
    return (
        _on_keys(sizes, best, ["_g"], "left")
        .select("_g", "_n", "_s._d", "_s._nv", "_s._nt")
        .select(
            F.col("_g").alias(group_col),
            F.col("_n").cast("bigint").alias("n_group"),
            F.round(F.col("_d"), round_to).alias("ks_d"),
            F.round(-F.col("_nv"), round_to).alias("ks_at"),
            *[F.round(e, round_to).alias(k) for k, e in extra.items()],
        )
        .orderBy(group_col)
    )


def reference_bin_expr(edges, value):
    """The one bin-assignment expression: ``bin = #{edges e : e < value}``
    (strictly below, so a value tied with edge j lands in bin j−1 and
    counts toward F(e_j)). Values above the last edge get bin =
    len(edges). ``edges`` is a Python list (inlined as a double-literal
    array) or an array column; ``value`` a column or its name. Used by
    the batch :func:`ks_vs_reference` and the streaming
    ``streaming_ks_reference`` — computing the key with the SAME JVM
    expression on both paths is the house rule that keeps batch/stream
    equivalence exact — and by the rank core's buckets and
    ``plans.store.zorder_by``."""
    if isinstance(edges, (list, tuple)):
        edges = F.array(*[F.lit(float(e)) for e in sorted(edges)])
    v = F.col(value) if isinstance(value, str) else value
    return F.aggregate(
        edges, F.lit(0), lambda acc, e: acc + F.when(e < v, 1).otherwise(0)
    )


def ks_vs_reference(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ref_edges: list[float],
    round_to: int = _ROUND,
) -> DataFrame:
    """ONE-SAMPLE quantized KS per group against a FIXED reference
    distribution — "did this source/shard/day depart from the training
    corpus?" — the third member of the KS family (exact group-vs-rest
    ``ks_vs_rest``, bounded-grid group-vs-rest ``ks_vs_rest_quantized``)
    and the batch twin of ``streaming.streaming_ks_reference``.

    ``ref_edges`` are the reference's ``B`` equi-depth quantile edges at
    fractions i/B (i = 1..B, so the last edge is the reference max);
    the implied reference CDF at edge j is j/B. The statistic is
    ``D̂_g = max_j |F_g(e_j) − j/B|`` — for a continuous reference the
    closed increment of F_ref between adjacent equi-depth edges is
    exactly 1/B, so ``0 ≤ D_g − D̂_g ≤ 1/B`` by the same
    endpoint-plus-increment argument as the two-sample bound (a
    discrete reference adds its tie mass at the edges to the bound;
    values above the last edge are where BOTH CDFs are ≥ F(e_B) and the
    gap only shrinks toward |1−1|).

    Scale shape: bin assignment is one map-side ``aggregate`` over the
    B-literal edge array (no join at all), then a (group, bin) partial
    agg and a per-group window over ≤ B+1 rows. State/output is
    O(G·B). Output: ``group_col, n_group, ks_d, ks_at`` (ks_at = the
    minimizing edge, min on ties).
    """
    if not ref_edges:
        raise ValueError("ref_edges must be non-empty")
    edges = sorted(float(e) for e in ref_edges)
    b = len(edges)
    edges_lit = F.array(*[F.lit(e) for e in edges])
    nn = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).filter(F.col("_v").isNotNull())
    bin_col = reference_bin_expr(edges, "_v")
    counts = (
        nn.select("_g", bin_col.alias("_bin"))
        .groupBy("_g", "_bin")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    # densify to every edge via a literal explode (values in bin j
    # contribute to F(e_i) for all i > j, handled by the cumulative
    # window below; edge j's F needs cume over bins 0..j-1... rather:
    # F_g(e_j) counts rows with _v <= e_j  <=>  _bin <= j-1)
    w = (
        Window.partitionBy("_g")
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cume = counts.select(
        "_g",
        "_bin",
        F.sum("_cnt").over(w).alias("_cume"),
    )
    # evaluate at each edge j (1-indexed): F_g = cume of bins <= j-1.
    # A group may have NO row with _bin <= j-1 for small j (F=0) or
    # skip bins — explode each (g, bin) row to every edge j > bin it is
    # the LATEST cume for: instead, densify per group over the B edges
    # with a literal explode and take the max cume with bin <= j-1.
    groups = counts.select("_g").distinct()
    probe = groups.select(
        "_g", F.explode(F.sequence(F.lit(1), F.lit(b))).alias("_j")
    )
    joined = probe.join(
        cume.select(F.col("_g").alias("_gc"), "_bin", "_cume"),
        (F.col("_g").eqNullSafe(F.col("_gc"))) & (F.col("_bin") <= F.col("_j") - 1),
        "left",
    )
    at_edge = joined.groupBy("_g", "_j").agg(
        F.coalesce(F.max("_cume"), F.lit(0)).alias("_fg"),
    )
    sizes = counts.groupBy("_g").agg(F.sum("_cnt").alias("_ng"))
    at_edge = at_edge.join(
        sizes.select(F.col("_g").alias("_gs"), "_ng"),
        F.col("_g").eqNullSafe(F.col("_gs")),
    )
    d = F.abs(
        F.col("_fg") / F.col("_ng") - F.col("_j").cast("double") / F.lit(float(b))
    )
    diffs = at_edge.select("_g", "_j", "_ng", d.alias("_d"))
    dmax = diffs.groupBy("_g", "_ng").agg(F.max("_d").alias("_dmax"))
    located = (
        diffs.join(
            F.broadcast(dmax.select(F.col("_g").alias("_gm"), "_dmax")),
            F.col("_g").eqNullSafe(F.col("_gm")),
        )
        .filter(F.col("_d") == F.col("_dmax"))
        .groupBy("_g")
        .agg(F.min("_j").alias("_jat"))
    )
    return (
        dmax.join(
            located.select(F.col("_g").alias("_gl"), "_jat"),
            F.col("_g").eqNullSafe(F.col("_gl")),
        )
        .select(
            F.col("_g").alias(group_col),
            F.col("_ng").cast("bigint").alias("n_group"),
            F.round(F.col("_dmax"), round_to).alias("ks_d"),
            F.round(F.element_at(edges_lit, F.col("_jat")), round_to).alias(
                "ks_at"
            ),
        )
        .orderBy(group_col)
    )


def quantile_normalize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    ref_edges: list[float],
    out_col: str = "value_norm",
    round_to: int = _ROUND,
) -> DataFrame:
    """Quantile normalization: map every value onto the REFERENCE
    distribution at its own within-group quantile — the classic
    batch-effect / calibration transform (make shard A's feature
    distribution comparable to shard B's by forcing both onto one
    reference), the TRANSFORM counterpart of the KS family's detectors.

    ``ref_edges`` are B+1 reference quantiles at fractions i/B,
    i = 0..B (note the leading MIN — the quantile function needs both
    ends). Each row's within-group cume fraction
    ``p = cume_dist = (# group rows ≤ v)/n_g`` comes from
    :func:`grouped_cume_counts` (tie-collapsed distributed order
    statistics — ties share one p, no per-group sort), then the
    reference quantile function is evaluated map-side from the literal
    edge array: ``Q(p) = e_k + (e_{k+1} − e_k)·(p·B − k)`` with
    ``k = min(⌊p·B⌋, B−1)`` — exact linear interpolation between the
    surrounding reference edges, the same formula PERCENTILE_CONT
    inverts. p is never 0 (every row has rank ≥ 1), p = 1 maps to the
    reference max.

    Returns the distinct-value relation ``group_cols…, value_col,
    out_col`` (ties collapse — join it back on (group, value) to
    decorate rows; NULL values are excluded as in every order-stat
    operator here). One tie-collapse shuffle + the grouped machinery;
    the transform itself is pure map-side arithmetic.
    """
    if len(ref_edges) < 2:
        raise ValueError("ref_edges needs at least 2 entries (min and max)")
    edges = [float(e) for e in ref_edges]
    b = len(edges) - 1
    edges_lit = F.array(*[F.lit(e) for e in edges])
    cume = grouped_cume_counts(df, group_cols, value_col)
    p = F.col("_cume").cast("double") / F.col("_n")
    k = F.least(F.floor(p * b).cast("int"), F.lit(b - 1))
    e_lo = F.element_at(edges_lit, k + 1)
    e_hi = F.element_at(edges_lit, k + 2)
    q = e_lo + (e_hi - e_lo) * (p * b - k.cast("double"))
    return cume.select(
        *group_cols,
        F.col("_v").alias(value_col),
        F.round(q, round_to).alias(out_col),
    ).orderBy(*group_cols, value_col)


def ks_vs_rest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_to: int = _ROUND,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic of every group AGAINST
    THE REST of the corpus: ``D_g = sup_x |F_g(x) − F_rest(x)|`` over
    non-null values, with the value where the supremum is attained —
    the standard distribution-drift detector (did this source/shard/
    day's metric distribution depart from everything else?), and the
    nonparametric complement of ``text.source_token_divergence``'s KL
    (KS sees continuous VALUE distributions; KL sees token frequencies).

    Exactness: the supremum of a difference of step functions is
    attained at a jump point of either side — i.e. at some
    corpus-distinct value — so evaluating at EVERY corpus-distinct
    value is exact, not a grid approximation. Both CDFs come from
    exact integer cumulative counts; the difference divides exact
    BIGINTs identically in both engines, so the argmax and its
    tie-break (minimum value at the max, exact float equality on
    identical doubles) are engine-stable. Groups that are the whole
    corpus have no rest-sample and report NULL.

    Scale shape: the group CDF is the rank core (:func:`_rank_core`)
    fed a DENSIFIED counts relation — (group × corpus-distinct value)
    with zero-count probe rows — so no per-group sort ever exceeds one
    (group, bucket) slice; the global CDF re-aggregates the SAME
    tie-collapsed counts relation with no group key (never the
    raw rows twice).
    The densified relation is G·D rows (G groups, D distinct values):
    linear in the tie-collapsed data per group, the inherent cost of
    an exact KS. Max and argmax are one partial-aggregatable struct
    max per group (:func:`_ks_result`) — no window over the densified
    relation.
    """
    nn = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).filter(F.col("_v").isNotNull())
    counts = nn.groupBy("_g", "_v").agg(F.count(F.lit(1)).alias("_cnt"))
    vals = counts.select("_v").distinct()
    groups = counts.select("_g").distinct()
    dense = (
        groups.crossJoin(vals)
        .join(
            counts.select(
                F.col("_g").alias("_gc"), F.col("_v").alias("_vc"), "_cnt"
            ),
            # null-safe on the group (a NULL group's counts must land
            # on its probe rows, not zero out); _v is non-null by
            # construction
            F.col("_g").eqNullSafe(F.col("_gc"))
            & (F.col("_v") == F.col("_vc")),
            "left",
        )
        .select(
            "_g", "_v", F.coalesce(F.col("_cnt"), F.lit(0)).alias("_cnt")
        )
    )
    # The two CDF passes stay SEPARATE machinery invocations on purpose
    # (r15 measured experiment, see ks_vs_rest_quantized): a fused
    # tagged pass serialized two chains AQE schedules concurrently and
    # measured SLOWER (4.1→4.6 s at sf0.1).
    gcdf = _rank_core(dense, ["_g"])
    glob = (
        _rank_core(counts.groupBy("_v").agg(F.sum("_cnt").alias("_cnt")), [])
        .select(
            F.col("_v"),
            F.col("_cume").alias("_gc"),
            F.col("_n").alias("_nt"),
        )
    )
    diffs = gcdf.join(glob, "_v").filter(F.col("_nt") > F.col("_n")).select(
        "_g",
        "_v",
        "_nt",
        F.abs(
            F.col("_cume") / F.col("_n")
            - (F.col("_gc") - F.col("_cume")) / (F.col("_nt") - F.col("_n"))
        ).alias("_d"),
    )
    return _ks_result(diffs, counts, group_col, round_to)


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-group WEIGHTED quantiles: the smallest value whose cumulative
    weight reaches q x total weight (the lower weighted quantile — a
    value from the data, never interpolated). One row per group with a
    ``wq_25``-style column per fraction, plus ``total_weight``.

    Where plain quantiles treat every row equally, training-data
    curation weighs rows — token counts, sampling multiplicities,
    quality mass — and asks "which document length covers half the
    TOKENS" (the packing cutoff), not half the documents.

    Exactness across engines: weights micro-quantize to BIGINT
    (round(w * 1e6) — the repo's standard fixed-point discipline;
    ADVICE r11: a double running sum over arbitrary fractional weights
    is accumulation-order-sensitive at threshold boundaries) and are
    pre-aggregated per (group, value) — collapsing duplicate values
    kills order-dependence at the only place ties could occur — then
    ONE ordered INTEGER running sum per group feeds the threshold
    compare, done exactly in cross-multiplied form: cw_micro * 1e6 >=
    q_micro * tw_micro with DECIMAL(38,0) products (fractions
    themselves quantize to 1e-6). No float enters any comparison, so
    the selected values are engine- and partitioning-invariant.
    ``total_weight`` is reported back in input units (micro / 1e6,
    6-dp). Per-group micro-weight mass must stay under 2^63 (~9.2e12
    weight units) — the documented fixed-point contract. Rows with
    NULL value or NULL/non-positive weight are excluded (a zero-weight
    row cannot be selected by mass and a negative weight has no
    quantile meaning).

    Scale shape: the pre-aggregate shuffles (group, value) pairs with
    map-side combine — bounded by the distinct-value relation like
    every exact quantile must be — and the window sorts each group's
    distinct values on one task. Curation group keys are
    low-cardinality by construction; a group whose distinct set
    outgrows one task would need the running weight from the rank
    core's per-bucket offsets (:func:`_rank_core`), not wired here."""
    if not qs or any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError(f"fractions must be in (0, 1], got {qs}")
    v, w = F.col(value_col), F.col(weight_col)
    micro = F.round(w * 1_000_000, 0).cast("bigint")
    agg = (
        df.filter(v.isNotNull() & w.isNotNull() & (w > 0))
        .groupBy(group_col, value_col)
        .agg(F.sum(micro).alias("_w"))
    )
    cum_w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy(group_col)
    cum = agg.select(
        group_col,
        value_col,
        F.sum("_w").over(cum_w).alias("_cw"),
        F.sum("_w").over(tot_w).alias("_tw"),
    )
    cw_dec = F.col("_cw").cast("decimal(38,0)")
    tw_dec = F.col("_tw").cast("decimal(38,0)")
    picks = [
        F.min(
            F.when(
                cw_dec * F.lit(1_000_000)
                >= F.lit(int(round(q * 1_000_000))) * tw_dec,
                F.col(value_col),
            )
        ).alias(f"wq_{int(round(q * 100)):02d}")
        for q in qs
    ]
    return (
        cum.groupBy(group_col)
        .agg(
            *picks,
            F.round(F.max("_tw") / F.lit(1_000_000.0), 6).alias(
                "total_weight"
            ),
        )
        .orderBy(group_col)
    )
