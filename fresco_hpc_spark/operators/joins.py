"""Join strategies (SURVEY.md §2.3 closing row: the reference has no
fact-to-fact equi-joins — "available for free in Spark if needed". A
complete engine needs them, so they are first-class here, each shaped for
its scale profile.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def broadcast_dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Fact ⋈ small dimension with an explicit broadcast: the dimension
    ships to every executor once, the fact table never shuffles. The
    right shape whenever |dim| fits in executor memory (dimension tables,
    stats frames) — at 100 TB the alternative is shuffling the fact."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def large_equi_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Big ⋈ big: no hint — Catalyst picks sort-merge (or shuffled-hash)
    and AQE splits skewed partitions at runtime
    (spark.sql.adaptive.skewJoin.enabled, set in session.py). Both sides
    shuffle on the key once; co-locating repeated joins is what bucketed
    tables are for."""
    return left.join(right, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS: rows of ``left`` with a match in ``right``; right side
    deduplicates during the join, nothing from it is projected."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """NOT EXISTS: rows of ``left`` without a match in ``right``."""
    return left.join(right, on=on, how="left_anti")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: a hot key on the big (left) side would
    funnel into one shuffle partition; salting splits it across
    ``n_salts`` partitions. Left rows get a deterministic salt (hash of the
    full row, mod n); the right side is replicated once per salt value; the
    join key becomes (key, salt) so every left row still meets exactly one
    copy of its matching right rows. Semantics-preserving for inner/left
    joins with a skewed LEFT side; the right side grows ×n_salts, so use it
    when |right| ≪ |left| but right is too big to broadcast.

    AQE's skew-join split (spark.sql.adaptive.skewJoin, on in session.py)
    handles SOME cases at runtime; the r8 head-to-head (SCALE.md
    "AQE skew-join vs salted_join") measured when it
    does not: hot partitions under skewedPartitionThresholdInBytes
    (256 MB default) are invisible to it, and a join feeding a SAME-key
    aggregation is never split (even forced) because the agg reuses the
    join's partitioning — the common warehouse shape where only salting
    bounds the task (measured ×15.9 smaller max task on a 50%-hot key,
    outputs multiset-identical).
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join preserves semantics only for inner/left joins; got how={how!r} "
            "(the right side is replicated per salt, so right/full-outer would "
            "duplicate unmatched right rows n_salts times)"
        )
    keys = [on] if isinstance(on, str) else list(on)
    salt = F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    l2 = left.withColumn("__salt", salt)
    r2 = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return l2.join(r2, on=keys + ["__salt"], how=how).drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str | None = None,
    right_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: int | None = None,
    matched_ts_col: str = "matched_ts",
) -> DataFrame:
    """As-of join (SURVEY.md §2.3 J5 — absent in the reference; a first-class
    time-series primitive here): for every left row, the nearest right row
    with the same key and ``right.ts <= left.ts`` (backward; ties match) or
    ``>=`` (forward).

    Join-free distributed plan: tag + union both sides, then one window pass
    ``last(right_payload ignore nulls)`` ordered by (ts, side). Exactly ONE
    shuffle (hash on the key for the window sort) regardless of row counts —
    no O(|L|·|R|) range join, no per-key loop — so it scales to 100 TB the
    same way any windowed scan does. Skewed keys cost what any per-key window
    costs; salting is not applicable (the window needs full key ordering).

    ``right_cols`` are carried from the matched row (default: all non-key,
    non-ts columns); the matched timestamp lands in ``matched_ts_col``;
    unmatched left rows keep nulls. ``tolerance_seconds`` nulls out matches
    farther than the given gap (pandas ``merge_asof`` tolerance semantics).

    Null timestamps are dropped from BOTH sides before the union (same
    null-guard convention as time_bucket_agg/gap_fill): an as-of match at an
    undefined time is meaningless, and Spark's NULLS FIRST ascending window
    order would otherwise carry a null-ts right payload forward as a
    spurious "match" (and diverge from DuckDB's NULLS LAST).
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or left_ts
    left = left.filter(F.col(left_ts).isNotNull())
    right = right.filter(F.col(right_ts).isNotNull())
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in keys and c != right_ts]
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    r_payload = F.struct(
        F.col(right_ts).alias("__match_ts"), *[F.col(c) for c in right_cols]
    )
    r2 = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        r_payload.alias("__r"),
        F.lit(0).alias("__side"),
    )
    l2 = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(None).cast(r2.schema["__r"].dataType).alias("__r"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
    )
    r2 = r2.withColumn("__l", F.lit(None).cast(l2.schema["__l"].dataType))

    from pyspark.sql import Window

    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l2.unionByName(r2)
        .withColumn("__m", F.last("__r", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
    )
    if tolerance_seconds is not None:
        gap = F.abs(
            F.col("__ts").cast("long") - F.col("__m.__match_ts").cast("long")
        )
        matched = matched.withColumn(
            "__m", F.when(gap <= tolerance_seconds, F.col("__m"))
        )
    return matched.select(
        "__l.*",
        F.col("__m.__match_ts").alias(matched_ts_col),
        *[F.col(f"__m.{c}").alias(c if c not in left.columns else f"{c}_right") for c in right_cols],
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    time_col: str,
    start_col: str,
    end_col: str,
    keys: list[str] | None = None,
    bucket_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join: each ``points`` row matches the
    ``intervals`` rows whose ``[start, end]`` contains its timestamp
    (optionally also equi-matched on ``keys``).

    The naive formulation is a pure range predicate — Catalyst can only
    plan it as BroadcastNestedLoopJoin (fine for a small interval side,
    fatal fact-to-fact: O(|P|·|I|)). Scale path: quantize time into
    ``bucket_seconds`` buckets; every interval EXPLODES to the buckets
    it covers (sequence over the floor-bucket range) and every point
    lands in exactly one bucket, so the match becomes an EQUI-join on
    (keys..., bucket) with the exact BETWEEN applied after. A point's
    single bucket meets each covering interval once — no dedup needed.
    Shuffle ∝ points + Σ interval_spans/bucket; pick ``bucket_seconds``
    near the typical interval length so most intervals explode to ≤ 2
    buckets.

    ``how='left'`` keeps unmatched points (their interval columns null).
    Because every point lands in exactly ONE bucket, a plain left-outer
    join over the (keys..., bucket) equi-condition plus the BETWEEN
    residual is already exact: a matched point emits once per covering
    interval, an unmatched point emits exactly once with nulls — no
    anti-join remainder pass, one join, one shuffle. (An earlier
    formulation rebuilt the remainder with a left_anti on all point
    columns, which double-emitted matched rows containing NULLs —
    null-unsafe equality — and cost a second shuffle.)
    """
    keys = keys or []
    w = F.lit(int(bucket_seconds)).cast("bigint")
    p_secs = F.col(time_col).cast("long")
    s_secs = F.col(start_col).cast("long")
    e_secs = F.col(end_col).cast("long")

    pb = points.withColumn("_bucket", (p_secs / w).cast("bigint"))
    ib = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence((s_secs / w).cast("bigint"), (e_secs / w).cast("bigint"))
        ),
    )
    cond = [F.col(f"p.{k}") == F.col(f"i.{k}") for k in keys] + [
        F.col("p._bucket") == F.col("i._bucket"),
        F.col(f"p.{time_col}").between(
            F.col(f"i.{start_col}"), F.col(f"i.{end_col}")
        ),
    ]
    p, i = pb.alias("p"), ib.alias("i")
    icols = [
        F.col(f"i.{c}").alias(c)
        for c in intervals.columns
        if c not in set(keys)
    ]
    pcols = [F.col(f"p.{c}").alias(c) for c in points.columns]
    if how not in ("inner", "left"):
        raise ValueError(f"interval_join supports inner/left, got {how!r}")
    return p.join(i, cond, how).select(*pcols, *icols)


def fuzzy_match_names(
    df: DataFrame,
    name_col: str,
    max_dist: int = 4,
) -> DataFrame:
    """Blocked-Levenshtein record linkage: the merge-candidate
    DICTIONARY for a dirty string column — every pair of distinct
    normalized values that (a) share a blocking key and (b) sit within
    ``max_dist`` edits, with each value's occurrence count. The classic
    entity-resolution preflight (same shape as Dedupe/Splink blocking):
    a human or a downstream rule consumes the name-level pair table;
    the id-level n² expansion of each matched pair never materializes.

    Documented semantics (the oracle contract): names are
    ``lower(trim())``-normalized; candidates are DISTINCT name pairs
    sharing the same first whitespace token (the blocking key) with
    ``name_a < name_b``; a pair is emitted when
    ``levenshtein(name_a, name_b) <= max_dist``. Blocking is part of
    the semantics — a pair differing in its first token is by
    definition not a candidate (standard blocking recall trade-off,
    stated rather than hidden).

    Scale shape: the expensive O(|a|·|b|)-per-pair edit distance runs
    over the DISTINCT-value relation, not the row relation — for a
    100 TB fact table with a vocabulary-sized name domain the
    candidate join is vocab × vocab-per-block, reached through one
    partial-aggregating groupBy. The join itself is an EQUI join on
    the block token (never a cartesian; plan-asserted), and the edit
    distance uses Spark's bounded form ``levenshtein(l, r, threshold)``
    which early-exits the DP once the running distance exceeds the
    threshold — O(max_dist·len) instead of O(len²) per pair. Skewed
    block keys (a stop-word first token) bound candidates by
    block_df², the same Σ df² mass the n-gram dedup family documents;
    for heavier skew, compose a (first_token, length_bucket) key.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    norm = F.lower(F.trim(F.col(name_col)))
    names = (
        df.select(norm.alias("name"))
        .filter(F.col("name").isNotNull() & (F.col("name") != ""))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("block", F.split(F.col("name"), r"\s+").getItem(0))
    )
    a = names.select(
        "block",
        F.col("name").alias("name_a"),
        F.col("cnt").alias("cnt_a"),
    )
    b = names.select(
        F.col("block").alias("_blk_b"),
        F.col("name").alias("name_b"),
        F.col("cnt").alias("cnt_b"),
    )
    return (
        a.join(
            b,
            (F.col("block") == F.col("_blk_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn(
            "dist",
            F.levenshtein(F.col("name_a"), F.col("name_b"), int(max_dist)),
        )
        .filter(F.col("dist") >= 0)
        .select("block", "name_a", "name_b", "dist", "cnt_a", "cnt_b")
        .orderBy("name_a", "name_b")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    name_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood record linkage — the second classic candidate
    generator next to :func:`fuzzy_match_names`' blocking: sort the
    DISTINCT normalized values and emit every pair within ``window``
    positions of each other, with the positional ``gap`` and the edit
    distance. Sorted-neighborhood catches what blocking's first-token
    key misses (typos IN the blocking key: "red cat" / "rwd cat" share
    no first token but sort adjacently when the typo is late... and
    more importantly the method is key-agnostic), while blocking
    catches transpositions that sort far apart — production linkage
    runs both and unions the candidates.

    Distributed EXACTLY, with no global-sort single task: each distinct
    name's global ordinal is its ``_cume`` from the grouped rank core
    (``percentiles.grouped_cume_counts`` with no group key) — names are
    distinct, so the count of names ≤ it is its 1-based position.
    Neighbor pairs are then ONE equi-join on ``ordinal + gap`` after
    exploding gap ∈ 1..window — no boundary cases, no window wider than
    one rank bucket.
    """
    from fresco_hpc_spark.operators.percentiles import grouped_cume_counts

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    norm = F.lower(F.trim(F.col(name_col)))
    names = df.select(norm.alias("name")).filter(F.col("name") != "").distinct()
    ranked = grouped_cume_counts(names, [], "name").select(
        F.col("_v").alias("name"), F.col("_cume").alias("_ord")
    )
    a = ranked.select(F.col("name").alias("name_a"), F.col("_ord"))
    b = ranked.select(F.col("name").alias("name_b"), F.col("_ord").alias("_ord_b"))
    return (
        a.withColumn("gap", F.explode(F.sequence(F.lit(1), F.lit(int(window)))))
        .withColumn("_target", F.col("_ord") + F.col("gap"))
        .join(b, F.col("_target") == F.col("_ord_b"))
        .select(
            "name_a",
            "name_b",
            F.col("gap").cast("bigint").alias("gap"),
            F.levenshtein(F.col("name_a"), F.col("name_b")).alias("dist"),
        )
        .orderBy("name_a", "gap")
    )
