"""Hour-partitioned parquet store (SURVEY.md §1.1, §2.11 Q5).

The reference keeps one parquet chunk per hour under
``chunks/YYYY/MM/DD/HH.parquet`` plus a JSON manifest with per-chunk
``timeRange``/``recordCount``/``sizeBytes`` (reference
backend/lambda/lambda_handler.py:236-245, 80-95, 313-373). The Spark-first
restatement is a Hive-partitioned layout ``year=/month=/day=/hour=``: the
manifest is subsumed by partition discovery plus parquet footer statistics,
and Catalyst prunes partitions from the ``time BETWEEN`` predicate
automatically — no custom FileIndex needed (SURVEY.md §4).

Every writer here bumps one process-wide *store generation*
(:func:`store_generation`). Readers that reuse work across requests —
the planner's store relation and ``QueryCache`` entries — key it on the
generation, so a write in this process retires them. A writer outside
this process (or one that bypasses these functions) must not change the
store under a live reader, or must call :func:`bump_store_generation`.
"""

from __future__ import annotations

import functools
import re
import threading
from collections import defaultdict
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

PARTITION_COLS = ["year", "month", "day", "hour"]

_generation = 0
_generation_lock = threading.Lock()


def store_generation() -> int:
    """The process-wide store generation: bumped by every store write."""
    return _generation


def bump_store_generation() -> None:
    """Retire every reader keyed on the current generation. The writers
    in this package call it themselves."""
    global _generation
    with _generation_lock:
        _generation += 1


def _bumps_generation(write):
    # in ``finally``: a write that fails half-way may still have changed
    # files, and a reader listed before it must not outlive it
    @functools.wraps(write)
    def wrapper(*args, **kwargs):
        try:
            return write(*args, **kwargs)
        finally:
            bump_store_generation()

    return wrapper


#: Shared names of the partition-swap protocol (:func:`_rewrite_partitions`)
#: used by :func:`compact_store` and :func:`merge_into_store` — one healer
#: (:func:`_heal_crashed_swaps`) recovers both.
STAGING_SUFFIX = "._compact_tmp"
BACKUP_SUFFIX = "._compact_bak"
STAGING_ROOT = "._merge_tmp_root"

#: Compaction rewrites a partition dir into ``ceil(bytes / this)`` files.
TARGET_FILE_BYTES = 128 * 1024 * 1024


def _must(ok: bool, what: str) -> None:
    # Hadoop FileSystem signals most failures by RETURNING FALSE, not
    # raising. Treating a false return as success here can destroy the
    # only remaining copy of a partition's rows (ADVICE r03), so every
    # rename/delete on the swap path is checked and a failure aborts
    # with backup + staging left intact for recovery.
    if not ok:
        raise IOError(
            f"partition swap: {what} returned false; aborting — rows "
            "remain in the live/backup/staging dirs and the next run "
            "will recover them"
        )


def _heal_crashed_swaps(fs, _jp, path: str) -> None:
    """Recover partitions left mid-swap by a crashed compact/merge run.

    Walks the store once via the FileSystem API (globs can't express
    "any depth", and the store may live on hdfs:// / s3a://), then:
    backups whose live dir exists are redundant (swap completed) and
    are deleted; backups whose live dir is MISSING mean a crash between
    rename(live→bak) and rename(tmp→live) — rolled back so no data is
    lost. Staging dirs are discarded only when the live dir holds the
    rows (deleting staging when live is absent could drop the only
    copy). Backups are processed first: rolling a backup back restores
    the live dir the staging-cleanup branch checks for. A leftover
    :data:`STAGING_ROOT` is deleted first: it is never the only copy of
    a stored row."""
    root = _jp(path)
    if not fs.exists(root):
        return
    stale = _jp(f"{path.rstrip('/')}/{STAGING_ROOT}")
    if fs.exists(stale):
        _must(fs.delete(stale, True), f"delete stale {stale}")
    leftovers: list[str] = []
    stack = [root]
    while stack:
        d = stack.pop()
        for st in fs.listStatus(d):
            if not st.isDirectory():
                continue
            name = st.getPath().getName()
            if name.endswith(STAGING_SUFFIX) or name.endswith(BACKUP_SUFFIX):
                leftovers.append(st.getPath().toString())
            else:
                stack.append(st.getPath())
    for stray in sorted(leftovers, key=lambda s: not s.endswith(BACKUP_SUFFIX)):
        if stray.endswith(BACKUP_SUFFIX):
            live = stray[: -len(BACKUP_SUFFIX)]
            if fs.exists(_jp(live)):
                _must(fs.delete(_jp(stray), True), f"recovery delete {stray}")
            else:
                _must(
                    fs.rename(_jp(stray), _jp(live)),
                    f"recovery rename {stray} -> {live}",
                )
        else:
            live = stray[: -len(STAGING_SUFFIX)]
            if fs.exists(_jp(live)):
                _must(fs.delete(_jp(stray), True), f"recovery delete {stray}")


def _swap_partition_in(fs, _jp, part_dir: str) -> None:
    """Swap ``part_dir + STAGING_SUFFIX`` into place (the protocol is on
    :func:`_rewrite_partitions`). A first-time partition (no live dir)
    skips the backup step."""
    staging = part_dir + STAGING_SUFFIX
    backup = part_dir + BACKUP_SUFFIX
    succ = _jp(staging + "/_SUCCESS")
    if fs.exists(succ):
        _must(fs.delete(succ, False), f"delete {staging}/_SUCCESS")
    had_live = fs.exists(_jp(part_dir))
    if had_live:
        _must(fs.rename(_jp(part_dir), _jp(backup)), f"rename {part_dir} -> {backup}")
    _must(fs.rename(_jp(staging), _jp(part_dir)), f"rename {staging} -> {part_dir}")
    if had_live:
        _must(fs.delete(_jp(backup), True), f"delete {backup}")


def _open_store(spark: SparkSession, path: str, _wrap_fs=None):
    """``(fs, _jp)`` for the store at ``path`` — its Hadoop FileSystem
    and a ``str -> Path`` constructor — with any crashed swap healed."""
    sc = spark.sparkContext
    _jp = sc._jvm.org.apache.hadoop.fs.Path  # one lookup, not one per path
    fs = _jp(path).getFileSystem(sc._jsc.hadoopConfiguration())
    if _wrap_fs is not None:
        # test seam: Hadoop FileSystems signal most failures by RETURNING
        # FALSE, and only a wrapper can force that branch deterministically
        # (test_planner pins that a false rename aborts before any delete)
        fs = _wrap_fs(fs)
    _heal_crashed_swaps(fs, _jp, path)
    return fs, _jp


def _rewrite_partitions(
    fs, _jp, path: str, df: DataFrame, part_cols: list[str],
    rels: list[str], may_empty: bool,
) -> list[str]:
    """Replace the partition dirs ``rels`` (``year=…/hour=…``, relative
    to ``path``) with ``df``'s rows: the one rewrite routine of the store.

    ``df`` is written ONCE, ``partitionBy(part_cols)``, to the hidden
    staging root :data:`STAGING_ROOT` (``.``-prefixed dirs are invisible
    to readers). Each dir is then moved to ``<dir>._compact_tmp`` and
    swapped in: live → ``<dir>._compact_bak``, staging → live, delete the
    backup. Each rename is atomic per directory on HDFS-like stores; the
    pair is not, but a crash at any point leaves the rows in exactly one
    of live / staging / backup, and :func:`_heal_crashed_swaps` completes
    or rolls back on the next run of either writer. Every FileSystem call
    is checked by :func:`_must`. A dir with no rows in the staging output
    aborts, unless ``may_empty``: then it swaps in an EMPTY dir (deleting
    the live dir instead would look like a crashed swap to the healer,
    which would resurrect the rows). Other dirs keep their files
    byte-identical. Readers must not scan the store during the swap —
    the contract of any file-level rewrite without a table format's
    snapshot isolation. Returns ``f"{path}/{rel}"`` for each dir."""
    base = path.rstrip("/")
    staging_root = f"{base}/{STAGING_ROOT}"
    (
        df.write.mode("overwrite")
        .partitionBy(*part_cols)
        .option("compression", "snappy")
        .parquet(staging_root)
    )
    out: list[str] = []
    for rel in rels:
        part_dir = f"{base}/{rel}"
        src = f"{staging_root}/{rel}"
        staging = part_dir + STAGING_SUFFIX
        parent = _jp(part_dir).getParent()
        if not fs.exists(parent):
            _must(fs.mkdirs(parent), f"mkdirs {parent}")
        if fs.exists(_jp(src)):
            _must(fs.rename(_jp(src), _jp(staging)), f"rename {src} -> {staging}")
        else:
            _must(may_empty, f"exists {src}")
            _must(fs.mkdirs(_jp(staging)), f"mkdirs {staging}")
        _swap_partition_in(fs, _jp, part_dir)
        out.append(part_dir)
    _must(fs.delete(_jp(staging_root), True), f"delete {staging_root}")
    return out


@_bumps_generation
def write_partitioned_store(
    df: DataFrame,
    path: str,
    time_col: str = "time",
    mode: str = "overwrite",
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` hour-partitioned by ``time_col``.

    Derived partition columns are regular Hive partition keys, so any
    engine (Spark, DuckDB, Trino) can prune them; at 100 TB this gives
    ~1 directory per hour exactly like the reference's chunk scheme, but
    each hour may hold many files written in parallel by many tasks.

    ``sort_cols`` clusters rows inside each task's files on secondary
    dimensions (host, job id, …): parquet row-group min/max stats then
    become selective for predicates on those columns, so scans skip row
    groups the partition keys can't prune — the cheap single-dimension
    cousin of Z-ordering, free at write time.
    """
    out = (
        df.withColumn("year", F.year(time_col))
        .withColumn("month", F.month(time_col))
        .withColumn("day", F.dayofmonth(time_col))
        .withColumn("hour", F.hour(time_col))
    )
    if sort_cols:
        out = out.sortWithinPartitions(*PARTITION_COLS, *sort_cols)
    (
        out.write.mode(mode)
        .partitionBy(*PARTITION_COLS)
        .option("compression", "snappy")
        .parquet(path)
    )


def zorder_by(
    df: DataFrame,
    cols: list[str],
    bits_per_col: int = 8,
    key_col: str = "_zkey",
) -> DataFrame:
    """Add a Z-order (Morton) clustering key over ``cols`` — the
    multi-dimension upgrade of ``write_partitioned_store``'s single
    ``sort_cols`` clustering: rows sorted by the interleaved key are
    simultaneously clustered on EVERY listed column, so parquet
    row-group min/max stats become selective for predicates on any of
    them (a single-column sort gives perfect pruning on that column
    and none on the others; Z-ordering trades a little of the first
    for a lot of the rest — measured in test_planner).

    Each column is first bucketed into 2^bits_per_col EQUI-DEPTH ranks
    via :func:`fresco_hpc_spark.operators.percentiles.
    distributed_exact_percentiles` (rank-normalization, so skewed
    distributions spread over the full bucket range — a min/max linear
    scale would collapse a heavy-tailed column into a few buckets),
    then the bucket bits are interleaved JVM-side into one BIGINT. The
    quantile edges are 2^bits − 1 driver-side literals per column
    (bounded by the parameter); bucketing is a map-side scan of the
    literal edge array; NULLs land in bucket 0 and therefore share the
    lowest rows' row groups (pruning for lowest-value predicates is
    accordingly a bit weaker on columns with many NULLs — reserving a
    dedicated NULL bucket would cost a bucket of resolution on every
    column for a corner case). Total key width = len(cols)·bits ≤ 63.

    Usage::

        write_partitioned_store(zorder_by(df, ["user_id", "value"]),
                                path, sort_cols=["_zkey"])
    """
    from fresco_hpc_spark.operators.percentiles import (
        distributed_exact_percentiles,
        reference_bin_expr,
    )

    if not cols:
        raise ValueError("cols must be non-empty")
    n_bits = bits_per_col * len(cols)
    if n_bits > 63:
        raise ValueError(
            f"{len(cols)} cols x {bits_per_col} bits = {n_bits} exceeds the "
            "63-bit signed key budget; lower bits_per_col"
        )
    n_buckets = 1 << bits_per_col
    fractions = [i / n_buckets for i in range(1, n_buckets)]
    bucket_cols = []
    for c in cols:
        edges = distributed_exact_percentiles(df, c, fractions)
        if edges[0] is None:
            bucket_cols.append(F.lit(0))
            continue
        b = reference_bin_expr(edges, F.col(c).cast("double"))
        bucket_cols.append(F.when(F.col(c).isNull(), F.lit(0)).otherwise(b))
    # interleave: output bit (j*len(cols)+i) = bit j of column i's bucket
    key = F.lit(0).cast("bigint")
    for j in range(bits_per_col):
        for i, b in enumerate(bucket_cols):
            bit = F.shiftright(b.cast("bigint"), j).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(
                F.shiftleft(bit, j * len(cols) + i)
            )
    return df.withColumn(key_col, key)


def read_partitioned_store(spark: SparkSession, path: str) -> DataFrame:
    """Open the store with partition discovery; the partition key columns
    come back typed (int) and prunable. Drop them with ``.drop(*PARTITION_
    COLS)`` if the caller wants the original shape."""
    return spark.read.option("basePath", path).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted managed table: rows are hash-partitioned into
    ``n_buckets`` files on ``bucket_col`` at WRITE time, each bucket sorted
    on the key.

    This is the co-located-join primitive for 100 TB: two tables bucketed
    the same way join with ZERO exchange and zero sort — the dominant cost
    of a repeated big⋈big join paid once at ingest instead of per query.
    (Plain parquet paths can't carry bucket metadata; this must be a
    catalog table, which is why it lives here next to the store.)
    `test_bucketed_join_has_no_exchange` pins the no-shuffle plan.
    """
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("compression", "snappy")
        .format("parquet")
        .saveAsTable(table_name)
    )


def hours_by_day(hours: list[datetime]) -> dict[tuple[int, int, int], list[int]]:
    """Hour keys grouped by calendar day, both in ascending order: the
    shape of one hour-directory glob, or one partition-pruning
    disjunct, per day."""
    by_day: dict[tuple[int, int, int], set[int]] = defaultdict(set)
    for h in hours:
        by_day[(h.year, h.month, h.day)].add(h.hour)
    return {day: sorted(hs) for day, hs in sorted(by_day.items())}


# characters Hadoop's glob treats as syntax, escaped in the store root
_GLOB_SPECIAL = re.compile(r"[\\{}\[\]*?]")


def list_partition_files(
    spark: SparkSession, path: str, hours: list[datetime] | None = None
) -> list[tuple[str, int]]:
    """(file, size) of the store's parquet files, through the Hadoop
    FileSystem API — works on hdfs:// and s3a:// the same as file://,
    unlike os.walk.

    Without ``hours`` the whole store is walked (compaction needs every
    partition), skipping any path segment that starts with ``.`` or
    ``_`` — the names Spark's reader skips, such as a staging root. With
    ``hours`` only those hour directories are listed:
    one ``globStatus`` per calendar day, so the cost follows the window,
    not the store — the reference's manifest lookup returns just the
    window's chunks the same way (lambda_handler.py:313-373). The glob
    also matches hours under a leading ``batch_id=`` level, the layout
    :func:`fresco_hpc_spark.streaming.watcher.exactly_once_store_writer`
    writes. Metadata only: the query path reads a partition-pruned
    relation instead (``plans.planner.execute``)."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path
    root = jpath(path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    if hours is None:
        prefix = fs.makeQualified(root).toString().rstrip("/") + "/"
        statuses = []
        it = fs.listFiles(root, True)  # recursive
        while it.hasNext():
            status = it.next()
            rel = status.getPath().toString()[len(prefix):]
            if not any(seg.startswith((".", "_")) for seg in rel.split("/")):
                statuses.append(status)
    else:
        base = _GLOB_SPECIAL.sub(r"\\\g<0>", path.rstrip("/"))
        statuses = []
        for (y, m, d), hs in hours_by_day(hours).items():
            pattern = (
                f"{base}/{{batch_id=*/,}}year={y}/month={m}/day={d}/"
                f"hour={{{','.join(map(str, hs))}}}/*.parquet"
            )
            statuses.extend(fs.globStatus(jpath(pattern)) or [])
    out: list[tuple[str, int]] = []
    for status in statuses:
        p = status.getPath().toString()
        if p.endswith(".parquet"):
            out.append((p, int(status.getLen())))
    return out


@_bumps_generation
def compact_store(spark: SparkSession, path: str, _wrap_fs=None) -> list[str]:
    """Small-file compaction for the hour-partitioned store: rewrite every
    partition dir that holds more than ``ceil(bytes / TARGET_FILE_BYTES)``
    parquet files into at most that many. Streaming ingest (one file per
    micro-batch per task) fragments partitions; thousands of tiny files
    cost a scan task each and overwhelm file listing at 100 TB — the
    fix every production lake runs on a schedule.

    One listing selects the dirs, which are read as one relation, hashed
    into at most their file count each, and rewritten by
    :func:`_rewrite_partitions`. The partition keys come from the dir
    names: ``year/…/hour``, or ``batch_id/…`` for a store written by
    :func:`fresco_hpc_spark.streaming.watcher.exactly_once_store_writer`.
    Returns the rewritten dir paths.
    """
    import math

    fs, _jp = _open_store(spark, path, _wrap_fs)
    base = path.rstrip("/")
    prefix = fs.makeQualified(_jp(base)).toString().rstrip("/") + "/"
    per_dir: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for f, size in list_partition_files(spark, path):
        stats = per_dir[f[len(prefix):].rsplit("/", 1)[0]]
        stats[0] += 1
        stats[1] += size
    n_target = {
        rel: n
        for rel, (files, size) in sorted(per_dir.items())
        if files > (n := max(1, math.ceil(size / TARGET_FILE_BYTES)))
    }
    if not n_target:
        return []
    rels = list(n_target)
    part_cols = [seg.split("=", 1)[0] for seg in rels[0].split("/")]
    # mergeSchema: one file's footer must not decide the columns of
    # every dir read here, or a column some dirs lack would be dropped
    df = (
        spark.read.option("basePath", base)
        .option("mergeSchema", "true")
        .parquet(*[f"{base}/{rel}" for rel in rels])
    )
    rel_of_row = F.concat_ws(
        "/", *[F.concat(F.lit(f"{c}="), F.col(c).cast("string")) for c in part_cols]
    )
    files_of_rel = F.create_map(
        *[F.lit(x) for rel, n in n_target.items() for x in (rel, n)]
    )
    bucket = F.pmod(F.hash(*df.columns), files_of_rel[rel_of_row])
    return _rewrite_partitions(
        fs, _jp, path, df.repartition(*part_cols, bucket), part_cols, rels,
        may_empty=False,
    )


@_bumps_generation
def merge_into_store(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    time_col: str = "time",
    op_col: str = "op",
    seq_col: str | None = None,
    zorder_cols: list[str] | None = None,
    _wrap_fs=None,
) -> list[str]:
    """Apply a keyed CDC batch (upserts + deletes) to the
    hour-partitioned store by rewriting ONLY the touched hour
    partitions — the write half of the SCD2/CDC family (VERDICT r7
    item 3; the reference pipeline is append-only, so this is an
    extension, not parity).

    ``changes`` carries the store's data columns (including
    ``time_col``) plus ``op_col`` ∈ {'upsert', 'delete'} and an
    optional ``seq_col`` ordering changes to the same (key, hour)
    within the batch (highest wins; ties raise rather than pick
    silently — determinism over convenience). Without ``seq_col``,
    more than one change per (key, hour) raises. Because a row's
    identity is (key, hour-of-``time_col``), the dedup window is
    per (key, hour) — NOT per key — so a cross-hour move (a delete
    at the old hour plus an upsert at the new hour) keeps BOTH
    changes; a per-key window would keep only the higher seq and
    silently strand the stale row in the old partition.

    Semantics: a row's identity is (key, hour-of-``time_col``) — the
    merge scope is per hour partition, so moving a row across hours is
    a delete at the old time plus an upsert at the new time, exactly
    like re-keying in any partitioned table format. For each hour
    present in the batch: stored rows whose key appears in the batch
    for that hour are dropped, upsert rows are added; every other hour
    keeps its files byte-identical. Deletes of absent keys are no-ops,
    which together with replace-by-key upserts makes the whole merge
    IDEMPOTENT on replay — re-applying the same batch (after a crash,
    a retried orchestrator task, or an at-least-once queue) yields the
    same store.

    Mechanics: one partition-pruned read of the touched hours, one
    null-safe anti-join on (key, hour), one union with the upsert
    rows, then :func:`_rewrite_partitions` writes the result once and
    swaps each touched hour in (crash-safe and self-healing as described
    there). An hour whose rows are all deleted swaps in an EMPTY
    directory. The touched-hour list is collected driver-side: a CDC
    batch touches a bounded set of hours by construction (same
    driver-side bound as the compactor's partition listing).

    ``zorder_cols`` re-applies :func:`zorder_by` clustering to the
    rewritten hour partitions (VERDICT r9 item 7): a store written
    z-ordered gradually loses its row-group pruning win as CDC merges
    rewrite touched hours in arbitrary row order — each merged hour
    reverts to ~unpruned scans while untouched hours stay clustered.
    With ``zorder_cols`` the merged relation is range-partitioned and
    sorted on (partition cols, Morton key) before the staging write —
    the global-sort shape of a table format's OPTIMIZE ZORDER rewrite,
    so each write task owns a disjoint key slice — and the key column
    is dropped pre-write so the store schema stays identical to
    untouched partitions. The partition-cols-first sort satisfies the
    file writer's required ordering, so no order-destroying re-sort is
    inserted after the projection (pinned by
    test_merge_zorder_preserves_rowgroup_pruning on real parquet
    footers: merged-hour pruning ≈ freshly z-ordered, ≫ unclustered).
    Cost: one range shuffle + sort of the touched-hour rows plus
    len(cols) percentile scans for the bucket edges — still bounded by
    hours touched, never the whole store.

    Returns the swapped partition paths.
    """
    from functools import reduce

    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    fs, _jp = _open_store(spark, path, _wrap_fs)

    # Partition columns FIRST: row identity is (key, hour), so both the
    # ambiguity check and the last-writer-wins window must see the hour.
    # Deduping per key alone would collapse a cross-hour move
    # (delete@old-hour + upsert@new-hour) into just the upsert, silently
    # stranding the stale row in the old partition.
    #
    # The batch is materialized ONCE (localCheckpoint): validations, the
    # ambiguity check, the touched-hour listing and the staging write are
    # all separate Spark jobs, and without the checkpoint each re-runs
    # the caller's full change-derivation lineage (a CDC extractor is
    # typically a multi-source union — measured 5 redundant re-derivations
    # per merge). A CDC batch is bounded by contract (the touched-hour
    # list is already collected driver-side below), so the checkpoint is
    # bounded executor storage (same contract as the BPE trainer's
    # per-round checkpoint).
    changes = (
        changes.withColumn("year", F.year(time_col))
        .withColumn("month", F.month(time_col))
        .withColumn("day", F.dayofmonth(time_col))
        .withColumn("hour", F.hour(time_col))
    ).localCheckpoint(eager=True)
    checks = changes.agg(
        F.sum(
            (~F.col(op_col).isin("upsert", "delete")).cast("long")
        ).alias("_bad_ops"),
        F.sum(F.col(time_col).isNull().cast("long")).alias("_null_ts"),
    ).collect()[0]
    if checks["_bad_ops"]:
        raise ValueError(
            f"merge_into_store: {checks['_bad_ops']} change rows have "
            f"{op_col} outside {{'upsert', 'delete'}}"
        )
    if checks["_null_ts"]:
        raise ValueError(
            f"merge_into_store: NULL {time_col} rows cannot be routed to an "
            "hour partition; fix the batch upstream"
        )
    dup_keys = [*key_cols, *PARTITION_COLS] + ([seq_col] if seq_col else [])
    # one job yields BOTH the ambiguity verdict and the touched-hour
    # list: per-(key,hour[,seq]) counts roll up to per-hour max counts —
    # a row per touched hour (bounded), max > 1 anywhere = ambiguous.
    # (winners keeps >=1 row per (key, hour) group, so the touched-hour
    # set of `changes` and of `winners` is identical by construction.)
    per_hour = (
        changes.groupBy(*[F.col(c) for c in dup_keys])
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(*PARTITION_COLS)
        .agg(F.max("_c").alias("_maxc"))
        .collect()
    )
    if any(r["_maxc"] > 1 for r in per_hour):
        raise ValueError(
            "merge_into_store: ambiguous batch — duplicate "
            f"({', '.join(dup_keys)}) rows; provide a distinct {seq_col or 'seq'} "
            "per change so last-writer-wins is deterministic"
        )
    if seq_col:
        w = Window.partitionBy(*key_cols, *PARTITION_COLS).orderBy(
            F.col(seq_col).desc()
        )
        winners = (
            changes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", seq_col)
        )
    else:
        winners = changes
    data_cols = [
        c for c in winners.columns if c != op_col and c not in PARTITION_COLS
    ]
    touched = [tuple(r[c] for c in PARTITION_COLS) for r in per_hour]
    if not touched:
        return []
    hour_pred = reduce(
        lambda a, b: a | b,
        [
            reduce(
                lambda x, y: x & y,
                [F.col(c) == F.lit(v) for c, v in zip(PARTITION_COLS, t)],
            )
            for t in touched
        ],
    )
    # an empty store — or touched hours that hold no files yet — has
    # nothing to anti-join; list only the touched hours to find out
    if list_partition_files(spark, path, [datetime(*t) for t in touched]):
        live = read_partitioned_store(spark, path).filter(hour_pred)
        key_match = reduce(
            lambda a, b: a & b,
            [F.col(c).eqNullSafe(F.col(f"_k_{c}")) for c in key_cols]
            + [F.col(c) == F.col(f"_k_{c}") for c in PARTITION_COLS],
        )
        batch_keys = winners.select(
            *[F.col(c).alias(f"_k_{c}") for c in [*key_cols, *PARTITION_COLS]]
        ).distinct()
        survivors = live.join(batch_keys, key_match, "left_anti").select(*data_cols, *PARTITION_COLS)
    else:
        survivors = None
    upserts = winners.filter(F.col(op_col) == "upsert").select(
        *data_cols, *PARTITION_COLS
    )
    merged = upserts if survivors is None else survivors.unionByName(upserts)
    if not zorder_cols:
        # cluster by hour before the dynamic-partition write: without it
        # every write task holds rows of MANY hours (one file per
        # task x hour — small-file fragmentation, and the partition-sort
        # the file writer inserts runs per task over all hours), and at
        # bench scale the whole staging write inherits the anti-join's
        # coalesced 1-2 task layout. The exchange spreads touched hours
        # across the session's shuffle partitions (AQE coalesces the
        # small ones), giving parallel writers and ~one file per hour.
        # The z-order branch below already establishes its own range
        # partitioning on (hour, zkey).
        merged = merged.repartition(*PARTITION_COLS)
    if zorder_cols:
        # range-partition on (hour, zkey) BEFORE the within-task sort —
        # sortWithinPartitions alone leaves every write task spanning
        # the full Morton range (each file's row groups then overlap
        # every box predicate); the range exchange gives tasks disjoint
        # key slices, the same global-sort shape as a table format's
        # OPTIMIZE ZORDER rewrite
        merged = (
            zorder_by(merged, zorder_cols)
            .repartitionByRange(*PARTITION_COLS, "_zkey")
            .sortWithinPartitions(*PARTITION_COLS, "_zkey")
            .drop("_zkey")
        )

    rels = [
        "/".join(f"{c}={v}" for c, v in zip(PARTITION_COLS, t))
        for t in sorted(touched)
    ]
    return _rewrite_partitions(
        fs, _jp, path, merged, PARTITION_COLS, rels, may_empty=True
    )
