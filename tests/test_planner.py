"""Planner facade + hour-partitioned store (SURVEY.md §2.11 Q1-Q8, §7.4 #7).

Parity targets: reference backend/lambda/lambda_handler.py —
time-range extraction (155-176, error at 290-292), hour expansion
(298-309, inclusive end hour), partition sizing (375-392), plan assembly
(394-414). Pruning is verified physically via ``inputFiles()``.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from fresco_hpc_spark.plans import (
    MissingTimeRangeError,
    execute,
    extract_filters,
    extract_projections,
    extract_time_range,
    plan_query,
    required_hours,
    write_partitioned_store,
)
from fresco_hpc_spark.sources import table
from tests.conftest import SF_SMALL

SQL = (
    "SELECT * FROM s3_fresco WHERE time BETWEEN "
    "'2024-01-02 01:30:00' AND '2024-01-02 03:10:00'"
)


def test_extract_time_range():
    s, e = extract_time_range(SQL)
    assert s == datetime(2024, 1, 2, 1, 30)
    assert e == datetime(2024, 1, 2, 3, 10)


def test_extract_time_range_required():
    with pytest.raises(MissingTimeRangeError):
        extract_time_range("SELECT * FROM s3_fresco")


def test_required_hours_floor_and_inclusive_end():
    hours = required_hours(datetime(2024, 1, 2, 1, 30), datetime(2024, 1, 2, 3, 10))
    assert hours == [
        datetime(2024, 1, 2, 1),
        datetime(2024, 1, 2, 2),
        datetime(2024, 1, 2, 3),
    ]


def test_required_hours_exact_hour_end():
    # end exactly on the hour: that hour is still included (while cur <= end)
    hours = required_hours(datetime(2024, 1, 2, 1, 0), datetime(2024, 1, 2, 2, 0))
    assert hours == [datetime(2024, 1, 2, 1), datetime(2024, 1, 2, 2)]


def test_extract_projections_and_filters():
    sql = (
        "SELECT time, value FROM s3_fresco WHERE time BETWEEN '2024-01-01' "
        "AND '2024-01-02' AND event_type = 'click' AND value > 3 ORDER BY time"
    )
    assert extract_projections(sql) == ["time", "value"]
    filters = extract_filters(sql)
    assert any("event_type" in f for f in filters)
    assert any("value > 3" in f for f in filters)
    # the BETWEEN's AND must not split the range predicate
    assert any("between" in f.lower() and "and" in f.lower() for f in filters)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "events_store")
    events = table(spark, SF_SMALL, "events").withColumnRenamed("ts", "time")
    write_partitioned_store(events, path, time_col="time")
    return path


def test_plan_prunes_to_required_hours(spark, store):
    plan = plan_query(spark, SQL, store)
    assert len(plan.hours) == 3
    assert plan.chunks, "expected at least one chunk in the window"
    for f in plan.chunks:
        assert "year=2024/month=1/day=2/" in f
        assert any(f"/hour={h}/" in f for h in (1, 2, 3))
    assert plan.estimated_size_bytes > 0
    assert 1 <= plan.partition_count <= 4


def _formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_execute_prunes_and_matches_direct_filter(spark, store):
    out = execute(spark, SQL, store)
    # Physical pruning: the scan must carry the hour keys as
    # PartitionFilters (inputFiles() can't show this — it lists the
    # FileIndex before pruning) and push the exact BETWEEN into the scan.
    plan = _formatted_plan(spark, out)
    assert "PartitionFilters:" in plan
    assert "(day" in plan and "= 2)" in plan
    assert "IN (1,2,3)" in plan
    assert "GreaterThanOrEqual(time" in plan and "LessThanOrEqual(time" in plan
    # correctness: equals the exact predicate applied to the raw table
    events = table(spark, SF_SMALL, "events").withColumnRenamed("ts", "time")
    expected = events.filter(
        "time BETWEEN '2024-01-02 01:30:00' AND '2024-01-02 03:10:00'"
    )
    assert out.count() == expected.count()
    got_ids = {r.event_id for r in out.select("event_id").collect()}
    want_ids = {r.event_id for r in expected.select("event_id").collect()}
    assert got_ids == want_ids


def test_execute_with_projection(spark, store):
    sql = (
        "SELECT event_type, COUNT(*) AS n FROM s3_fresco WHERE time BETWEEN "
        "'2024-01-02 00:00:00' AND '2024-01-02 23:59:59' GROUP BY event_type"
    )
    out = execute(spark, sql, store)
    assert set(out.columns) == {"event_type", "n"}
    assert out.count() > 0


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join contract: two tables bucketed identically on the
    join key plan a SortMergeJoin with NO Exchange on either side — the
    per-query shuffle cost of a repeated big x big join is paid once at
    write time. (The 100 TB pattern for fact-to-fact joins, SCALE.md.)"""
    from fresco_hpc_spark.plans import write_bucketed_table
    from fresco_hpc_spark.sources import table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
        orders = table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed_table(li, "li_bkt", "l_orderkey", n_buckets=4)
        write_bucketed_table(
            orders.withColumnRenamed("o_orderkey", "l_orderkey"),
            "ord_bkt", "l_orderkey", n_buckets=4,
        )
        joined = spark.table("li_bkt").join(spark.table("ord_bkt"), "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # bucket pruning metadata actually drove the plan, not luck:
        assert joined.count() == li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_store_secondary_sort_clusters_rows(spark, tmp_path):
    """sort_cols clusters each written file on the secondary key, so
    parquet row-group min/max stats are selective for predicates the
    partition keys can't prune (SCALE.md data-layout note)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import list_partition_files, write_partitioned_store
    from fresco_hpc_spark.sources import table

    ev = table(spark, SF_SMALL, "events").select(
        F.col("ts").alias("time"), "user_id", "value"
    )
    path = str(tmp_path / "sorted_store")
    write_partitioned_store(ev, path, sort_cols=["user_id"])

    files = [f for f, _ in list_partition_files(spark, path)]
    assert files
    for f in files[:5]:
        col = pq.read_table(f.replace("file:", ""), columns=["user_id"])
        vals = col["user_id"].to_pylist()
        assert vals == sorted(vals)  # clustered -> tight row-group stats

    # predicate on the sorted column still reaches the scan
    got = spark.read.option("basePath", path).parquet(path).filter("user_id = 1")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,1)]" in plan


def test_compact_store_merges_small_files(spark, tmp_path):
    """Fragmented hour partitions (many tiny files) compact to few
    files; data and partition pruning are unchanged; already-compact
    partitions are left byte-identical."""
    import glob

    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import compact_store, read_partitioned_store, write_partitioned_store
    from fresco_hpc_spark.sources import table
    from tests.conftest import SF_SMALL

    store = str(tmp_path / "store")
    ev = table(spark, SF_SMALL, "events").select(
        F.col("ts").alias("time"), "event_id", "user_id", "value"
    )
    # fragment: 8 files per partition
    write_partitioned_store(ev.repartition(8), store)
    before = ev.count()
    some_part = sorted(glob.glob(store + "/year=*/month=*/day=*/hour=*"))[0]
    n_files_before = len(glob.glob(some_part + "/*.parquet"))
    assert n_files_before >= 2

    rewritten = compact_store(spark, store)
    assert len(rewritten) > 0
    n_files_after = len(glob.glob(some_part + "/*.parquet"))
    assert n_files_after < n_files_before
    back = read_partitioned_store(spark, store)
    assert back.count() == before
    # second run is a no-op: everything already compact
    assert compact_store(spark, store) == []


def test_compact_store_heals_crashed_swap(spark, tmp_path):
    """Crash-recovery protocol (ADVICE r02): an orphaned backup dir with
    no live partition (crash between the two renames) is rolled back; an
    orphaned staging dir is discarded; a redundant backup beside a live
    dir is cleaned. No rows are ever lost and discovery is unbroken."""
    import shutil
    from pathlib import Path

    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import compact_store, read_partitioned_store, write_partitioned_store
    from fresco_hpc_spark.sources import table
    from tests.conftest import SF_SMALL

    store = str(tmp_path / "store")
    ev = table(spark, SF_SMALL, "events").select(
        F.col("ts").alias("time"), "event_id", "user_id", "value"
    )
    write_partitioned_store(ev.repartition(4), store)
    before = ev.count()
    parts = sorted(str(p) for p in Path(store).glob("year=*/month=*/day=*/hour=*"))
    assert len(parts) >= 3

    # crash case 1: live renamed to backup, staging never swapped in
    shutil.move(parts[0], parts[0] + "._compact_bak")
    # crash case 2: staging written, swap never started (live intact)
    shutil.copytree(parts[1], parts[1] + "._compact_tmp")
    # crash case 3: swap completed but backup delete crashed
    shutil.copytree(parts[2], parts[2] + "._compact_bak")
    # crash case 4: rename(staging->live) failed mid-swap — live gone,
    # rows exist in BOTH backup and staging. Recovery must restore from
    # backup first and only then discard staging (ADVICE r03: deleting
    # staging while live is absent can drop the only copy).
    if len(parts) >= 4:
        shutil.copytree(parts[3], parts[3] + "._compact_tmp")
        shutil.move(parts[3], parts[3] + "._compact_bak")
    # crash case 5: a merge's staging root left behind, holding a
    # fragmented hour — hidden from readers, so compaction must neither
    # rewrite nor return it, and the healer discards it
    stale = Path(store) / "._merge_tmp_root" / "year=2024/month=8/day=1/hour=10"
    stale.mkdir(parents=True)
    some = sorted(Path(store).glob("year=*/month=*/day=*/hour=*/*.parquet"))[:3]
    for i, f in enumerate(some):
        shutil.copy(f, stale / f"part-{i}.parquet")
    assert len(list(stale.glob("*.parquet"))) == 3

    rewritten = compact_store(spark, store)
    assert not [p for p in rewritten if "._merge_tmp_root" in p]
    assert not (Path(store) / "._merge_tmp_root").exists()
    for p in parts[:4]:
        assert Path(p).is_dir()
        assert not Path(p + "._compact_bak").exists()
        assert not Path(p + "._compact_tmp").exists()
    assert read_partitioned_store(spark, store).count() == before


def test_compact_store_false_rename_aborts_before_any_delete(spark, tmp_path):
    """VERDICT r4 item 5 / ADVICE r03: Hadoop FileSystems signal most
    failures by RETURNING FALSE, not raising. A false rename on the swap
    path must abort with IOError BEFORE any delete runs — rows stay
    readable in live+staging — and the next clean invocation heals and
    completes the compaction."""
    from pathlib import Path

    import pytest as _pytest
    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import (
        compact_store,
        read_partitioned_store,
        write_partitioned_store,
    )
    from fresco_hpc_spark.sources import table
    from tests.conftest import SF_SMALL

    store = str(tmp_path / "store")
    ev = table(spark, SF_SMALL, "events").select(
        F.col("ts").alias("time"), "event_id", "user_id", "value"
    )
    write_partitioned_store(ev.repartition(8), store)
    before = ev.count()

    calls = []

    class FailingRenameFS:
        """Delegates to the real JVM FileSystem, but the first
        live->backup rename RETURNS FALSE (the Hadoop failure mode)
        without moving anything."""

        def __init__(self, real):
            self._real = real
            self.failed = False

        def rename(self, src, dst):
            if not self.failed and str(dst).endswith("._compact_bak"):
                self.failed = True
                calls.append(("rename-false", str(src)))
                return False
            calls.append(("rename", str(src)))
            return self._real.rename(src, dst)

        def delete(self, p, recursive):
            calls.append(("delete", str(p)))
            return self._real.delete(p, recursive)

        def __getattr__(self, name):  # exists/listStatus/listFiles/...
            return getattr(self._real, name)

    with _pytest.raises(IOError, match="returned false"):
        compact_store(spark, store, _wrap_fs=FailingRenameFS)

    # the failed rename is the LAST fs mutation: nothing was deleted
    # after it (the only prior delete is the staging _SUCCESS marker)
    idx = next(i for i, c in enumerate(calls) if c[0] == "rename-false")
    assert all(c[0] != "delete" for c in calls[idx:])
    assert all("_SUCCESS" in c[1] for c in calls[:idx] if c[0] == "delete")
    # live partition intact and fully readable (read it directly — the
    # store as a whole is in documented mid-swap state while the
    # leftover staging dir exists); staging retained
    stagings = list(Path(store).glob("year=*/month=*/day=*/hour=*._compact_tmp"))
    assert stagings, "staging dir must survive the abort"
    live = str(stagings[0]).removesuffix("._compact_tmp")
    assert Path(live).is_dir()
    assert (
        spark.read.parquet(live).count()
        == spark.read.parquet(str(stagings[0])).count()
    )
    # next clean run heals the leftover staging and completes
    rewritten = compact_store(spark, store)
    assert rewritten
    assert not list(Path(store).glob("**/*._compact_tmp"))
    assert read_partitioned_store(spark, store).count() == before


def _fragmented_store(spark, path, hours, rows_per_hour=40, files=4):
    """A store of ``hours`` consecutive hours from 2024-03-01 00:00, each
    split over up to ``files`` parquet files."""
    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import write_partitioned_store

    df = spark.range(hours * rows_per_hour).select(
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(hours=(F.col("id") % hours).cast("int"))
        ).alias("time"),
        F.col("id").alias("event_id"),
        F.rand(7).alias("value"),
    )
    write_partitioned_store(df.repartition(files), path)
    return df


def test_compact_store_runs_a_fixed_number_of_jobs(spark, tmp_path):
    """One staging write for every fragmented partition: compacting 12
    hours runs as many Spark jobs as compacting 3 (a per-partition
    rewrite runs one write job per hour)."""
    from fresco_hpc_spark.plans import compact_store

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    for hours in (3, 12):
        store = str(tmp_path / f"store{hours}")
        _fragmented_store(spark, store, hours)
        group = f"compact-{hours}"
        sc.setJobGroup(group, f"compact {hours} hours")
        try:
            assert len(compact_store(spark, store)) == hours
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[hours] = len(tracker.getJobIdsForGroup(group))
    assert 0 < jobs[3] == jobs[12], jobs


def test_compact_store_splits_a_large_hour_by_target_bytes(spark, tmp_path, monkeypatch):
    """A partition larger than the target compacts to at most
    ceil(bytes / target) files, a small one to a single file, with the
    rows unchanged; the result is stable, so a second run returns []."""
    import math
    import os
    from pathlib import Path

    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import PARTITION_COLS, compact_store, read_partitioned_store
    from fresco_hpc_spark.plans import store as store_mod

    store = str(tmp_path / "store")
    # random doubles barely compress, so bytes stay proportional to rows
    big = spark.range(60_000).select(
        F.to_timestamp(F.lit("2024-03-01 05:00:00")).alias("time"),
        F.col("id").alias("event_id"),
        F.rand(3).alias("value"),
    )
    small = big.limit(600).withColumn(
        "time", F.to_timestamp(F.lit("2024-03-01 06:00:00"))
    )
    store_mod.write_partitioned_store(big.unionByName(small).repartition(6), store)
    before = sorted(read_partitioned_store(spark, store).drop(*PARTITION_COLS).collect())

    def files(hour):
        return list(Path(store).glob(f"year=2024/month=3/day=1/hour={hour}/*.parquet"))

    big_bytes = sum(os.path.getsize(f) for f in files(5))
    target = int(big_bytes / 2.5)
    monkeypatch.setattr(store_mod, "TARGET_FILE_BYTES", target)
    assert len(files(5)) == 6 and len(files(6)) > 1
    rewritten = compact_store(spark, store)
    assert sorted(p.rsplit("/", 1)[1] for p in rewritten) == ["hour=5", "hour=6"]
    assert len(files(5)) <= math.ceil(big_bytes / target) == 3
    assert len(files(6)) == 1
    after = read_partitioned_store(spark, store).drop(*PARTITION_COLS).collect()
    assert sorted(after) == before
    assert compact_store(spark, store) == []


def test_compact_store_batch_id_layout(spark, tmp_path):
    """A store written by exactly_once_store_writer has a leading
    ``batch_id=`` partition level: compaction takes its keys from the dir
    names and folds each batch hour to one file with the same rows."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import compact_store, read_partitioned_store
    from fresco_hpc_spark.streaming.watcher import exactly_once_store_writer

    store = str(tmp_path / "store")
    write = exactly_once_store_writer(store)
    for batch in (0, 1):
        rows = spark.range(400).select(
            (
                F.to_timestamp(F.lit(f"2024-03-01 0{batch}:00:00"))
                + F.make_interval(hours=(F.col("id") % 2).cast("int"))
            ).alias("time"),
            (F.col("id") + 1000 * batch).alias("event_id"),
        )
        write(rows.repartition(3), batch)
    dirs = sorted(Path(store).glob("batch_id=*/year=*/month=*/day=*/hour=*"))
    assert len(dirs) == 4
    assert all(len(list(d.glob("*.parquet"))) == 3 for d in dirs)
    before = sorted(read_partitioned_store(spark, store).collect())

    rewritten = compact_store(spark, store)
    assert sorted(rewritten) == sorted(f"{store}/{d.relative_to(store)}" for d in dirs)
    assert all(len(list(d.glob("*.parquet"))) == 1 for d in dirs)
    assert sorted(read_partitioned_store(spark, store).collect()) == before
    assert compact_store(spark, store) == []


def test_compact_store_keeps_a_column_only_some_dirs_have(spark, tmp_path):
    """The fragmented dirs are read as ONE relation: a column that only
    a later append wrote (to one hour) must survive compaction rather
    than be dropped by whichever file's footer sets the schema."""
    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import compact_store, read_partitioned_store

    store = str(tmp_path / "store")
    df = _fragmented_store(spark, store, hours=2)
    wider = df.filter(F.col("event_id") % 2 == 1).withColumn("extra", F.col("event_id") * 10)
    write_partitioned_store(wider.repartition(2), store, mode="append")

    assert len(compact_store(spark, store)) == 2
    back = read_partitioned_store(spark, store)
    assert "extra" in back.columns
    assert back.filter(F.col("extra").isNotNull()).count() == wider.count()
    assert back.filter(F.col("extra") != F.col("event_id") * 10).count() == 0


def _merge_fixture(spark, tmp_path):
    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import write_partitioned_store
    from fresco_hpc_spark.sources import table
    from tests.conftest import SF_SMALL

    store = str(tmp_path / "store")
    ev = table(spark, SF_SMALL, "events").select(
        F.col("ts").alias("time"), "event_id", "user_id", "value"
    )
    write_partitioned_store(ev, store)
    return store, ev


def test_merge_into_store_applies_batch_and_replays_idempotently(spark, tmp_path):
    """VERDICT r7 item 3, the write-side CDC contract: a keyed batch of
    upserts (existing keys → replaced, new keys → inserted, including a
    brand-new hour partition) and deletes applied by rewriting only the
    touched hours; every untouched hour's files stay byte-identical;
    replaying the same batch is a no-op on the snapshot."""
    import os
    from pathlib import Path

    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import (
        PARTITION_COLS,
        merge_into_store,
        read_partitioned_store,
    )

    store, ev = _merge_fixture(spark, tmp_path)
    scope = ev.filter(F.hour("time") == 3)
    assert scope.count() > 5
    upd = (
        scope.filter("event_id % 3 = 1")
        .withColumn("value", F.col("value") + 1000.0)
        .withColumn("op", F.lit("upsert"))
    )
    dele = scope.filter("event_id % 3 = 0").withColumn("op", F.lit("delete"))
    news = (
        scope.filter("event_id % 3 = 2")
        .withColumn("event_id", F.col("event_id") + F.lit(10**9))
        .withColumn("time", F.col("time") + F.expr("INTERVAL 3650 DAYS"))
        .withColumn("op", F.lit("upsert"))
    )
    changes = upd.unionByName(dele).unionByName(news)

    def file_stats(exclude_hour: int):
        out = {}
        for p in Path(store).glob("year=*/month=*/day=*/hour=*/*.parquet"):
            if f"hour={exclude_hour}" in str(p.parent):
                continue
            st = os.stat(p)
            out[str(p)] = (st.st_size, st.st_mtime_ns)
        return out

    before_stats = file_stats(exclude_hour=3)
    swapped = merge_into_store(spark, store, changes, ["event_id"], time_col="time")
    assert swapped and all("hour=" in p for p in swapped)
    # untouched hours: same files, same bytes, never rewritten. The new
    # 2034 hour dirs are additions, not rewrites — drop them from the
    # comparison by keying on the pre-merge listing
    after_stats = file_stats(exclude_hour=3)
    assert {
        k: v for k, v in after_stats.items() if k in before_stats
    } == before_stats

    expected = (
        ev.filter((F.hour("time") != 3) | (F.col("event_id") % 3 == 2))
        .unionByName(upd.drop("op"))
        .unionByName(news.drop("op"))
    )
    back = read_partitioned_store(spark, store).drop(*PARTITION_COLS)
    assert back.count() == expected.count()
    assert back.exceptAll(expected).count() == 0
    assert expected.exceptAll(back).count() == 0

    # idempotent replay: same batch, same snapshot
    merge_into_store(spark, store, changes, ["event_id"], time_col="time")
    back2 = read_partitioned_store(spark, store).drop(*PARTITION_COLS)
    assert back2.exceptAll(expected).count() == 0
    assert expected.exceptAll(back2).count() == 0


def test_merge_into_store_seq_order_delete_all_and_new_store(spark, tmp_path):
    """Intra-batch ordering and the two edge partitions: the highest
    seq wins per key (an upsert then delete at higher seq deletes); an
    hour whose rows are ALL deleted swaps in an empty dir that reads as
    zero rows and is NOT resurrected by the crash healer; merging into
    a path with no store yet creates one."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import (
        PARTITION_COLS,
        compact_store,
        merge_into_store,
        read_partitioned_store,
    )

    store, ev = _merge_fixture(spark, tmp_path)
    total = ev.count()
    # delete EVERY row of hour 5, via a (upsert seq=1, delete seq=2) pair
    scope = ev.filter(F.hour("time") == 5)
    n5 = scope.count()
    assert n5 > 0
    changes = (
        scope.withColumn("op", F.lit("upsert")).withColumn("seq", F.lit(1))
        .unionByName(
            scope.withColumn("op", F.lit("delete")).withColumn("seq", F.lit(2))
        )
    )
    merge_into_store(
        spark, store, changes, ["event_id"], time_col="time", seq_col="seq"
    )
    back = read_partitioned_store(spark, store)
    assert back.count() == total - n5
    assert back.filter(F.hour("time") == 5).count() == 0
    # the healer must not resurrect the emptied hour
    compact_store(spark, store)
    assert read_partitioned_store(spark, store).count() == total - n5

    # fresh-path merge: creates the store from nothing
    fresh = str(tmp_path / "fresh")
    merge_into_store(
        spark,
        fresh,
        ev.limit(20).withColumn("op", F.lit("upsert")),
        ["event_id"],
        time_col="time",
    )
    assert read_partitioned_store(spark, fresh).drop(*PARTITION_COLS).count() == 20


def test_merge_into_store_cross_hour_move(spark, tmp_path):
    """ADVICE r8 (high): row identity is (key, hour), so the documented
    cross-hour move — delete at the old hour + upsert at the new hour —
    must keep BOTH changes. A per-key last-writer-wins window would keep
    only the higher seq and strand the stale row in the old partition.
    Pins: (a) the move works with a seq column, even when the two
    changes SHARE a seq value (legal — distinct (key, hour)); (b) the
    move works with no seq column at all (distinct (key, hour) is
    unambiguous); (c) replay is idempotent."""
    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import (
        PARTITION_COLS,
        merge_into_store,
        read_partitioned_store,
    )

    store, ev = _merge_fixture(spark, tmp_path)
    # deterministic row pick (ADVICE r9): limit-without-ORDER-BY can
    # recompute differently after cache eviction, deriving dele/upst
    # from rows other than the collected ids
    moved = ev.filter(F.hour("time") == 3).orderBy("event_id").limit(4).cache()
    ids = [r.event_id for r in moved.select("event_id").collect()]
    assert len(ids) == 4
    dele = moved.withColumn("op", F.lit("delete"))
    upst = (
        moved.withColumn("time", F.col("time") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") + 5000.0)
        .withColumn("op", F.lit("upsert"))
    )
    # (a) with seq — deliberately the SAME seq on both halves: the pair
    # differs in hour, so it is not ambiguous and neither half may win
    # over the other
    changes = dele.withColumn("seq", F.lit(1)).unionByName(
        upst.withColumn("seq", F.lit(1))
    )
    merge_into_store(
        spark, store, changes, ["event_id"], time_col="time", seq_col="seq"
    )
    back = read_partitioned_store(spark, store).filter(
        F.col("event_id").isin(ids)
    )
    assert back.filter(F.hour("time") == 3).count() == 0, (
        "delete at the old hour was dropped — stale rows survive the move"
    )
    got = back.filter(F.hour("time") == 4)
    assert got.count() == 4
    assert got.filter(F.col("value") < 5000.0).count() == 0

    # (c) replay: same batch, same snapshot
    merge_into_store(
        spark, store, changes, ["event_id"], time_col="time", seq_col="seq"
    )
    back2 = read_partitioned_store(spark, store).filter(
        F.col("event_id").isin(ids)
    )
    assert back2.filter(F.hour("time") == 3).count() == 0
    assert back2.filter(F.hour("time") == 4).count() == 4

    # (b) no seq at all: move hour4 → hour6; distinct (key, hour) rows
    # must not trip the ambiguity check
    dele2 = upst.drop("op").withColumn("op", F.lit("delete"))
    upst2 = (
        upst.drop("op")
        .withColumn("time", F.col("time") + F.expr("INTERVAL 2 HOURS"))
        .withColumn("op", F.lit("upsert"))
    )
    merge_into_store(
        spark,
        store,
        dele2.unionByName(upst2),
        ["event_id"],
        time_col="time",
    )
    back3 = read_partitioned_store(spark, store).filter(
        F.col("event_id").isin(ids)
    )
    assert back3.filter(F.hour("time") == 4).count() == 0
    assert back3.filter(F.hour("time") == 6).count() == 4
    moved.unpersist()


def test_merge_into_store_rejects_ambiguity_and_bad_batches(spark, tmp_path):
    """Determinism over convenience: duplicate keys without a seq,
    duplicate (key, seq) pairs, unknown ops, and NULL times all raise
    instead of picking a winner silently."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import merge_into_store

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "2024-01-01 03:00:00", 1.0), (1, "2024-01-01 03:00:00", 2.0)],
        "event_id int, time_s string, value double",
    ).select("event_id", F.to_timestamp("time_s").alias("time"), "value")

    dup = base.withColumn("op", F.lit("upsert"))
    with _pytest.raises(ValueError, match="ambiguous"):
        merge_into_store(spark, store, dup, ["event_id"], time_col="time")
    dup_seq = dup.withColumn("seq", F.lit(7))
    with _pytest.raises(ValueError, match="ambiguous"):
        merge_into_store(
            spark, store, dup_seq, ["event_id"], time_col="time", seq_col="seq"
        )
    bad_op = base.limit(1).withColumn("op", F.lit("merge"))
    with _pytest.raises(ValueError, match="upsert"):
        merge_into_store(spark, store, bad_op, ["event_id"], time_col="time")
    null_time = base.limit(1).withColumn("time", F.lit(None).cast("timestamp")).withColumn("op", F.lit("upsert"))
    with _pytest.raises(ValueError, match="NULL"):
        merge_into_store(spark, store, null_time, ["event_id"], time_col="time")


def test_merge_into_store_heals_its_own_crash(spark, tmp_path):
    """A merge that crashed mid-swap (backup exists, live missing, the
    staging root still on disk) must be fully recovered by simply
    re-running the merge: the shared healer rolls the hour back, the
    stale staging root is discarded, and the re-applied batch lands
    exactly once."""
    import shutil
    from pathlib import Path

    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import merge_into_store, read_partitioned_store

    store, ev = _merge_fixture(spark, tmp_path)
    total = ev.count()
    scope = ev.filter(F.hour("time") == 7)
    n7 = scope.count()
    assert n7 > 0
    changes = scope.withColumn("op", F.lit("delete"))
    # simulate the crash window: live renamed away, swap-in never ran,
    # and a stale staging root left behind
    part = sorted(str(p) for p in Path(store).glob("year=*/month=*/day=*/hour=7"))[0]
    shutil.move(part, part + "._compact_bak")
    (Path(store) / "._merge_tmp_root" / "junk").mkdir(parents=True)
    merge_into_store(spark, store, changes, ["event_id"], time_col="time")
    back = read_partitioned_store(spark, store)
    assert back.count() == total - n7
    assert not list(Path(store).glob("**/*._compact_bak"))
    assert not (Path(store) / "._merge_tmp_root").exists()


def test_zorder_clusters_both_dimensions_for_rowgroup_pruning(spark, tmp_path):
    """Z-ordering's contract, measured on real parquet footers: for a
    2-D box predicate, the fraction of row groups whose min/max stats
    intersect the box must be far smaller under the interleaved key
    than under a single-column sort (which prunes its own column
    perfectly and the other not at all). Also pins that zorder_by is
    purely additive (rows unchanged) and rank-based (a heavy-tailed
    column still spreads across the key space)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import zorder_by

    n = 200_000
    df = spark.range(n).select(
        (F.pmod(F.hash("id"), F.lit(10_000)) / 100.0).alias("x"),
        (F.pmod(F.hash(F.col("id") * 31 + 7), F.lit(10_000)) / 100.0).alias("y"),
    )
    z = zorder_by(df, ["x", "y"], bits_per_col=8)
    assert z.count() == n
    assert z.drop("_zkey").exceptAll(df).count() == 0

    def write_sorted(frame, key, path):
        (
            frame.coalesce(1)
            .sortWithinPartitions(key)
            .write.option("parquet.block.size", 16 * 1024)
            .mode("overwrite")
            .parquet(path)
        )

    write_sorted(df, "x", str(tmp_path / "by_x"))
    write_sorted(z, "_zkey", str(tmp_path / "by_z"))

    lo, hi = 40.0, 60.0  # ~4% of the 2-D space

    def intersecting_fraction(path):
        files = glob.glob(path + "/*.parquet")
        total = hit = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                sx = rg.column(names["x"]).statistics
                sy = rg.column(names["y"]).statistics
                total += 1
                if sx.min <= hi and sx.max >= lo and sy.min <= hi and sy.max >= lo:
                    hit += 1
        assert total >= 20, f"need many row groups to measure, got {total}"
        return hit / total

    frac_x = intersecting_fraction(str(tmp_path / "by_x"))
    frac_z = intersecting_fraction(str(tmp_path / "by_z"))
    # single-column sort: perfect on x (~20%), blind on y -> ~20% overall;
    # z-order: ~4-10% depending on bucket granularity
    assert frac_z < frac_x * 0.6, (frac_z, frac_x)
    # both layouts return identical filtered data
    a = spark.read.parquet(str(tmp_path / "by_x")).filter(
        (F.col("x") >= lo) & (F.col("x") <= hi) & (F.col("y") >= lo) & (F.col("y") <= hi)
    )
    b = spark.read.parquet(str(tmp_path / "by_z")).drop("_zkey").filter(
        (F.col("x") >= lo) & (F.col("x") <= hi) & (F.col("y") >= lo) & (F.col("y") <= hi)
    )
    assert a.count() == b.count() > 0


def test_merge_zorder_preserves_rowgroup_pruning(spark, tmp_path):
    """CDC churn must not destroy the store's clustering (VERDICT r9
    item 7): merge_into_store rewrites touched hour partitions, so
    without re-clustering a z-ordered store gradually reverts to
    unpruned scans on merged hours. With zorder_cols= the rewritten
    partition's parquet footers must prune a 2-D box about as well as
    a freshly z-ordered write of the same rows — measured on real
    row-group min/max stats — and far better than an unclustered
    rewrite. Also pins that the _zkey sort survives the pre-write
    projection that drops the key (a writer-inserted re-sort on
    partition cols would scramble it silently)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fresco_hpc_spark.plans import merge_into_store, read_partitioned_store

    hc = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hc.get("parquet.block.size")
    hc.set("parquet.block.size", str(16 * 1024))
    try:
        n = 60_000
        base = spark.range(n).select(
            F.col("id").alias("event_id"),
            F.lit("2024-01-05 03:00:00").cast("timestamp").alias("time"),
            (F.pmod(F.hash("id"), F.lit(10_000)) / 100.0).alias("x"),
            (F.pmod(F.hash(F.col("id") * 31 + 7), F.lit(10_000)) / 100.0).alias("y"),
        )
        store = str(tmp_path / "store")
        merge_into_store(
            spark, store, base.withColumn("op", F.lit("upsert")),
            ["event_id"], zorder_cols=["x", "y"],
        )
        # CDC batch: modify 1000 rows in the stored hour, re-cluster
        batch = (
            base.filter(F.col("event_id") < 1000)
            .withColumn("x", (F.col("x") + 7.0) % 100.0)
            .withColumn("op", F.lit("upsert"))
        )
        merge_into_store(
            spark, store, batch, ["event_id"], zorder_cols=["x", "y"]
        )
        [part] = glob.glob(store + "/year=*/month=*/day=*/hour=*")

        lo, hi = 40.0, 60.0  # ~4% of the 2-D space

        def intersecting_fraction(path):
            total = hit = 0
            for f in glob.glob(path + "/*.parquet"):
                md = pq.ParquetFile(f).metadata
                names = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    sx = rg.column(names["x"]).statistics
                    sy = rg.column(names["y"]).statistics
                    total += 1
                    if (sx.min <= hi and sx.max >= lo
                            and sy.min <= hi and sy.max >= lo):
                        hit += 1
            assert total >= 20, f"need many row groups to measure, got {total}"
            return hit / total

        frac_merged = intersecting_fraction(part)

        # unclustered rewrite of the same rows: the decay this guards against
        scrambled = str(tmp_path / "scrambled")
        (
            read_partitioned_store(spark, store)
            .repartition(4)
            .write.option("parquet.block.size", 16 * 1024)
            .mode("overwrite")
            .parquet(scrambled)
        )
        assert frac_merged < intersecting_fraction(scrambled) * 0.5

        # freshly z-ordered write of the SAME final rows: the target
        final = read_partitioned_store(spark, store).drop(
            "year", "month", "day", "hour"
        )
        fresh = str(tmp_path / "fresh")
        merge_into_store(
            spark, fresh, final.withColumn("op", F.lit("upsert")),
            ["event_id"], zorder_cols=["x", "y"],
        )
        [fresh_part] = glob.glob(fresh + "/year=*/month=*/day=*/hour=*")
        assert frac_merged <= intersecting_fraction(fresh_part) * 1.3

        # the merged store's data (and schema) is unchanged by clustering
        back = read_partitioned_store(spark, store)
        assert "_zkey" not in back.columns
        assert back.count() == n
        expected = base.withColumn(
            "x",
            F.when(F.col("event_id") < 1000, (F.col("x") + 7.0) % 100.0)
            .otherwise(F.col("x")),
        )
        assert (
            back.select("event_id", "time", "x", "y")
            .exceptAll(expected)
            .count()
            == 0
        )
    finally:
        if old_block is None:
            hc.unset("parquet.block.size")
        else:
            hc.set("parquet.block.size", old_block)


def test_bucketed_band_index_joins_without_index_side_exchange(spark, tmp_path):
    """The incremental-dedup index at rest: storing minhash_band_index as
    a table bucketed on band_sig lets every future batch's candidate
    join read the index WITHOUT re-shuffling it — only the (small) new
    batch pays an exchange. band_sig embeds the band index (_banded), so
    it is the complete LSH bucket key and the single join key equals the
    bucket column — the condition for Spark's bucketed-scan join."""
    from pyspark.sql import functions as F

    from fresco_hpc_spark.functions import minhash_band_index
    from fresco_hpc_spark.plans import write_bucketed_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        train = spark.createDataFrame(
            [(i, f"w{i} alpha w{i} bravo w{i} charlie w{i} delta w{i} echo")
             for i in range(40)],
            "doc_id bigint, text string",
        )
        batch = spark.createDataFrame(
            [(1000 + i, f"w{i} alpha w{i} bravo w{i} charlie w{i} delta w{i} echo")
             for i in range(5)],
            "doc_id bigint, text string",
        )
        write_bucketed_table(
            minhash_band_index(train), "band_idx_bkt", "band_sig", n_buckets=4
        )
        idx = spark.table("band_idx_bkt").alias("a")
        b = minhash_band_index(batch).alias("b")
        cands = idx.join(
            b, F.col("a.band_sig") == F.col("b.band_sig")
        ).select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        plan = cands._jdf.queryExecution().executedPlan().toString()
        # the index side reads bucketed with ZERO exchange; the only two
        # exchanges belong to the batch side (its signature aggregation
        # and its alignment to the index's bucketing)
        assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan
        assert plan.count("Exchange") == 2
        assert "SortMergeJoin" in plan
        # the planted copies still surface through the stored index
        found = {(r.doc_a, r.doc_b) for r in cands.distinct().collect()}
        assert {(i, 1000 + i) for i in range(5)} <= found
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS band_idx_bkt")


def test_ivf_index_scan_prunes_buckets(spark):
    """The stored IVF index is hive-partitioned on _cell (one directory
    per inverted list), so the nprobe cell filter must prune at the
    DIRECTORY level: the scan carries the _cell probes as
    PartitionFilters — the probed fraction is the I/O fraction, which
    is the entire point of an IVF index at rest."""
    from pyspark.sql import functions as F

    from fresco_hpc_spark.functions import (
        ivf_build_index,
        ivf_query_index,
        ivf_train_centroids,
    )
    from fresco_hpc_spark.sources import table
    from tests.conftest import SF_SMALL

    emb = table(spark, SF_SMALL, "embeddings")
    cents = ivf_train_centroids(
        emb, n_cells=8, iterations=1,
        seed_bucket_col=F.pmod(F.col("vec_id"), F.lit(8)),
    )
    q = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    spark.sql("DROP TABLE IF EXISTS plan_ivf_idx")
    try:
        ivf_build_index(emb, cents, "plan_ivf_idx")
        df = ivf_query_index(spark.table("plan_ivf_idx"), q, cents, k=10, nprobe=4)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = df._jdf.queryExecution().explainString(mode)
        assert "PartitionFilters" in plan
        import re as _re
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
        assert "_cell" in pf and "IN" in pf.upper(), pf
    finally:
        spark.sql("DROP TABLE IF EXISTS plan_ivf_idx")


def test_ivfpq_index_scan_prunes_cells_code_sized_store(spark):
    """The IVF×PQ store is hive-partitioned on _cell and holds only
    (vec_id, codes): the query's scan must carry the probed cells as
    PartitionFilters (probed fraction == I/O fraction), and the store
    on disk must be a small fraction of the raw embedding bytes — the
    'reads only probed partitions of a code-sized store' contract."""
    import os

    from pyspark.sql import functions as F

    from fresco_hpc_spark.functions import (
        ivf_train_centroids,
        ivfpq_build_index,
        ivfpq_query_index,
        pq_train_codebooks,
    )
    from fresco_hpc_spark.sources import table
    from tests.conftest import SF_SMALL

    emb = table(spark, SF_SMALL, "embeddings")
    cents = ivf_train_centroids(
        emb, n_cells=8, iterations=1,
        seed_bucket_col=F.pmod(F.col("vec_id"), F.lit(8)),
    )
    cbs = pq_train_codebooks(emb, m=8, n_codes=16, iterations=1)
    q = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    spark.sql("DROP TABLE IF EXISTS plan_ivfpq_idx")
    try:
        ivfpq_build_index(emb, cents, cbs, "plan_ivfpq_idx")
        df = ivfpq_query_index(
            spark.table("plan_ivfpq_idx"), emb, q, cents, cbs, k=10, nprobe=4
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(mode)
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf and "_cell" in pf[0] and "IN" in pf[0].upper(), plan[:2000]

        # code-sized at rest: the store's data bytes are << the raw
        # embedding parquet (64 floats -> 8 small ints per vector; at
        # this tiny scale parquet framing dominates, so pin a loose 60%)
        loc = (
            spark.sql("DESCRIBE TABLE EXTENDED plan_ivfpq_idx")
            .filter("col_name = 'Location'")
            .first()[1]
        ).removeprefix("file:")
        store_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(loc)
            for f in fs
            if f.endswith(".parquet")
        )
        raw_bytes = os.path.getsize(os.path.join(SF_SMALL, "embeddings.parquet"))
        assert store_bytes < 0.6 * raw_bytes, (store_bytes, raw_bytes)
    finally:
        spark.sql("DROP TABLE IF EXISTS plan_ivfpq_idx")
