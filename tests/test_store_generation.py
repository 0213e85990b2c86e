"""Window-scoped planning and the store generation (plans.store,
plans.planner, plans.cache).

``plan_query`` lists only the window's hour directories; ``execute``
reuses one store relation per (session, path, generation); every store
writer bumps the generation, which retires that relation and expires
``QueryCache`` entries — so reads after a merge, a compaction or a
streamed batch see the new files.
"""

from __future__ import annotations

import os
import re
import threading
from contextlib import contextmanager
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from fresco_hpc_spark.plans import (
    QueryCache,
    compact_store,
    execute,
    list_partition_files,
    merge_into_store,
    plan_query,
    planner,
    write_partitioned_store,
)
from fresco_hpc_spark.plans.store import store_generation

_HOUR_DIR = re.compile(r"year=(\d+)/month=(\d+)/day=(\d+)/hour=(\d+)/")
# the window edges cross a midnight, a month end (leap day) and a year end
EDGE_TIMES = [
    "2023-12-31 23:10:00", "2024-01-01 00:20:00",
    "2024-01-31 23:30:00", "2024-02-01 00:15:00",
    "2024-02-29 23:59:00", "2024-03-01 00:00:00", "2024-03-01 01:05:00",
]


def _frame(spark, times: list[str], value: float = 1.0, host: str = "h"):
    rows = [(t, f"{host}{i}", value + i) for i, t in enumerate(times)]
    return spark.createDataFrame(rows, "ts string, host string, value double").select(
        F.to_timestamp("ts").alias("time"), "host", "value"
    )


def _sql(a: str, b: str, cols: str = "time, host, value") -> str:
    return f"SELECT {cols} FROM s3_fresco WHERE time BETWEEN '{a}' AND '{b}'"


@contextmanager
def _counting_listing():
    """Wrap ``planner.list_partition_files`` the way the traced
    benchmark does: record the window argument and the entries
    returned by every call."""
    real = planner.list_partition_files
    calls: list[tuple[object, int]] = []

    def counted(spark, path, hours=None):
        out = real(spark, path, hours)
        calls.append((hours, len(out)))
        return out

    planner.list_partition_files = counted
    try:
        yield calls
    finally:
        planner.list_partition_files = real


@pytest.fixture(scope="module")
def multiday_store(spark, tmp_path_factory):
    """Six days of hourly rows plus the edge instants, one file per hour."""
    start = datetime(2024, 1, 29)
    times = [(start + timedelta(hours=h, minutes=7)).strftime("%Y-%m-%d %H:%M:%S")
             for h in range(6 * 24)]
    path = str(tmp_path_factory.mktemp("gen") / "store")
    write_partitioned_store(_frame(spark, times + EDGE_TIMES).repartition(1), path)
    return path


def _files_in(path: str, hours: set[tuple[int, int, int, int]]) -> set[str]:
    out = set()
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f) + "/"
            m = _HOUR_DIR.search(p)
            if f.endswith(".parquet") and m and tuple(map(int, m.groups())) in hours:
                out.add(os.path.join(d, f))
    return out


def _hours(a: datetime, n: int) -> set[tuple[int, int, int, int]]:
    return {(t.year, t.month, t.day, t.hour) for t in (a + timedelta(hours=i) for i in range(n))}


@pytest.mark.parametrize(
    "a, b, start, n",
    [
        # 6 h inside one day
        ("2024-01-30 05:00:00", "2024-01-30 10:30:00", datetime(2024, 1, 30, 5), 6),
        # across midnight into the next month
        ("2024-01-31 22:45:00", "2024-02-01 01:00:00", datetime(2024, 1, 31, 22), 4),
        # across the leap-day month end
        ("2024-02-29 23:00:00", "2024-03-01 00:30:00", datetime(2024, 2, 29, 23), 2),
        # across the year end
        ("2023-12-31 23:00:00", "2024-01-01 00:59:59", datetime(2023, 12, 31, 23), 2),
    ],
)
def test_plan_lists_only_the_window(spark, multiday_store, a, b, start, n):
    with _counting_listing() as calls:
        plan = plan_query(spark, _sql(a, b), multiday_store)
    want = _files_in(multiday_store, _hours(start, n))
    assert want, "fixture must hold files in every tested window"
    got = {c.replace("file:", "") for c in plan.chunks}
    assert got == want
    # one listing call, window-scoped, returning exactly the window's files
    assert len(calls) == 1 and calls[0][0] is not None
    assert calls[0][1] == len(want) < len(list_partition_files(spark, multiday_store))


@pytest.mark.parametrize(
    "a, b",
    [
        ("2024-01-31 23:00:00", "2024-02-01 00:59:59"),
        ("2024-02-29 23:30:00", "2024-03-01 00:00:00"),
        ("2023-12-31 23:00:00", "2024-01-01 00:30:00"),
    ],
)
def test_execute_across_day_and_month_ends(spark, multiday_store, a, b):
    got = sorted(r.time for r in execute(spark, _sql(a, b), multiday_store).collect())
    edges = _frame(spark, EDGE_TIMES).filter(F.col("time").between(a, b))
    want = sorted(r.time for r in edges.collect())
    lo, hi = datetime.fromisoformat(a), datetime.fromisoformat(b)
    hourly = [t for t in got if t.minute == 7]
    assert all(lo <= t <= hi for t in got)
    assert sorted(t for t in got if t.minute != 7) == want
    assert len(hourly) == sum(
        1 for h in range(6 * 24)
        if lo <= datetime(2024, 1, 29) + timedelta(hours=h, minutes=7) <= hi
    )


def test_store_relation_is_reused_until_a_write(spark, tmp_path):
    path = str(tmp_path / "store")
    write_partitioned_store(_frame(spark, ["2024-05-01 10:00:00"]), path)
    first = planner._store_relation(spark, path)
    assert planner._store_relation(spark, path) is first
    gen = store_generation()
    write_partitioned_store(_frame(spark, ["2024-05-01 11:00:00"]), path, mode="append")
    assert store_generation() > gen
    assert planner._store_relation(spark, path) is not first
    sql = _sql("2024-05-01 00:00:00", "2024-05-01 23:00:00")
    assert execute(spark, sql, path).count() == 2


def test_cached_chart_reflects_a_merge(spark, tmp_path):
    path = str(tmp_path / "store")
    write_partitioned_store(_frame(spark, ["2024-06-01 10:00:00", "2024-06-01 10:30:00"]), path)
    sql = _sql("2024-06-01 10:00:00", "2024-06-01 10:59:59")
    cache = QueryCache()
    key = QueryCache.key("sum", start="2024-06-01 10:00:00", hours=1)

    def chart():
        return execute(spark, sql, path).agg(F.sum("value").alias("s"))

    assert cache.get_or_compute(key, chart).collect()[0].s == 3.0  # 1 + 2
    assert cache.get_or_compute(key, chart).collect()[0].s == 3.0
    assert (cache.hits, cache.misses) == (1, 1)
    changes = _frame(spark, ["2024-06-01 10:00:00"], value=100.0).withColumn("op", F.lit("upsert"))
    merge_into_store(spark, path, changes, key_cols=["host"])
    # h0 upserted to 100; h1 (2.0) untouched
    assert cache.get_or_compute(key, chart).collect()[0].s == 102.0
    assert (cache.hits, cache.misses) == (1, 2)
    assert len(cache) == 1
    cache.clear()


def test_execute_after_compaction_sees_the_new_files(spark, tmp_path):
    path = str(tmp_path / "store")
    for i in range(3):  # three small files in each of two hours
        write_partitioned_store(
            _frame(spark, ["2024-07-01 10:00:00", "2024-07-01 11:00:00"], value=10.0 * i, host=f"b{i}"),
            path, mode="append",
        )
    sql = _sql("2024-07-01 10:00:00", "2024-07-01 11:59:59")
    before = sorted(tuple(r) for r in execute(spark, sql, path).collect())
    assert len(before) == 6
    assert len(compact_store(spark, path)) == 2
    # the relation listed before compaction named files that are gone now
    after = sorted(tuple(r) for r in execute(spark, sql, path).collect())
    assert after == before
    assert len(plan_query(spark, sql, path).chunks) == 2


def test_execute_after_a_streamed_batch_sees_the_new_files(spark, tmp_path):
    from fresco_hpc_spark.streaming import exactly_once_store_writer

    path = str(tmp_path / "store")
    sink = exactly_once_store_writer(path)
    sink(_frame(spark, ["2024-08-01 10:00:00"]), 0)
    sql = _sql("2024-08-01 10:00:00", "2024-08-01 10:59:59", cols="host, value")
    assert execute(spark, sql, path).count() == 1
    sink(_frame(spark, ["2024-08-01 10:20:00", "2024-08-01 12:00:00"], host="s"), 1)
    rows = {r.host for r in execute(spark, sql, path).collect()}
    assert rows == {"h0", "s0"}
    # the window listing finds hours under the batch_id= level
    assert len(plan_query(spark, sql, path).chunks) == 2


def test_concurrent_requests_bind_their_own_window(spark, multiday_store):
    windows = {
        "a": ("2024-01-29 03:00:00", "2024-01-29 05:59:59"),
        "b": ("2024-01-31 12:00:00", "2024-01-31 12:59:59"),
    }
    got: dict[str, set] = {}
    errors: list[Exception] = []
    barrier = threading.Barrier(len(windows))

    def request(name: str) -> None:
        try:
            barrier.wait()
            for _ in range(3):
                df = execute(spark, _sql(*windows[name]), multiday_store)
                got.setdefault(name, set()).update(r.time for r in df.collect())
        except Exception as e:  # surfaced in the main thread
            errors.append(e)

    threads = [threading.Thread(target=request, args=(n,)) for n in windows]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for name, (a, b) in windows.items():
        lo, hi = datetime.fromisoformat(a), datetime.fromisoformat(b)
        assert got[name] and all(lo <= t <= hi for t in got[name]), name
    assert len(got["a"]) == 3 and len(got["b"]) == 1
    assert not spark.catalog.tableExists("s3_fresco")
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("_fresco_request_")]
