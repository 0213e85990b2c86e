"""Query-planner facade (SURVEY.md §2.11 Q1-Q8).

API-parity layer over the reference's AWS Lambda "query planner"
(reference backend/lambda/lambda_handler.py): it parses the user's SQL
string, extracts the mandatory ``time BETWEEN`` predicate, expands it to
hour keys and returns a QueryPlan of the window's hour chunks.

Both entry points cost what the window costs, not what the store holds:

* ``plan_query`` lists only the window's hour directories
  (``list_partition_files`` with ``hours``), like the reference's
  manifest lookup (lambda_handler.py:313-373). It is metadata for
  parity and observability; the data path is ``execute``.
* ``execute`` runs the SQL over ONE store relation per (SparkSession,
  store path, store generation): its in-memory file index is listed
  once per generation, and each request only adds the window's
  partition predicate, which Catalyst prunes against that index. The
  store writers bump the generation (``plans.store``), so the next
  request after a write in this process re-lists. Binding contract: a
  writer outside this process must not change the store under a live
  reader — the contract ``store._rewrite_partitions`` documents — or the
  reused relation may name files that are gone.
* Each request's SQL is bound to its own pruned frame through a
  request-unique temp view that is dropped as soon as ``spark.sql`` has
  analysed the query: concurrent requests cannot see each other's
  window, and no view outlives the call.

Deliberate divergence (SURVEY.md §7.4 #7): the reference ships whole
boundary hours and never re-applies the exact BETWEEN
(lambda_handler.py:298-373; client.ts insert path). We apply the exact
predicate — Catalyst does both pruning and the precise filter.
"""

from __future__ import annotations

import re
import threading
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from fresco_hpc_spark.plans.store import (
    hours_by_day,
    list_partition_files,
    read_partitioned_store,
    store_generation,
)

# Q3: regex extraction of the canonical predicate (lambda_handler.py:155-176;
# duplicated client-side at web/src/util/client.ts:389-412).
_TIME_RANGE_RE = re.compile(
    r"time\s+between\s+'([^']+)'\s+and\s+'([^']+)'", re.IGNORECASE
)

# Q6 sizing constants (lambda_handler.py:375-392; chunk target 50 MB at 227).
_TARGET_CHUNK_BYTES = 50 * 1024 * 1024
_MAX_PARTITIONS = 4


class MissingTimeRangeError(ValueError):
    """The reference errors when the query lacks a time BETWEEN predicate
    (lambda_handler.py:290-292)."""


@dataclass
class QueryPlan:
    """Q7 plan assembly (lambda_handler.py:89-95, 394-414)."""

    time_range: tuple[datetime, datetime]
    hours: list[datetime]
    chunks: list[str] = field(default_factory=list)
    filters: list[str] = field(default_factory=list)
    projections: list[str] = field(default_factory=list)
    estimated_size_bytes: int = 0
    partition_count: int = 1


def _parse_ts(s: str) -> datetime:
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise ValueError(f"unparseable timestamp literal: {s!r}")


def extract_time_range(sql: str) -> tuple[datetime, datetime]:
    """Q3: the time predicate is mandatory; its absence is an error."""
    m = _TIME_RANGE_RE.search(sql)
    if not m:
        raise MissingTimeRangeError(
            "query must contain a \"time BETWEEN '<start>' AND '<end>'\" predicate"
        )
    return _parse_ts(m.group(1)), _parse_ts(m.group(2))


def extract_projections(sql: str) -> list[str]:
    """Q2: tokens between SELECT and FROM, comma-split
    (lambda_handler.py:140-153)."""
    m = re.search(r"select\s+(.*?)\s+from\s", sql, re.IGNORECASE | re.DOTALL)
    if not m:
        return []
    return [c.strip() for c in m.group(1).split(",") if c.strip()]


def extract_filters(sql: str) -> list[str]:
    """Q4: WHERE conditions split on AND, skipping the AND that belongs to
    BETWEEN (lambda_handler.py:178-216)."""
    m = re.search(r"\bwhere\b(.*?)(?:\border\s+by\b|\blimit\b|;|$)", sql, re.IGNORECASE | re.DOTALL)
    if not m:
        return []
    clause = m.group(1)
    parts: list[str] = []
    buf: list[str] = []
    pending_between = False
    for tok in re.split(r"(\band\b)", clause, flags=re.IGNORECASE):
        if tok.strip().lower() == "and":
            if pending_between:
                buf.append(tok)
                pending_between = False
            else:
                if buf:
                    parts.append("".join(buf).strip())
                buf = []
        else:
            if re.search(r"\bbetween\b", tok, re.IGNORECASE):
                pending_between = True
            buf.append(tok)
    if buf:
        parts.append("".join(buf).strip())
    return [p for p in parts if p]


def required_hours(start: datetime, end: datetime) -> list[datetime]:
    """Q5 hour expansion: floor start to the hour, step 1 h, **inclusive**
    of the end hour (lambda_handler.py:298-309 —
    ``while current <= end_time``)."""
    cur = start.replace(minute=0, second=0, microsecond=0)
    out = []
    while cur <= end:
        out.append(cur)
        cur += timedelta(hours=1)
    return out


def plan_query(spark: SparkSession, sql: str, store_path: str) -> QueryPlan:
    """Q5+Q6+Q7: prune the hour-partitioned store to the query's hours and
    size the read. Only the window's hour directories are listed
    (driver-side metadata, like the reference's manifest lookup); the
    data path is ``execute``."""
    start, end = extract_time_range(sql)
    hours = required_hours(start, end)
    files = list_partition_files(spark, store_path, hours)
    total = sum(size for _, size in files)
    # Q6: partition_count = min(4, n_chunks, max(1, round(total/50MB)))
    n_chunks = len(files)
    partition_count = max(
        1, min(_MAX_PARTITIONS, n_chunks or 1, max(1, round(total / _TARGET_CHUNK_BYTES)))
    )
    return QueryPlan(
        time_range=(start, end),
        hours=hours,
        chunks=[f for f, _ in files],
        filters=extract_filters(sql),
        projections=extract_projections(sql),
        estimated_size_bytes=total,
        partition_count=partition_count,
    )


# Q8: the one special-cased query (lambda_handler.py:493-531 serves canned
# timestamps for it) — here it is just a projection, no special path needed
# beyond honoring the name.
_TIME_ONLY_RE = re.compile(r"^\s*select\s+time\s+from\s+job_data\s*;?\s*$", re.IGNORECASE)


_relations: dict[tuple[SparkSession, str, int], DataFrame] = {}
_relations_lock = threading.Lock()


def _store_relation(spark: SparkSession, store_path: str) -> DataFrame:
    """The store relation of this (session, path, generation), read once:
    later requests reuse its listed file index. A new generation drops
    every relation of the old ones."""
    key = (spark, store_path, store_generation())
    with _relations_lock:
        rel = _relations.get(key)
        if rel is None:
            rel = read_partitioned_store(spark, store_path)
            for stale in [k for k in _relations if k[2] != key[2]]:
                del _relations[stale]
            _relations[key] = rel
    return rel


# a single- or double-quoted string literal, kept as is by _bind
_STRING_LITERAL = r"'(?:[^'\\]|\\.)*'|" r'"(?:[^"\\]|\\.)*"'


def _bind(spark: SparkSession, sql: str, table_name: str, df: DataFrame) -> DataFrame:
    """``spark.sql(sql)`` with ``table_name`` naming ``df`` for this call
    only: the name is rewritten to a request-unique temp view, which is
    dropped once ``spark.sql`` has analysed the query (the analysed plan
    holds ``df``'s plan, not the view's name)."""
    view = f"_fresco_request_{uuid.uuid4().hex}"
    bound = re.sub(
        rf"({_STRING_LITERAL})|\b{re.escape(table_name)}\b",
        lambda m: m.group(1) or view,
        sql,
        flags=re.IGNORECASE,
    )
    df.createTempView(view)
    try:
        return spark.sql(bound)
    finally:
        spark.catalog.dropTempView(view)


def execute(
    spark: SparkSession,
    sql: str,
    store_path: str,
    table_name: str = "s3_fresco",
    row_limit: int | None = None,
) -> DataFrame:
    """Run the user's SQL over the partitioned store.

    ``table_name`` in the SQL (the reference's virtual remote table,
    web/src/pages/query_builder.tsx:268) names the store pruned to the
    query's window, for this call only. The ``time BETWEEN`` literal
    predicate cannot cross the derived year/month/day/hour partition
    keys on its own, so we validate the range (the required-BETWEEN
    contract) and attach the equivalent partition-key predicate — after
    that the scan's PartitionFilters prune to exactly the hours
    ``plan_query`` lists, from the reused relation's file index.
    """
    if _TIME_ONLY_RE.match(sql):
        return _store_relation(spark, store_path).select("time")
    start, end = extract_time_range(sql)  # enforce the contract up front
    hours = required_hours(start, end)
    # Partition predicate in a shape Catalyst's pruning recognizes
    # (equality + IN on raw partition columns; struct()/function-wrapped
    # comparisons are NOT pruned): one conjunct per day, OR'd. The
    # reference caps windows at 30 days (query_builder.tsx:11), so this
    # stays <=31 disjuncts.
    disjuncts = [
        "(year = {} AND month = {} AND day = {} AND hour IN ({}))".format(
            y, m, d, ",".join(map(str, hs))
        )
        for (y, m, d), hs in hours_by_day(hours).items()
    ]
    pred = " OR ".join(disjuncts)
    pruned = (
        _store_relation(spark, store_path)
        .where(pred)
        .drop("year", "month", "day", "hour")
    )
    out = _bind(spark, sql, table_name, pruned)
    # O5: the rowLimit carried in the reference's API payload
    # (client.ts:223-232, default 1e6) — LIMIT pushes into the plan
    return out.limit(row_limit) if row_limit is not None else out
