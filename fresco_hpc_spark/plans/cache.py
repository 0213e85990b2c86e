"""TTL result cache (SURVEY.md §4 "Result caching").

The reference keeps a 5-minute TTL cache keyed on query+params with
periodic eviction (web/src/utils/databaseOptimization.ts:14-97, 361-363).
Spark analogue: ``df.cache()`` pins the computed result in executor
memory/disk; the TTL and keying live in this thin library wrapper (no
engine work — Catalyst has no TTL concept, deliberately).

Scale note: entries cache *small derived relations* (hourly aggs, top-N,
histograms — the reference's per-chart views), never raw scans; eviction
calls ``unpersist`` so executor storage is reclaimed.

Each entry records the store generation (``plans.store``) it was
computed at; a store write in this process bumps the generation, so an
entry from an older one counts as expired — a chart read after a merge
reflects the merge instead of waiting out the TTL.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame

from fresco_hpc_spark.plans.store import store_generation

DEFAULT_TTL_SECONDS = 300.0  # reference: 5 min


class QueryCache:
    """get-or-compute over cached DataFrames with per-entry TTL."""

    def __init__(
        self,
        ttl_seconds: float = DEFAULT_TTL_SECONDS,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self._ttl = ttl_seconds
        self._clock = clock
        # key -> (computed at, store generation, cached result)
        self._entries: dict[str, tuple[float, int, DataFrame]] = {}
        self.hits = 0
        self.misses = 0

    @staticmethod
    def key(query_name: str, **params) -> str:
        """Cache key = name + sorted params (databaseOptimization.ts keys
        on query text + parameter list)."""
        parts = [query_name] + [f"{k}={params[k]!r}" for k in sorted(params)]
        return "|".join(parts)

    def get_or_compute(self, key: str, compute: Callable[[], DataFrame]) -> DataFrame:
        self.evict_expired()
        hit = self._entries.get(key)
        if hit is not None:
            self.hits += 1
            return hit[2]
        self.misses += 1
        generation = store_generation()  # before compute: a write during it expires the entry
        df = compute().cache()
        self._entries[key] = (self._clock(), generation, df)
        return df

    def evict_expired(self) -> int:
        """Drop entries past their TTL or from an older store generation,
        unpersisting executor storage."""
        now, generation = self._clock(), store_generation()
        expired = [
            k for k, (t, g, _) in self._entries.items()
            if now - t > self._ttl or g != generation
        ]
        for k in expired:
            self._entries.pop(k)[2].unpersist()
        return len(expired)

    def clear(self) -> None:
        for _, _, df in self._entries.values():
            df.unpersist()
        self._entries.clear()

    def __len__(self) -> int:
        return len(self._entries)
