"""Spans, self time and Spark counts for the traced run.

A span is recorded around every call the benchmark makes into a layer of
``fresco_hpc_spark``: name, start, end, parent span and request id. Spans
stay in memory until the run ends. Each span also owns a Spark job group,
so the jobs, tasks, shuffle bytes, spill bytes and GC time the Spark REST
API reports can be attributed to the innermost span that caused them.

The untraced run uses :class:`NullTracer`, which has the same interface
and records nothing.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = [
    "session",
    "sources",
    "etl",
    "plans.planner",
    "plans.store",
    "plans.cache",
    "operators",
    "streaming",
    "functions",
]
# the tail percentile reported is the highest one with this many samples beyond it
TAIL_BEYOND = 10
# how long spark_counts waits for running jobs to finish before reading stages
REST_TIMEOUT_S = 20.0


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def layer_of(name: str) -> str:
    """The layer a span name belongs to: the longest layer prefix, or
    ``bench`` for the benchmark's own request/cycle spans."""
    matches = [layer for layer in LAYERS if name == layer or name.startswith(layer + ".")]
    return max(matches, key=len) if matches else "bench"


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval
    that its direct children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: s.duration - union_length(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def tail_percentile(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile of ``samples`` with at least ``TAIL_BEYOND``
    samples above it: ``(percentile, value, n)``, or None when there are
    too few samples. With n sorted samples the value at 0-based rank
    ``n - TAIL_BEYOND - 1`` has exactly ``TAIL_BEYOND`` samples after it;
    its percentile is ``100 * (rank + 1) / n``."""
    n = len(samples)
    rank = n - TAIL_BEYOND - 1
    if rank < 0:
        return None
    ordered = sorted(samples)
    return 100.0 * (rank + 1) / n, ordered[rank], n


@contextmanager
def counting_returns(module, attr: str):
    """Wrap ``module.attr`` for the duration of the block and yield a list
    that gets ``len()`` of every value the wrapped function returns: what
    the program itself did, counted from outside it."""
    real = getattr(module, attr)
    lens: list[int] = []

    def counted(*args, **kwargs):
        out = real(*args, **kwargs)
        lens.append(len(out))
        return out

    setattr(module, attr, counted)
    try:
        yield lens
    finally:
        setattr(module, attr, real)


class NullTracer:
    """Untraced runs: same interface, records nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, request: int | None = None):
        yield {}


class Tracer:
    """Records spans in memory; sets a Spark job group per span."""

    enabled = True

    def __init__(self, spark=None) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._next = 0
        self._aliases: dict[str, int] = {}

    @contextmanager
    def span(self, name: str, request: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(self._next, name, time.perf_counter(), 0.0,
                 parent.id if parent else None, request)
        self._next += 1
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(f"span-{s.id}", name)
        try:
            yield s.counts
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(f"span-{parent.id}", parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def alias_group(self, group: str) -> None:
        """Attribute the jobs of another Spark job group (a streaming
        query runs its batches under its run id) to the innermost open span."""
        self._aliases[group] = self._stack[-1].id

    def spark_counts(self) -> dict[int, dict[str, float]]:
        """Per-span ``jobs``, ``tasks``, ``shuffle_bytes``, ``spill_bytes``
        and ``gc_ms`` from the Spark REST API, read once the run is over:
        polls the job list until no job is running, then reads every stage."""
        if self._sc is None or not self._sc.uiWebUrl:
            return {}
        base = self._sc.uiWebUrl.split("://", 1)[1].split(":", 1)[1]
        app = self._sc.applicationId
        url = f"http://localhost:{base}/api/v1/applications/{app}"
        known = {f"span-{s.id}": s.id for s in self.spans}
        known.update(self._aliases)
        deadline = time.monotonic() + REST_TIMEOUT_S
        jobs: list = []
        while True:
            jobs = _get_json(f"{url}/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {(st["stageId"], st["attemptId"]): st
                  for st in _get_json(f"{url}/stages?status=complete")}
        by_stage = defaultdict(list)
        for st in stages.values():
            by_stage[st["stageId"]].append(st)
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        seen: set[int] = set()  # a stage reused by a later job counts once
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            sid = known.get(j.get("jobGroup") or "")
            if sid is None:
                continue
            c = out[sid]
            c["jobs"] += 1
            for stage_id in j.get("stageIds", []):
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                for st in by_stage.get(stage_id, []):
                    c["tasks"] += st.get("numCompleteTasks", 0)
                    c["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
                    c["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                    c["gc_ms"] += st.get("jvmGcTime", 0)
        return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, plus what their exited children used: the JVM, its
    Python workers and anything they started."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, (ppid, _) in stats.items() if ppid in frontier} - tree
    return sum(stats[p][1] for p in tree if p in stats) / tick


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())
