"""Benchmark runner — executes every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line. The full payload — including the per-query seconds map
and {"sec", "shuffle_bytes", "tasks", "gc_ms"} plan metrics — is written
to ``bench_out.json`` beside this script.

Stdout-line sizing (VERDICT r5 item 3): the driver captures only the LAST
~2000 chars of stdout and json-parses the final line; at 109 queries the
full per-query map is ~2600 chars, which is why BENCH_r04/r05 recorded
``parsed: null``. The final line therefore carries (a) the headline
``value`` = total seconds over OPERATOR queries (excluding the four
quarantined worst-case exhibits, reported separately as
``value_exhibits``), (b) ``value_full`` = everything, and (c) a
``queries`` map of per-FAMILY subtotals (first name token) that fits the
tail and is stable across rounds; per-query resolution lives in
``bench_out.json``. A length guard drops the smallest families first if
the suite ever outgrows the window, recording ``queries_dropped``.

Each query is forced with a write to the `noop` sink: every output column
is fully computed and materialized with zero sink cost. (A count() would
let Catalyst prune the final projection — e.g. global_percentiles' count
plan drops the percentile aggregates entirely, timing an empty agg.) A
warmup run of the flagship query primes the JVM/codegen so the numbers
reflect steady-state execution.

Plan-shape metrics: per query, shuffle bytes (read+write) and completed
task count are diffed from the Spark UI REST API's cumulative stage
totals. Wall-clock is noisy at ±0.1 s; shuffle bytes are DETERMINISTIC,
so a plan regression (new exchange, lost broadcast) shows up round over
round even when seconds don't move. Metrics come from the first pass;
seconds stay min-of-passes.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Deliberate worst-case exhibits (the measured Zipf crossover pairs):
#: they stay in the suite — and run LAST so their shuffle doesn't
#: contaminate neighbors — but are excluded from the headline operator
#: total and reported under ``value_exhibits``.
EXHIBIT_QUERIES = {
    "ngram_jaccard_plain_zipf",
    "ngram_jaccard_prefix_zipf",
    "containment_plain_zipf",
    "containment_prefix_zipf",
}

#: The documented plain-vs-prefix trade-off, tracked at BOTH corpus
#: geometries round-over-round (VERDICT r6 item 8): Zipfian df (natural
#: text — prefix wins) and the driver corpus's near-uniform df (no head
#: to prune — plain wins). Cells name registered queries; bench_out.json
#: carries their {sec, shuffle_bytes, tasks, gc_ms} under ``exhibits``.
#: r14: the uniform_plain cells ("ngram_jaccard_pairs",
#: "containment_pairs") were retired from the registry (VERDICT r13
#: item 3) — the Zipf exhibits model the plain/quadratic regime and
#: SCALE.md records the larger-corpus crossover measurements, so those
#: cells now drop out of the grid (the ``if q in timings`` guard below).
EXHIBIT_GRID = {
    "jaccard": {
        "zipf_plain": "ngram_jaccard_plain_zipf",
        "zipf_prefix": "ngram_jaccard_prefix_zipf",
        "uniform_prefix": "ngram_jaccard_prefix",
    },
    "containment": {
        "zipf_plain": "containment_plain_zipf",
        "zipf_prefix": "containment_prefix_zipf",
        "uniform_prefix": "containment_pairs_prefix",
    },
}


def _stage_totals(ui_url: str | None, app_id: str) -> tuple[int, int] | None:
    """Cumulative (shuffle_read+write bytes, completed tasks) across all
    completed stages — diffing two snapshots isolates one query's cost."""
    if not ui_url:
        return None
    try:
        with urllib.request.urlopen(
            f"{ui_url}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=10,
        ) as resp:
            stages = json.load(resp)
        shuffle = sum(
            int(s.get("shuffleWriteBytes", 0)) + int(s.get("shuffleReadBytes", 0))
            for s in stages
        )
        tasks = sum(int(s.get("numCompleteTasks", 0)) for s in stages)
        return shuffle, tasks
    except Exception:
        return None


def _gc_total_ms(ui_url: str | None, app_id: str) -> int | None:
    """Cumulative JVM GC milliseconds across executors (the driver, in
    local mode) — diffing per query shows whose numbers are inflated by
    a neighbor's garbage (the r4 artifact showed +27-55%% on the three
    similarity queries that ran after the 1.5 GB-shuffle Zipf exhibit)."""
    if not ui_url:
        return None
    try:
        with urllib.request.urlopen(
            f"{ui_url}/api/v1/applications/{app_id}/executors", timeout=10
        ) as resp:
            execs = json.load(resp)
        return sum(int(e.get("totalGCTime", 0)) for e in execs)
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from fresco_hpc_spark.session import get_spark

    # retainedStages must outlast the whole suite: the default 1000
    # evicts early stages mid-run, making the cumulative REST totals
    # DROP and late queries report negative shuffle/task deltas (seen
    # in r7 as dup_clusters at -12 MB / -183 tasks).
    spark = get_spark(
        "fresco-bench",
        extra_confs={
            "spark.ui.retainedStages": "50000",
            "spark.ui.retainedJobs": "50000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui_url = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    qs = entrymod.queries()
    # warmup primes JVM/codegen/file-cache (flagship hourly agg when
    # present; otherwise whatever leads the dict)
    warm = qs.get("hourly_agg") or next(iter(qs.values()))
    force(warm(spark, sf_dir))

    # two passes, report the min per query: steady-state execution time,
    # insulated from one-off codegen compilation and GC pauses
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    timings: dict[str, float] = {}
    plan_metrics: dict[str, dict[str, int]] = {}
    # explicit suite order, independent of the queries() dict order
    # (which the driver's correctness window dictates): the heavy Zipf
    # exhibits run LAST so their GC/shuffle shadow cannot inflate
    # neighboring operators' numbers (VERDICT r4 item 2)
    suite = [(n, qs[n]) for n in qs if n not in EXHIBIT_QUERIES] + [
        (n, qs[n]) for n in qs if n in EXHIBIT_QUERIES
    ]
    for pass_i in range(passes):
        for name, fn in suite:
            before = _stage_totals(ui_url, app_id) if pass_i == 0 else None
            gc_before = _gc_total_ms(ui_url, app_id) if pass_i == 0 else None
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            elapsed = round(time.perf_counter() - t0, 4)
            if pass_i == 0:
                after = _stage_totals(ui_url, app_id)
                gc_after = _gc_total_ms(ui_url, app_id)
                if before is not None and after is not None:
                    plan_metrics[name] = {
                        "shuffle_bytes": after[0] - before[0],
                        "tasks": after[1] - before[1],
                    }
                if gc_before is not None and gc_after is not None:
                    plan_metrics.setdefault(name, {})["gc_ms"] = (
                        gc_after - gc_before
                    )
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    total_full = round(sum(timings.values()), 4)
    total_exhibits = round(
        sum(v for k, v in timings.items() if k in EXHIBIT_QUERIES), 4
    )
    families: dict[str, float] = {}
    for name, sec in timings.items():
        fam = name.split("_")[0]
        families[fam] = round(families.get(fam, 0.0) + sec, 2)
    summary = {
        "metric": "total_query_seconds_operators",
        "value": round(total_full - total_exhibits, 4),
        "unit": "sec",
        "n_queries": len(timings),
        "value_full": total_full,
        "value_exhibits": total_exhibits,
        "queries": families,
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
    }
    # the driver parses the final stdout line from a ~2000-char tail:
    # shed the smallest family subtotals if the line ever outgrows it
    dropped = 0
    while len(json.dumps(summary, separators=(",", ":"))) > 1900 and families:
        families.pop(min(families, key=families.get))
        dropped += 1
        summary["queries_dropped"] = dropped
    full = {
        **summary,
        "queries_sec": timings,
        "query_metrics": {
            name: {"sec": timings[name], **plan_metrics.get(name, {})}
            for name in timings
        },
        # the {zipf, uniform} x {plain, prefix} trade-off grid
        # (VERDICT r6 item 8) — same numbers as query_metrics, shaped
        # for round-over-round comparison of both crossover sides
        "exhibits": {
            fam: {
                cell: {"sec": timings[q], **plan_metrics.get(q, {})}
                for cell, q in grid.items()
                if q in timings
            }
            for fam, grid in EXHIBIT_GRID.items()
        },
    }
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json")
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    print(json.dumps(summary, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
