"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository: it imports
``fresco_hpc_spark`` from that checkout (and nothing installed elsewhere),
generates the workload's inputs from ``--seed``, sets up, measures whole
units of work for up to ``--seconds`` seconds (at least one unit) with one
closed-loop client, checks the outputs and
prints ``# ...`` lines with every metric by name and unit. The last line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. A traced run
traces the timed phase itself; ``steady.py --trace`` compares it with
untraced runs and reports the gap as the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import ctypes
import os
import shutil
import signal
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import CHARTS, KINDS  # noqa: E402
from spans import LAYERS, NullTracer, Tracer, layer_of, self_times, tree_cpu_s  # noqa: E402

WORKLOADS = ["dashboard", "ingest", "curate"]
DRIVER_MEM = "2g"
PR_SET_CHILD_SUBREAPER = 36

FUNCTIONS = ["boilerplate_remove", "remove_duplicate_ngram_spans", "exact_dedup",
             "minhash_dup_pairs", "dup_clusters", "quality_rules", "semantic_dedup",
             "build_text_index"]


def load_spec() -> tuple[dict, dict]:
    """BENCHMARK.json (the metric names, units and bounds) and
    perfbench/spec.json (each workload's own names for the end-to-end
    metrics, which are workload-neutral because every run reports all)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    return bench, spec


def _environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and the run small."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _start_spark(work: str, trace: bool):
    from fresco_hpc_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_confs={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            # a fixed-size heap: GC sizing, and so peak RSS, does not drift
            # from run to run. C1 only: in runs this short the C2 compiler's
            # background threads used about half of the CPU counted, and when
            # they ran set most of the run-to-run spread; wall times were
            # the same either way
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                              f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEM}"),
            "spark.driver.memory": DRIVER_MEM,
            "spark.ui.showConsoleProgress": "false",
            # the UI's REST API is where the traced run reads Spark counts
            "spark.ui.enabled": str(trace).lower(),
            "spark.ui.port": "0",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _adopt_orphans() -> None:
    """Become the reaper of this process's orphaned descendants: Python
    workers whose parent, the JVM, ends first are then still ours to wait
    for."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _child_pids() -> list[int]:
    me = os.getpid()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:  # field 4, the parent pid
            pids.append(int(d))
    return pids


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, which exits when its stdin closes."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        jvm.stdin.close()


def _end_children(grace_s: float = 10.0) -> None:
    """Wait for every process this one started, and every orphan it adopted,
    to end; whatever is still running after ``grace_s`` is terminated, then
    killed."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        now = time.monotonic()
        if now > deadline:
            sig = signal.SIGKILL if sig is not None else signal.SIGTERM
            for pid in _child_pids():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = now + 5.0
        time.sleep(0.05)


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """High-water RSS of this process plus its JVM child."""
    jvm = spark.sparkContext._gateway.proc.pid
    return _hwm_mb("self") + _hwm_mb(jvm)


def _workload(name: str):
    if name == "dashboard":
        from dashboard import Dashboard as W
    elif name == "ingest":
        from ingest import Ingest as W
    else:
        from curate import Curate as W
    return W


def layer_report(spans, counts: dict, session_s: float, units: int = 1) -> dict[str, float]:
    """Per-layer metrics from the spans of the traced timed phase. Times
    are medians per call, counts means per call, layer figures totals per
    unit of work."""
    selfs = self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    def med(name: str) -> float:
        ss = by_name.get(name, [])
        return statistics.median(s.duration for s in ss) if ss else 0.0

    def mean_count(name: str, key: str) -> float:
        ss = by_name.get(name, [])
        return sum(s.counts.get(key, 0) for s in ss) / len(ss) if ss else 0.0

    m = {"session.get_spark.busy_s": session_s}
    m["plans.planner.plan_query.busy_s"] = med("plans.planner.plan_query")
    m["plans.planner.plan_query.files_listed"] = mean_count("plans.planner.plan_query", "files_listed")
    m["plans.planner.execute.busy_s"] = med("plans.planner.execute")
    chart_reqs = by_name.get("request.chart", [])
    hits = [s for s in chart_reqs if s.counts.get("hit")]
    m["plans.cache.hit_ratio"] = len(hits) / len(chart_reqs) if chart_reqs else 0.0
    m["plans.cache.hit_s"] = statistics.median(s.duration for s in hits) if hits else 0.0
    for c in CHARTS:
        m[f"operators.{c}.build_s"] = med(f"operators.{c}.build")
        m[f"operators.{c}.run_s"] = med(f"operators.{c}.run")
        n_req = len(by_name.get(f"operators.{c}.run", []))
        for key in ("jobs", "tasks", "shuffle_bytes"):
            tot = sum(counts.get(s.id, {}).get(key, 0)
                      for nm in (f"operators.{c}.build", f"operators.{c}.run")
                      for s in by_name.get(nm, []))
            m[f"operators.{c}.{key}"] = tot / n_req if n_req else 0.0
    for k in KINDS:
        name = f"etl.run_batch_pipeline.{k}"
        m[f"{name}.busy_s"] = med(name)
        m[f"{name}.rows_in"] = mean_count(name, "rows_in")
        m[f"{name}.rows_out"] = mean_count(name, "rows_out")
    m["streaming.start_etl_stream.drain_s"] = med("streaming.start_etl_stream")
    m["streaming.start_etl_stream.files"] = mean_count("streaming.start_etl_stream", "files")
    w = "plans.store.write_partitioned_store"
    m[f"{w}.busy_s"] = med(w)
    m[f"{w}.files_written"] = mean_count(w, "files_written")
    m[f"{w}.bytes_written"] = mean_count(w, "bytes_written")
    mg = "plans.store.merge_into_store"
    m[f"{mg}.busy_s"] = med(mg)
    m[f"{mg}.partitions_swapped"] = mean_count(mg, "partitions_swapped")
    cp = "plans.store.compact_store"
    m[f"{cp}.busy_s"] = med(cp)
    for key in ("partitions_rewritten", "files_before", "files_after"):
        m[f"{cp}.{key}"] = mean_count(cp, key)
    for f in FUNCTIONS:
        m[f"functions.{f}.busy_s"] = med(f"functions.{f}")
    m["functions.minhash_dup_pairs.pairs"] = mean_count("functions.minhash_dup_pairs", "pairs")
    m["functions.exact_dedup.rows_out"] = mean_count("functions.exact_dedup", "rows_out")
    for layer in LAYERS:
        for key in ("self_s", "shuffle_bytes", "spill_bytes", "gc_ms"):
            m[f"{layer}.{key}"] = 0.0
    glue = 0.0  # self time of the benchmark's own request/cycle spans
    for s in spans:
        layer = layer_of(s.name)
        if layer == "bench":
            glue += selfs[s.id] / units
            continue
        m[f"{layer}.self_s"] += selfs[s.id] / units
        for key in ("shuffle_bytes", "spill_bytes", "gc_ms"):
            m[f"{layer}.{key}"] += counts.get(s.id, {}).get(key, 0) / units
    m["trace.layers_self_unit_s"] = sum(m[f"{layer}.self_s"] for layer in LAYERS)
    m["trace.glue_unit_s"] = glue
    return m


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    bench, spec = load_spec()
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, trace)
        session_s = time.perf_counter() - t0
        wl = _workload(workload)(spark, work, seed)
        builds = []
        for _ in range(wl.setup_repeats):
            t = time.perf_counter()
            wl.build()
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        if wl.warm:
            wl.warm_up(NullTracer())
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(builds) + warm_s

        # the traced run traces the timed phase itself, so it does the same
        # work as an untraced run; steady.py --trace compares the two
        tr = Tracer(spark) if trace else NullTracer()
        # whole units, and no unit that would end past --seconds: a run
        # whose units take about --seconds always does the same number
        units = 0
        cpu0 = tree_cpu_s()
        t = time.perf_counter()
        while True:
            u = time.perf_counter()
            wl.unit(tr)
            units += 1
            now = time.perf_counter()
            if now - t + (now - u) > seconds:
                break
        elapsed = time.perf_counter() - t
        cpu = tree_cpu_s() - cpu0
        named = wl.metrics(elapsed, cpu)
        samples = wl.samples() if hasattr(wl, "samples") else {}
        sizes = wl.sizes()
        attempted, failed = wl.ops, wl.failed

        layers = None
        if trace:
            layers = layer_report(tr.spans, tr.spark_counts(), session_s, units)
            layers["trace.unit_s"] = elapsed / units
            print(f"# trace {len(tr.spans)} spans; per unit the layers' self times sum to "
                  f"{layers['trace.layers_self_unit_s']:.3f} s and the benchmark's glue to "
                  f"{layers['trace.glue_unit_s']:.3f} s of a {layers['trace.unit_s']:.3f} s unit")

        rss = peak_rss_mb(spark)
        checks = wl.check()
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    attempted += len(checks)
    failed += sum(1 for _, ok, _ in checks if not ok)
    alias = spec["named_metrics"][workload]  # gated name -> this workload's name
    values = {"setup_s": setup_s, "peak_rss_mb": rss,
              **{gated: named.pop(own)[0] for gated, own in alias.items()}}
    print(f"# workload {workload} seed {seed} units {units} elapsed_s {elapsed:.3f} cpu_s {cpu:.3f} "
          f"session_s {session_s:.3f} builds_s {','.join(f'{b:.3f}' for b in builds)} warm_up_s {warm_s:.3f}")
    for k, v in sizes.items():
        print(f"# size {k} {v}")
    for m in bench["end_to_end"]:
        own = alias.get(m["name"])
        print(f"# metric {m['name']} {values[m['name']]:.6g} {m['unit']}" + (f" ({own})" if own else ""))
    print(f"# metric error_rate {failed / attempted:.6g} ratio")
    for name, v in named.items():
        print(f"# metric {name} {v[0]:.6g} {v[1]}" + (f" ({v[2]})" if len(v) > 2 else ""))
    for name, xs in samples.items():
        print(f"# samples {name} " + " ".join(f"{x:.6g}" for x in xs))
    for name, ok, why in checks:
        print(f"# check {name} {'ok' if ok else 'FAILED'}: {why}")
    if layers is not None:
        for m in bench["per_layer"]:
            print(f"# layer {m['name']} {layers[m['name']]:.6g} {m['unit']}")
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    for m in metrics.values():  # a metric no op produced is null, not NaN
        if not math.isfinite(m["value"]):
            m["value"] = None
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fresco_hpc_spark", "__init__.py")):
        print(f"perfbench: no fresco_hpc_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _adopt_orphans()
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        _end_children()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
