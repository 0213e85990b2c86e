"""Steadiness check: run one workload K times on K seeds and report, for
every end-to-end metric, the median, the quartiles and the spread
(Q3 - Q1) / median next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload dashboard --runs 10 --first-seed 100 [--trace]

Runs are sequential (one Spark application at a time). The ``# metric``
lines every run prints are summarised too; only BENCHMARK.json's metrics
have a bound.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import tail_percentile  # noqa: E402


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, (Q3 - Q1) / median) as ``statistics.quantiles``
    gives the quartiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    if q3 == q1:
        return med, q1, q3, 0.0
    return med, q1, q3, (q3 - q1) / med if med else math.inf


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> tuple[dict, dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    named, samples = {}, {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) >= 5 and parts[:2] == ["#", "metric"]:
            named[parts[2]] = (float(parts[3]), parts[4])
        elif len(parts) >= 9 and parts[:2] == ["#", "workload"]:
            named["unit_s"] = (float(parts[8]) / int(parts[6]), "s")
        elif len(parts) >= 3 and parts[:2] == ["#", "samples"]:
            samples[parts[2]] = [float(x) for x in parts[3:]]
    return result, named, samples


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--trace", action="store_true",
                   help="then make one traced run and report the tracing overhead")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = defaultdict(list)
    units: dict[str, str] = {}
    pooled: dict[str, list[float]] = defaultdict(list)
    failed = 0
    for i in range(args.runs):
        seed = args.first_seed + i
        result, named, samples = run_once(args.workload, seed, bench["run_seconds"])
        for name, xs in samples.items():
            pooled[name] += xs
        failed += result["failed"]
        for name, m in result["metrics"].items():
            values[name].append(m["value"])
            units[name] = m["unit"]
        for name, (v, unit) in named.items():
            if name not in result["metrics"]:
                values[name].append(v)
                units[name] = unit
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    print(f"\n{args.workload}: {args.runs} runs, {failed} failed ops")
    print(f"{'metric':<28}{'unit':<8}{'median':>12}{'Q1':>12}{'Q3':>12}{'spread':>9}{'bound':>7}  verdict")
    for name, vals in values.items():
        vals = [v for v in vals if not math.isnan(v)]
        if len(vals) < 2:
            continue
        med, q1, q3, sp = spread(vals)
        bound = bounds.get(name)
        verdict = "" if bound is None else ("ok" if sp <= bound / 3 else "within bound" if sp <= bound else "TOO WIDE")
        print(f"{name:<28}{units[name]:<8}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{sp:>9.3f}"
              f"{'' if bound is None else f'{bound:>7.2f}':>7}  {verdict}")
    for name, xs in pooled.items():
        tail = tail_percentile(xs)
        if tail is not None:
            print(f"{name} pooled over {args.runs} runs: median {statistics.median(xs):.5g} s, "
                  f"tail p{tail[0]:.1f} = {tail[1]:.5g} s (n={tail[2]})")
    if args.trace:
        report_trace(args.workload, args.first_seed, bench["run_seconds"],
                     statistics.median(values["unit_s"]))
    return 0


def report_trace(workload: str, seed: int, seconds: int, untraced_unit_s: float) -> None:
    """One traced run: its unit time against the untraced median is the
    tracing overhead. The layers' self times (the benchmark's own glue
    left out) should add up to the untraced unit within that overhead."""
    result, named, _ = run_once(workload, seed, seconds, trace=1)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    traced = m["trace.unit_s"]
    overhead = traced / untraced_unit_s - 1.0
    print(f"\ntraced run (seed {seed}): unit {traced:.3f} s, untraced median unit "
          f"{untraced_unit_s:.3f} s, tracing overhead {overhead:+.3f}")
    selfs = {k[: -len(".self_s")]: v for k, v in m.items() if k.endswith(".self_s") and v}
    for layer, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"  self time {layer:<14}{v:9.3f} s")
    layers = m["trace.layers_self_unit_s"]
    glue = m["trace.glue_unit_s"]
    print(f"  benchmark glue {glue:.3f} s, {glue / traced:.3f} of the traced unit")
    gap = layers / untraced_unit_s - 1.0
    print(f"  layers' self times sum to {layers:.3f} s: {gap:+.3f} of the untraced unit "
          f"({'within' if abs(gap) <= abs(overhead) else 'OUTSIDE'} the tracing overhead)")
    print(f"  correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")


if __name__ == "__main__":
    sys.exit(main())
