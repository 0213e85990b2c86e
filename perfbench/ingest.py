"""``ingest``: the write side of the hour store.

One cycle: every kind of raw TACC-Stats CSV through
``etl.run_batch_pipeline``, the ETL output loaded with
``plans.store.write_partitioned_store``, a late tail of files drained by
``streaming.watcher.start_etl_stream(available_now=True)`` and appended,
keyed CDC batches through ``plans.store.merge_into_store``, and one
``plans.store.compact_store``. Nearly all work is in ``sources``, ``etl``,
``streaming`` and store writes; none in the planner, cache, operators or
``functions``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from spans import NullTracer, tree_cpu_s
from fresco_hpc_spark.etl import run_batch_pipeline, transformer_for_filename
from fresco_hpc_spark.etl.pipeline import RAW_SCHEMAS
from fresco_hpc_spark.plans import compact_store, merge_into_store, write_partitioned_store
from fresco_hpc_spark.sources import read_parquet
from fresco_hpc_spark.streaming.watcher import start_etl_stream

SIZE = dict(jobs=8, nodes=4, samples=120, tail_jobs=2, cdc_batches=4, cdc_keys=20)
KEY_COLS = ["Job Id", "Host", "Event", "Timestamp"]


def _parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _files(path: str) -> list[str]:
    return [os.path.join(p, f) for p, dirs, fs in os.walk(path) for f in fs
            if f.endswith(".parquet") and "/." not in p[len(path):]]


def stream_files(checkpoint: str) -> int:
    """Distinct input files a file-source stream committed, from its
    checkpoint's source log: one JSON entry per file after a version line."""
    paths = set()
    for log in glob.glob(os.path.join(checkpoint, "sources", "*", "*")):
        with open(log) as f:
            paths.update(json.loads(line)["path"] for line in f if line.startswith("{"))
    return len(paths)


def store_hash(path: str) -> tuple[int, int]:
    """(row count, order-insensitive hash) of the store's data columns."""
    import pandas as pd

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    df = t.select(["Job Id", "Host", "Event", "Value", "Units", "Timestamp"]).to_pandas()
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


class Ingest:
    """A batch application: each run starts cold and times its first cycle,
    as a per-batch Spark application pays JIT and codegen every time."""

    name = "ingest"
    setup_repeats = 3
    warm = False

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cycles = 0
        self.lat: dict[str, list[float]] = {"merge": []}
        self.cpu: list[float] = []  # process-tree CPU seconds per merge
        self.ops = 0
        self.failed = 0
        self.store = os.path.join(work, "ingest", "cycle", "store")

    # -- set-up ---------------------------------------------------------------

    def build(self) -> None:
        """One set-up: generate the raw CSVs and CDC batches."""
        shutil.rmtree(os.path.join(self.work, "ingest", "in"), ignore_errors=True)
        self.inputs = gen.ingest_inputs(self.seed, os.path.join(self.work, "ingest", "in"), **SIZE)

    def sizes(self) -> dict:
        return {
            "raw_rows": self.inputs.raw_rows,
            "raw_bytes": self.inputs.raw_bytes,
            "raw_files": sum(len(v) for v in self.inputs.files.values()),
            "cdc_batches": self.inputs.cdc_batches,
            "cdc_inserts_per_cycle": self.inputs.cdc_inserts,
            "cdc_deletes_per_cycle": self.inputs.cdc_deletes,
            "store_partitions": len({os.path.dirname(f) for f in _files(self.store)}),
            "store_bytes": sum(os.path.getsize(f) for f in _files(self.store)),
        }

    # -- timed phase ----------------------------------------------------------

    def _op(self, fn) -> bool:
        self.ops += 1
        try:
            fn()
            return True
        except Exception as e:  # a failed op is counted, the cycle goes on
            self.failed += 1
            print(f"# op failed: {type(e).__name__}: {e}", flush=True)
            return False

    def unit(self, tr) -> None:
        """One ingest cycle into a fresh store."""
        cyc = os.path.join(self.work, "ingest", "cycle")
        shutil.rmtree(cyc, ignore_errors=True)
        inp = self.inputs
        with tr.span("cycle.ingest", request=self.cycles):
            etl_out = [os.path.join(cyc, "etl", k) for k in gen.KINDS]
            for kind, out in zip(gen.KINDS, etl_out):
                def etl(kind=kind, out=out):
                    with tr.span(f"etl.run_batch_pipeline.{kind}") as c:
                        run_batch_pipeline(self.spark, os.path.join(inp.batch_dir, f"{kind}_*.csv"), kind, out)
                    if tr.enabled:  # counted after the span closes
                        c["rows_in"] = inp.batch_rows[kind]
                        c["rows_out"] = _parquet_rows(out)
                self._op(etl)
            self._op(lambda: self._load(tr, [p for p in etl_out if os.path.isdir(p)], "overwrite"))
            tail_out = [os.path.join(cyc, "tail", k) for k in gen.TAIL_KINDS]
            for kind, out in zip(gen.TAIL_KINDS, tail_out):
                def drain(kind=kind, out=out):
                    ckpt = os.path.join(cyc, "ckpt", kind)
                    with tr.span("streaming.start_etl_stream") as c:
                        q = start_etl_stream(
                            self.spark, os.path.join(inp.tail_dir, kind), RAW_SCHEMAS[kind],
                            transformer_for_filename(f"{kind}.csv"), out, ckpt, available_now=True)
                        if tr.enabled:
                            tr.alias_group(str(q.runId))
                        q.awaitTermination()
                        if q.exception() is not None:
                            raise RuntimeError(str(q.exception()))
                    if tr.enabled:  # counted after the span closes
                        c["files"] = stream_files(ckpt)
                self._op(drain)
            self._op(lambda: self._load(tr, [p for p in tail_out if os.path.isdir(p)], "append"))
            for b in sorted(glob.glob(os.path.join(inp.cdc_dir, "*.parquet"))):
                cpu0, t0 = tree_cpu_s(), time.perf_counter()
                if self._op(lambda b=b: self._merge(tr, b)):
                    self.lat["merge"].append(time.perf_counter() - t0)
                    self.cpu.append(tree_cpu_s() - cpu0)
            self._op(lambda: self._compact(tr))
        self.cycles += 1

    def _load(self, tr, paths: list[str], mode: str) -> None:
        with tr.span("sources.read_parquet"):
            df = read_parquet(self.spark, paths)
        before = set(_files(self.store)) if tr.enabled else set()
        with tr.span("plans.store.write_partitioned_store") as c:
            write_partitioned_store(df, self.store, time_col="Timestamp", mode=mode)
        if tr.enabled:
            new = set(_files(self.store)) - before
            c["files_written"] = len(new)
            c["bytes_written"] = sum(os.path.getsize(f) for f in new)

    def _merge(self, tr, batch: str) -> list[str]:
        with tr.span("plans.store.merge_into_store") as c:
            changes = self.spark.read.parquet(batch)
            swapped = merge_into_store(self.spark, self.store, changes, KEY_COLS, time_col="Timestamp")
            c["partitions_swapped"] = len(swapped)
        return swapped

    def _compact(self, tr) -> None:
        before = len(_files(self.store)) if tr.enabled else 0
        with tr.span("plans.store.compact_store") as c:
            rewritten = compact_store(self.spark, self.store)
        if tr.enabled:
            c["partitions_rewritten"] = len(rewritten)
            c["files_before"] = before
            c["files_after"] = len(_files(self.store))

    # -- results --------------------------------------------------------------

    def check(self) -> list[tuple[str, bool, str]]:
        """Row count = rows landed by ETL + net effect of the merges;
        replaying the last CDC batch leaves the store hash unchanged;
        compaction of a fragmented store preserves its hash."""
        out = []
        cyc = os.path.join(self.work, "ingest", "cycle")
        landed = _parquet_rows(os.path.join(cyc, "etl")) + _parquet_rows(os.path.join(cyc, "tail"))
        n, h = store_hash(self.store)
        want = landed + self.inputs.cdc_inserts - self.inputs.cdc_deletes
        out.append(("store.row_count", n == want,
                    f"{n} rows, want {landed} landed + {self.inputs.cdc_inserts} inserted - {self.inputs.cdc_deletes} deleted"))
        last = sorted(glob.glob(os.path.join(self.inputs.cdc_dir, "*.parquet")))[-1]
        self._merge(NullTracer(), last)
        n2, h2 = store_hash(self.store)
        out.append(("merge.replay_idempotent", (n2, h2) == (n, h), f"{n2} rows after replay"))
        tail = [p for p in glob.glob(os.path.join(cyc, "tail", "*")) if os.path.isdir(p)]
        write_partitioned_store(read_parquet(self.spark, tail), self.store, time_col="Timestamp", mode="append")
        n3, h3 = store_hash(self.store)
        rewritten = compact_store(self.spark, self.store)
        n4, h4 = store_hash(self.store)
        out.append(("compact.preserves_hash", (n4, h4) == (n3, h3) and len(rewritten) > 0,
                    f"{len(rewritten)} partitions rewritten, {n4} rows"))
        return out

    def metrics(self, elapsed: float, cpu: float) -> dict[str, tuple]:
        rows = self.inputs.raw_rows * self.cycles
        stored = sum(os.path.getsize(f) for f in _files(self.store))
        return {
            "merge_cpu_p50_s": (float(np.median(self.cpu)), "s"),
            "ingest_rows_per_cpu_s": (rows / cpu, "rows/s"),
            "ingest_rows_per_s": (rows / elapsed, "rows/s"),
            "merge_p50_s": (float(np.median(self.lat["merge"])), "s"),
            "store_bytes_per_raw_byte": (stored / self.inputs.raw_bytes, "ratio"),
        }
