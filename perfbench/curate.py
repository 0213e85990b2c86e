"""``curate``: a training-data curation chain over a document corpus.

One pass runs ``boilerplate_remove`` → ``remove_duplicate_ngram_spans`` →
``exact_dedup`` → ``minhash_dup_pairs`` → ``dup_clusters`` →
``quality_rules`` → ``semantic_dedup`` → ``build_text_index``.
Dedup decisions are taken on the boilerplate-free text; the span-cleaned
text is what gets indexed. CPU- and shuffle-bound batch work in
``functions``; it bypasses ``plans`` and ``etl`` entirely.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import gen
from spans import tree_cpu_s
from fresco_hpc_spark.functions import (
    boilerplate_remove,
    build_text_index,
    dup_clusters,
    exact_dedup,
    minhash_dup_pairs,
    quality_rules,
    remove_duplicate_ngram_spans,
    semantic_dedup,
)
from fresco_hpc_spark.sources import read_parquet

BASE_DOCS = 1000
WARM_DOCS = 100
INDEX = "perfbench_curate_index"
# a body line is shared by at most three documents (original, exact copy,
# remix); boilerplate lines are on every document of their source
BOILERPLATE_MIN_DOCS = 8


class Curate:
    """The chain over the whole corpus, timed warm. On a 4-vCPU host a cold
    pass took 28 s and a warm one 16 s; the difference (JIT, codegen, Python
    worker start-up) is the same whatever the chain's functions do. It is
    paid in set-up, by a pass over a small corpus of its own, and shows in
    setup_s."""

    name = "curate"
    setup_repeats = 3
    warm = True

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.passes = 0
        self.lat: dict[str, list[float]] = {"pass": []}
        self.cpu: list[float] = []  # process-tree CPU seconds per pass
        self.ops = 0
        self.failed = 0
        self.last: dict = {}

    def build(self) -> None:
        """One set-up: generate the corpus and its embeddings."""
        shutil.rmtree(os.path.join(self.work, "curate"), ignore_errors=True)
        self.inputs = gen.curate_inputs(self.seed, os.path.join(self.work, "curate", "in"), BASE_DOCS)
        self.warm_inputs = gen.curate_inputs(self.seed, os.path.join(self.work, "curate", "warm"), WARM_DOCS)

    def warm_up(self, tr) -> None:
        """One pass over the warm-up corpus; a failure there still counts."""
        self._pass(tr, self.warm_inputs)
        self.passes = 0
        self.lat["pass"].clear()
        self.cpu.clear()
        self.last = {}

    def sizes(self) -> dict:
        return {
            "docs": self.inputs.docs,
            "planted_exact_copies": len(self.inputs.exact_copies),
            "planted_near_pairs": len(self.inputs.near_pairs),
            "input_bytes": self.inputs.bytes,
        }

    def unit(self, tr) -> None:
        """One pass of the chain over the whole corpus."""
        self._pass(tr, self.inputs)

    def _pass(self, tr, inputs: gen.CurateInputs) -> None:
        self.ops += 1
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with tr.span("cycle.curate", request=self.passes):
                self.last = self._chain(tr, inputs)
        except Exception as e:  # a failed pass is counted, the loop goes on
            self.failed += 1
            print(f"# op failed: {type(e).__name__}: {e}", flush=True)
            return
        self.lat["pass"].append(time.perf_counter() - t0)
        self.cpu.append(tree_cpu_s() - cpu0)
        self.passes += 1

    def _chain(self, tr, inputs: gen.CurateInputs) -> dict:
        spark = self.spark

        def stage(name: str, fn, count=None):
            # every stage's output is materialized, as a batch pipeline
            # persists between stages: a stage's time is then its own, and
            # traced and untraced passes do the same work
            with tr.span(f"functions.{name}") as c:
                out = fn()
                if out is not None:
                    out = out.localCheckpoint(eager=True)
            if tr.enabled and count:
                c[count] = out.count()
            return out

        with tr.span("sources.read_parquet"):
            docs = read_parquet(spark, inputs.docs_path)
            emb = read_parquet(spark, inputs.emb_path)
        bp = stage("boilerplate_remove",
                   lambda: boilerplate_remove(docs, min_docs=BOILERPLATE_MIN_DOCS))
        cleaned = bp.select("doc_id", "source", F.col("clean_text").alias("text")).join(
            docs.select("doc_id", "lang"), "doc_id")
        spans = stage("remove_duplicate_ngram_spans",
                      lambda: remove_duplicate_ngram_spans(cleaned, n=10))
        ex = stage("exact_dedup", lambda: exact_dedup(cleaned), "rows_out")
        unique = cleaned.join(ex.select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi")
        pairs = stage("minhash_dup_pairs", lambda: minhash_dup_pairs(unique), "pairs")
        clusters = stage("dup_clusters", lambda: dup_clusters(pairs))
        dropped = clusters.filter(F.col("doc") != F.col("cluster_id")).select(F.col("doc").alias("doc_id"))
        survivors = unique.join(dropped, "doc_id", "left_anti")
        q = stage("quality_rules", lambda: quality_rules(survivors))
        good = survivors.join(q.filter("kept").select("doc_id"), "doc_id", "left_semi")
        kept_emb = emb.join(good.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
        sem = stage("semantic_dedup", lambda: semantic_dedup(kept_emb))
        final = (
            good.select("doc_id")
            .join(sem.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_semi")
            .join(spans.select("doc_id", F.col("clean_text").alias("text")), "doc_id")
            .select("doc_id", "text")
        )
        stage("build_text_index", lambda: build_text_index(final, INDEX))
        return {"ex": ex, "pairs": pairs, "final": final}

    def check(self) -> list[tuple[str, bool, str]]:
        """Every planted exact copy removed, every planted near-duplicate
        pair found by MinHash, output doc ids unique."""
        if not self.last:
            return [("curate.pass", False, "no pass completed")]
        out = []
        canon = {r[0] for r in self.last["ex"].select("canonical_id").collect()}
        left = [d for d in self.inputs.exact_copies if d in canon]
        out.append(("exact_dedup.copies_removed", not left,
                    f"{len(self.inputs.exact_copies) - len(left)}/{len(self.inputs.exact_copies)} removed"))
        found = {(min(a, b), max(a, b)) for a, b in self.last["pairs"].select("doc_a", "doc_b").collect()}
        missed = [p for p in self.inputs.near_pairs if (min(p), max(p)) not in found]
        out.append(("minhash.near_pairs_found", not missed,
                    f"{len(self.inputs.near_pairs) - len(missed)}/{len(self.inputs.near_pairs)} found"))
        ids = [r[0] for r in self.last["final"].select("doc_id").collect()]
        out.append(("output.doc_ids_unique", len(ids) == len(set(ids)) and len(ids) > 0,
                    f"{len(ids)} output docs"))
        return out

    def metrics(self, elapsed: float, cpu: float) -> dict[str, tuple]:
        docs = self.inputs.docs * self.passes
        return {
            "pass_cpu_p50_s": (float(np.median(self.cpu)), "s"),
            "curate_docs_per_cpu_s": (docs / cpu, "docs/s"),
            "pass_p50_s": (float(np.median(self.lat["pass"])), "s"),
            "curate_docs_per_s": (docs / elapsed, "docs/s"),
        }
