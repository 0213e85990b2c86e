"""The seeded input generators: the same seed writes byte-identical
files, another seed writes different ones, and the planted ground truth
holds."""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for p, _, files in os.walk(root):
        for f in files:
            path = os.path.join(p, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _make(kind: str, seed: int, out: str) -> None:
    if kind == "dashboard":
        gen.dashboard_inputs(seed, out, rows=3000)
    elif kind == "ingest":
        gen.ingest_inputs(seed, out, jobs=3, nodes=2, samples=20, tail_jobs=1,
                          cdc_batches=2, cdc_keys=4)
    else:
        gen.curate_inputs(seed, out, base_docs=60)


@pytest.mark.parametrize("kind", ["dashboard", "ingest", "curate"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, kind):
    _make(kind, 7, str(tmp_path / "a"))
    _make(kind, 7, str(tmp_path / "b"))
    _make(kind, 8, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_request_rounds_are_seeded():
    import numpy as np

    def rounds(seed):
        rng = np.random.default_rng([seed, 20])
        return [gen.dashboard_round(rng, r, []) for r in range(3)]

    assert rounds(1) == rounds(1)
    assert rounds(1) != rounds(2)
    for reqs in rounds(1):
        assert [r.kind for r in reqs].count("plan") == 1
        fresh = [r for i, r in enumerate(reqs) if r.kind == "chart" and i != 3]
        assert sorted(r.chart for r in fresh) == sorted(gen.CHARTS)
        assert reqs[3] in reqs[:3]  # the repeat is a key already asked for


def test_planted_ground_truth(tmp_path):
    import pyarrow.parquet as pq

    c = gen.curate_inputs(3, str(tmp_path / "cur"), base_docs=100)
    docs = pq.read_table(c.docs_path).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert len(set(docs["doc_id"])) == c.docs
    for copy in c.exact_copies:
        assert any(text[copy] == text[o] for o in range(100))
    for orig, remix in c.near_pairs:
        assert text[orig] != text[remix]

    i = gen.ingest_inputs(3, str(tmp_path / "ing"), jobs=3, nodes=2, samples=20,
                          tail_jobs=1, cdc_batches=2, cdc_keys=4)
    batches = [pq.read_table(os.path.join(i.cdc_dir, f)).to_pydict()
               for f in sorted(os.listdir(i.cdc_dir))]
    keys = [(j, h, t) for b in batches for j, h, t in zip(b["Job Id"], b["Host"], b["Timestamp"])]
    assert len(keys) == len(set(keys))  # no key is touched twice
    assert i.cdc_inserts == 8 and i.cdc_deletes == 4
