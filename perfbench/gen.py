"""Seeded input generators for the three benchmark workloads.

Everything here is numpy + pyarrow only: the program under test receives
the files these functions write and nothing else. The same seed writes
byte-identical files; the generators also return the ground truth the
output checks need (planted duplicates, valid CDC keys, row counts).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

BASE_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
HOUR_US = 3600 * 10**6
DAY_US = 24 * HOUR_US
DASH_DAYS = 30
METRICS = ["value_cpuuser", "value_gpu", "value_memused", "value_nfs", "value_block"]
CHARTS = [
    "hourly_agg",
    "histogram_bin_index",
    "percentile_trimmed_hourly_agg",
    "topn_others",
    "column_stats",
]
WINDOW_HOURS = [6, 24, 72, 168]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _zipf_choice(rng: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    return rng.choice(n, size=size, p=_zipf_p(n, s))


def _write_parquet(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# --- dashboard ---------------------------------------------------------------


@dataclass
class DashboardInputs:
    input_dir: str
    rows: int
    files: int
    bytes: int


def dashboard_table(seed: int, rows: int) -> pa.Table:
    """The 22-column wide job table over 30 days, time-sorted, with
    Zipf-skewed hosts and users and ~20% NULL GPU values."""
    rng = _rng(seed, 1)
    t = np.sort(rng.integers(0, DASH_DAYS * DAY_US, rows)) + BASE_US
    ts = pa.array(t, pa.timestamp("us"))
    wait = rng.integers(0, 2 * HOUR_US, rows)
    run = rng.integers(10 * 60 * 10**6, 6 * HOUR_US, rows)
    n_hosts, n_users, n_jobs = 400, 120, 5000
    host = _zipf_choice(rng, n_hosts, rows)
    user = _zipf_choice(rng, n_users, rows)
    jid = rng.integers(0, n_jobs, rows)
    nhosts = rng.integers(1, 17, rows)
    gpu = rng.uniform(0, 100, rows)
    gpu_null = rng.random(rows) < 0.2
    cpu = np.round(rng.beta(2, 3, rows) * 100, 3)
    mem = np.round(rng.gamma(2.0, 12.0, rows), 3)
    cache = np.round(mem * rng.uniform(0.05, 0.6, rows), 3)
    labels = lambda prefix, idx, n: pa.array(  # noqa: E731
        np.array([f"{prefix}{i:04d}" for i in range(n)], dtype=object)[idx]
    )
    return pa.table(
        {
            "time": ts,
            "submit_time": pa.array(t - wait - run // 2, pa.timestamp("us")),
            "start_time": pa.array(t - run // 2, pa.timestamp("us")),
            "end_time": pa.array(t + run // 2, pa.timestamp("us")),
            "timelimit": pa.array(np.round(run / 3.6e9 * 1.5, 2)),
            "nhosts": pa.array(nhosts, pa.int64()),
            "ncores": pa.array(nhosts * 64, pa.int64()),
            "account": labels("acct", user % 17, 17),
            "queue": labels("q", rng.integers(0, 6, rows), 6),
            "host": labels("c", host, n_hosts),
            "jid": labels("job", jid, n_jobs),
            "unit": labels("u", rng.integers(0, 3, rows), 3),
            "jobname": labels("name", jid % 300, 300),
            "exitcode": labels("exit", (rng.random(rows) < 0.05).astype(np.int64), 2),
            "host_list": labels("c", host, n_hosts),
            "username": labels("user", user, n_users),
            "value_cpuuser": pa.array(cpu),
            "value_gpu": pa.array(np.round(gpu, 3), mask=gpu_null),
            "value_memused": pa.array(mem),
            "value_memused_minus_diskcache": pa.array(mem - cache),
            "value_nfs": pa.array(np.round(rng.lognormal(1.0, 1.2, rows), 3)),
            "value_block": pa.array(np.round(rng.lognormal(-1.0, 1.0, rows), 4)),
        }
    )


def dashboard_inputs(seed: int, out_dir: str, rows: int) -> DashboardInputs:
    """One parquet file per day, so every hour lands in one write task and
    the store gets one file per hour partition."""
    os.makedirs(out_dir, exist_ok=True)
    table = dashboard_table(seed, rows)
    day = (
        (table["time"].cast(pa.int64()).to_numpy() - BASE_US) // DAY_US
    ).astype(np.int64)
    edges = np.searchsorted(day, np.arange(DASH_DAYS + 1))
    total = 0
    for d in range(DASH_DAYS):
        part = table.slice(edges[d], edges[d + 1] - edges[d])
        total += _write_parquet(part, os.path.join(out_dir, f"day={d + 1:02d}.parquet"))
    return DashboardInputs(out_dir, rows, DASH_DAYS, total)


@dataclass
class Request:
    kind: str  # "plan" or "chart"
    start_us: int
    hours: int
    chart: str = ""
    metric: str = ""

    @property
    def window(self) -> tuple[str, str]:
        start = np.datetime64(self.start_us, "us")
        end = np.datetime64(self.start_us + self.hours * HOUR_US - 10**6, "us")
        fmt = lambda x: str(x).replace("T", " ")[:19]  # noqa: E731
        return fmt(start), fmt(end)


def dashboard_round(rng: np.random.Generator, r: int, recent: list[Request]) -> list[Request]:
    """Round ``r`` of the request stream: the five charts once each in a
    seeded order, one repeat of a recent chart key (a cache hit), and one
    plan request. A chart's window length (6 h / 1 d / 3 d / 7 d) and
    metric column rotate with the round, and the seed picks where windows
    start: every round on every seed does the same kinds and amounts of
    work."""
    fresh = []
    for c in rng.permutation(len(CHARTS)):
        hours = WINDOW_HOURS[(c + r) % len(WINDOW_HOURS)]
        start = BASE_US + int(rng.integers(0, DASH_DAYS * 24 - hours + 1)) * HOUR_US
        fresh.append(Request("chart", start, hours, CHARTS[c], METRICS[(c + r) % len(METRICS)]))
    pool = (recent + fresh[:3])[-8:]
    rep = pool[int(rng.integers(0, len(pool)))]
    repeat = Request("chart", rep.start_us, rep.hours, rep.chart, rep.metric)
    hours = WINDOW_HOURS[r % len(WINDOW_HOURS)]
    start = BASE_US + int(rng.integers(0, DASH_DAYS * 24 - hours + 1)) * HOUR_US
    return [*fresh[:3], repeat, *fresh[3:], Request("plan", start, hours)]


# --- ingest ------------------------------------------------------------------

KINDS = ["block", "cpu", "mem", "llite"]
TAIL_KINDS = ["cpu", "mem"]  # the late tail the stream drains
_CPU_COLS = ["user", "nice", "system", "idle", "iowait", "irq", "softirq"]


@dataclass
class IngestInputs:
    batch_dir: str
    tail_dir: str
    cdc_dir: str
    raw_rows: int
    raw_bytes: int
    cdc_batches: int
    cdc_inserts: int
    cdc_deletes: int
    files: dict[str, list[str]] = field(default_factory=dict)
    batch_rows: dict[str, int] = field(default_factory=dict)  # per kind, late tail excluded


def _fmt_ts(us: np.ndarray) -> np.ndarray:
    s = np.datetime_as_string(us.astype("datetime64[us]").astype("datetime64[s]"))
    # 2024-01-02T03:04:05 -> 01/02/2024 03:04:05
    return np.array([f"{x[5:7]}/{x[8:10]}/{x[0:4]} {x[11:19]}" for x in s], dtype=object)


def _counter(rng: np.random.Generator, n_series: int, n_samples: int,
             scale: float, reset_p: float) -> np.ndarray:
    """Cumulative counters per series with occasional resets to a small value."""
    inc = rng.integers(1, int(scale) + 2, (n_series, n_samples)).astype(np.int64)
    start = rng.integers(0, int(scale) * 100, (n_series, 1))
    c = start + np.cumsum(inc, axis=1)
    resets = rng.random((n_series, n_samples)) < reset_p
    for s, i in zip(*np.nonzero(resets)):
        c[s, i:] -= c[s, i] - int(rng.integers(0, int(scale) + 1))
    return c


def _ingest_job(rng: np.random.Generator, kind: str, job: int, nodes: int,
                samples: int, t0: int, step_us: int):
    """Raw rows of one job for one kind plus the (node, ts) rows whose mem
    sample is fully valid (the CDC generator keys on those)."""
    devices = {"block": 2, "cpu": 4}.get(kind, 1)
    n_series = nodes * devices
    times = t0 + np.arange(samples, dtype=np.int64) * step_us
    node = np.repeat(np.arange(nodes), devices * samples)
    dev = np.tile(np.repeat(np.arange(devices), samples), nodes)
    ts = np.tile(times, n_series)
    n = len(ts)
    ts_str = _fmt_ts(ts)
    bad_ts = rng.random(n) < 0.01
    ts_str[bad_ts] = "not a date"
    cols: dict[str, np.ndarray] = {
        "jobID": np.full(n, f"jobID{job:05d}", dtype=object),
        "node": np.array([f"c{job:05d}-{k:02d}" for k in node], dtype=object),
    }
    if devices > 1:
        cols["device"] = np.array([f"{kind[:3]}{k}" for k in dev], dtype=object)
    cols["timestamp"] = ts_str
    bad_num = np.zeros(n, dtype=bool)
    if kind == "block":
        vals = {"rd_sectors": _counter(rng, n_series, samples, 5000, 0.005),
                "wr_sectors": _counter(rng, n_series, samples, 3000, 0.005)}
    elif kind == "cpu":
        vals = {c: _counter(rng, n_series, samples, s, 0.005)
                for c, s in zip(_CPU_COLS, [600, 20, 150, 2000, 30, 5, 10])}
    elif kind == "llite":
        vals = {"read_bytes": _counter(rng, n_series, samples, 10**7, 0.005),
                "write_bytes": _counter(rng, n_series, samples, 5 * 10**6, 0.005)}
    else:
        total = rng.integers(64, 257, (n_series, 1)) * 1024 * 1024
        free = (total * rng.uniform(-0.05, 1.1, (n_series, samples))).astype(np.int64)
        pages = (total * rng.uniform(0.0, 0.7, (n_series, samples))).astype(np.int64)
        vals = {"MemTotal": np.broadcast_to(total, (n_series, samples)),
                "MemFree": free, "FilePages": pages}
    first = True
    for c, v in vals.items():
        s = v.reshape(-1).astype(str).astype(object)
        if first:  # malformed counters in the first value column only
            bad_num = rng.random(n) < 0.01
            s[bad_num] = "garbage"
            first = False
        cols[c] = s
    valid = ~bad_ts & ~bad_num
    return cols, node, ts, valid


def _write_csv(cols: dict[str, np.ndarray], path: str) -> int:
    table = pa.table({k: pa.array(v, pa.string()) for k, v in cols.items()})
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))
    return os.path.getsize(path)


def ingest_inputs(seed: int, out_dir: str, jobs: int, nodes: int, samples: int,
                  tail_jobs: int, cdc_batches: int, cdc_keys: int) -> IngestInputs:
    """Raw TACC-Stats-shaped CSVs, one file per (kind, job). The last
    ``tail_jobs`` jobs are the late tail the stream drains, for
    ``TAIL_KINDS`` only. CDC batches key on valid mem samples (memused
    rows): each updates ``cdc_keys`` stored rows, inserts as many new ones
    and deletes half as many."""
    rng = _rng(seed, 3)
    batch_dir = os.path.join(out_dir, "raw")
    tail_dir = os.path.join(out_dir, "tail")
    cdc_dir = os.path.join(out_dir, "cdc")
    for d in (batch_dir, tail_dir, cdc_dir):
        os.makedirs(d, exist_ok=True)
    files: dict[str, list[str]] = {k: [] for k in KINDS}
    batch_rows = dict.fromkeys(KINDS, 0)
    raw_rows = raw_bytes = 0
    step = 60 * 10**6
    mem_valid = []
    for j in range(jobs):
        # jobs 6 h apart: every seed lands the same number of hour partitions
        t0 = BASE_US + j * 6 * HOUR_US + int(rng.integers(1, 3600)) * 10**6
        tail = j >= jobs - tail_jobs
        for kind in (TAIL_KINDS if tail else KINDS):
            cols, node, ts, valid = _ingest_job(rng, kind, j, nodes, samples, t0, step)
            d = os.path.join(tail_dir, kind) if tail else batch_dir
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"{kind}_job{j:05d}.csv")
            raw_bytes += _write_csv(cols, path)
            raw_rows += len(ts)
            files[kind].append(path)
            if not tail:
                batch_rows[kind] += len(ts)
            if kind == "mem" and not tail:
                mem_valid.append((j, node[valid], ts[valid]))
    # CDC batch b keys on valid samples of batch job b, so it touches that
    # job's few hours and no key is touched by two batches; upserts change
    # Value, inserts use a timestamp 30 s after a valid sample (never
    # generated: samples are 60 s apart at whole seconds).
    if cdc_batches > len(mem_valid):
        raise ValueError("need one batch job per CDC batch")
    inserts = deletes = 0
    for b in range(cdc_batches):
        j, nodes_, tss = mem_valid[b]
        pick = np.sort(rng.choice(len(tss), cdc_keys + cdc_keys // 2, replace=False))
        chunk = [(j, int(nodes_[i]), int(tss[i])) for i in pick]
        ups, dels = chunk[:cdc_keys], chunk[cdc_keys:]
        rows = []
        for j, n, t in ups:
            rows.append((j, n, t, "upsert", float(rng.uniform(0, 256))))
            rows.append((j, n, t + 30 * 10**6, "upsert", float(rng.uniform(0, 256))))
        for j, n, t in dels:
            rows.append((j, n, t, "delete", 0.0))
        inserts += len(ups)
        deletes += len(dels)
        table = pa.table({
            "Job Id": pa.array([f"JOB{j:05d}" for j, *_ in rows]),
            "Host": pa.array([f"c{j:05d}-{n:02d}" for j, n, *_ in rows]),
            "Event": pa.array(["memused"] * len(rows)),
            "Value": pa.array([r[4] for r in rows], pa.float64()),
            "Units": pa.array(["GB"] * len(rows)),
            "Timestamp": pa.array([r[2] for r in rows], pa.timestamp("us", tz="UTC")),
            "op": pa.array([r[3] for r in rows]),
        })
        _write_parquet(table, os.path.join(cdc_dir, f"batch{b:03d}.parquet"))
    return IngestInputs(batch_dir, tail_dir, cdc_dir, raw_rows, raw_bytes,
                        cdc_batches, inserts, deletes, files, batch_rows)


# --- curate ------------------------------------------------------------------


@dataclass
class CurateInputs:
    docs_path: str
    emb_path: str
    docs: int
    exact_copies: list[int]
    near_pairs: list[tuple[int, int]]
    bytes: int


COPY_SHARE = 0.05  # planted exact copies, as a share of the base documents
REMIX_SHARE = 0.05  # planted near-duplicate remixes, likewise
SOURCES = 8  # each source has its own boilerplate header and footer
EMB_DIM = 32


def curate_inputs(seed: int, out_dir: str, base_docs: int) -> CurateInputs:
    """Documents over a Zipf vocabulary with per-source boilerplate lines,
    planted exact copies and near-duplicate remixes (a few words swapped),
    plus embeddings where every remix sits next to its original."""
    rng = _rng(seed, 4)
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array([f"w{i}" for i in range(6000)], dtype=object)
    stop = ["the", "of", "and", "to", "in"]
    boiler = [[f"source {s} header navigation menu home about contact",
               f"copyright source {s} all rights reserved terms privacy"]
              for s in range(SOURCES)]

    cdf = np.cumsum(_zipf_p(len(vocab), 1.05))

    def body() -> list[str]:
        lines = []
        for _ in range(int(rng.integers(6, 12))):
            pick = np.minimum(np.searchsorted(cdf, rng.random(int(rng.integers(10, 17)))), len(vocab) - 1)
            words = list(vocab[pick])
            words[int(rng.integers(0, len(words)))] = stop[int(rng.integers(0, len(stop)))]
            lines.append(" ".join(words))
        return lines

    ids, srcs, langs, texts, bodies = [], [], [], [], []
    for i in range(base_docs):
        s = int(rng.integers(0, SOURCES))
        b = body()
        ids.append(i)
        srcs.append(s)
        langs.append("en" if rng.random() < 0.95 else "de")
        bodies.append(b)
        texts.append("\n".join([boiler[s][0], *b, boiler[s][1]]))
    emb = rng.standard_normal((base_docs, EMB_DIM))
    n_copy = int(base_docs * COPY_SHARE)
    n_remix = int(base_docs * REMIX_SHARE)
    copy_of = rng.choice(base_docs, n_copy, replace=False)
    remix_of = rng.choice(base_docs, n_remix, replace=False)
    exact, near = [], []
    extra_emb = []
    next_id = base_docs
    for o in copy_of:
        ids.append(next_id)
        srcs.append(srcs[o])
        langs.append(langs[o])
        texts.append(texts[o])
        extra_emb.append(emb[o] + rng.standard_normal(EMB_DIM) * 0.5)
        exact.append(next_id)
        next_id += 1
    for o in remix_of:
        b = [line.split() for line in bodies[o]]
        for _ in range(3):
            li = int(rng.integers(0, len(b)))
            wi = int(rng.integers(0, len(b[li])))
            b[li][wi] = f"remix{int(rng.integers(0, 10**6))}"
        ids.append(next_id)
        srcs.append(srcs[o])
        langs.append(langs[o])
        texts.append("\n".join([boiler[srcs[o]][0], *[" ".join(x) for x in b],
                                boiler[srcs[o]][1]]))
        extra_emb.append(emb[o] + rng.standard_normal(EMB_DIM) * 1e-3)
        near.append((int(o), next_id))
        next_id += 1
    all_emb = np.vstack([emb, np.array(extra_emb)]) if extra_emb else emb
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "source": pa.array([f"src{s}" for s in srcs]),
        "lang": pa.array(langs),
        "text": pa.array(texts),
    })
    embs = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(all_emb.astype(np.float64)), pa.list_(pa.float64())),
    })
    docs_path = os.path.join(out_dir, "docs.parquet")
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    nbytes = _write_parquet(docs, docs_path) + _write_parquet(embs, emb_path)
    return CurateInputs(docs_path, emb_path, len(ids), exact, near, nbytes)
