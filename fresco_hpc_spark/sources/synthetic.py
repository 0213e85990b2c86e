"""Synthetic wide-table generator (SURVEY.md §2.1 S12).

The reference seeds demo data with
``INSERT ... SELECT ts + random()*(ts2-ts1), 'demo-'||i, ... FROM
generate_series(1, N)`` (web/src/utils/schema.ts:271-310; JS-loop variant
query_builder.tsx:126-178). This restatement replaces ``random()`` with an
explicit LCG keyed on the row id so the output is deterministic and
oracle-checkable — ``spark.range`` is the ``generate_series`` analogue and
the generator is embarrassingly parallel (no shuffle, no driver loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LCG_A = 1_103_515_245
_LCG_C = 12_345
_LCG_M = 2_147_483_648  # 2^31


def _lcg(expr, salt: int):
    """Deterministic pseudo-random in [0, 2^31): one LCG step of id+salt.
    id*A + C stays far below 2^63 for any realistic row count."""
    return ((expr + F.lit(salt)) * F.lit(_LCG_A) + F.lit(_LCG_C)) % F.lit(_LCG_M)


def synthetic_job_data(
    spark: SparkSession,
    n: int,
    start: str = "2024-01-01 00:00:00",
    window_days: int = 30,
) -> DataFrame:
    """N demo rows of the wide job schema's core columns, deterministic."""
    i = F.col("id")
    frac_t = _lcg(i, 0) / F.lit(float(_LCG_M))
    frac_v = _lcg(i, 7) / F.lit(float(_LCG_M))
    frac_m = _lcg(i, 13) / F.lit(float(_LCG_M))
    offset = (frac_t * F.lit(window_days * 86400)).cast("bigint")
    base = F.lit(start).cast("timestamp")
    # timestamp_seconds(unix_timestamp(base) + offset): TZ-safe round trip
    # (both conversions use the session timezone)
    ts = F.timestamp_seconds(F.unix_timestamp(base) + offset)
    return spark.range(1, n + 1).select(
        ts.alias("time"),
        F.concat(F.lit("demo-"), i.cast("string")).alias("jid"),
        F.concat(F.lit("NODE"), (i % 16).cast("string")).alias("host"),
        F.concat(F.lit("user"), (i % 25).cast("string")).alias("username"),
        (i % 4 + 1).cast("bigint").alias("nhosts"),
        ((i % 4 + 1) * 16).cast("bigint").alias("ncores"),
        # reference: CASE WHEN random()<0.9 THEN '0' ELSE '1' (schema.ts:299)
        F.when(_lcg(i, 3) % 10 < 9, F.lit("0")).otherwise(F.lit("1")).alias("exitcode"),
        F.round(frac_v * 100, 6).alias("value_cpuuser"),
        F.round(frac_m * 256, 6).alias("value_memused"),
    )


SYNTHETIC_ORACLE_SQL_TEMPLATE = """
    SELECT
        TIMESTAMP '{start}'
            + to_seconds(CAST(floor(((i + 0) * 1103515245 + 12345) % 2147483648
                              / 2147483648.0 * {window_seconds}) AS BIGINT)) AS time,
        'demo-' || CAST(i AS VARCHAR) AS jid,
        'NODE' || CAST(i % 16 AS VARCHAR) AS host,
        'user' || CAST(i % 25 AS VARCHAR) AS username,
        CAST(i % 4 + 1 AS BIGINT) AS nhosts,
        CAST((i % 4 + 1) * 16 AS BIGINT) AS ncores,
        CASE WHEN ((i + 3) * 1103515245 + 12345) % 2147483648 % 10 < 9
             THEN '0' ELSE '1' END AS exitcode,
        ROUND(((i + 7) * 1103515245 + 12345) % 2147483648 / 2147483648.0 * 100, 6)
            AS value_cpuuser,
        ROUND(((i + 13) * 1103515245 + 12345) % 2147483648 / 2147483648.0 * 256, 6)
            AS value_memused
    FROM generate_series(1, {n}) AS t(i)
"""


def zipf_corpus(
    spark: SparkSession,
    n_docs: int,
    tokens_per_doc: int = 60,
    zipf: bool = True,
    vocab: int = 20_000,
) -> DataFrame:
    """Deterministic natural-text-like corpus: ``(doc_id, text)`` where
    token j of doc i is word rank ``floor(V^u)`` (Zipf s≈1 via inverse
    CDF) or ``floor(V·u)`` (uniform), with ``u`` an md5-derived uniform
    in [0, 1). Pure JVM expressions — no Python, no ``rand()`` — and the
    identical draw exists in DuckDB
    (``('0x'||substring(md5(doc||'-'||j),1,15))::BIGINT % 1000003 /
    1000003.0``), so corpora built here are fully oracle-checkable.

    Why it exists: the two exact-Jaccard variants (functions/dedup.py)
    split on document-frequency distribution — prefix filtering wins on
    Zipfian df (natural text), the plain token join on near-uniform df.
    This generator makes that crossover measurable inside the bench
    suite (the larger-corpus crossover is recorded in SCALE.md).

    Token order within ``text`` follows ``collect_list`` and is NOT
    deterministic across runs; consumers must be order-insensitive
    (unigram set semantics — Jaccard, MinHash, SimHash — are).
    """
    docs = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    j = F.explode(F.sequence(F.lit(0), F.lit(tokens_per_doc - 1))).alias("j")
    toks = docs.select("doc_id", j)
    u = (
        F.pmod(
            F.conv(F.substring(F.md5(F.concat_ws("-", "doc_id", "j")), 1, 15), 16, 10)
            .cast("bigint"),
            F.lit(1_000_003),
        )
        / F.lit(1_000_003.0)
    )
    rank = (
        F.floor(F.pow(F.lit(float(vocab)), u))
        if zipf
        else F.floor(F.lit(float(vocab)) * u)
    )
    words = toks.select(
        "doc_id", F.concat(F.lit("w"), rank.cast("string")).alias("w")
    )
    return words.groupBy("doc_id").agg(
        F.concat_ws(" ", F.collect_list("w")).alias("text")
    )


ZIPF_CORPUS_ORACLE_SQL_TEMPLATE = """
    SELECT doc_id,
           string_agg('w' || CAST(CAST(floor(pow({vocab}.0, u)) AS BIGINT)
                                  AS VARCHAR), ' ') AS text
    FROM (
        SELECT d.doc_id, t.j,
               (('0x' || substring(md5(d.doc_id::VARCHAR || '-' || t.j::VARCHAR),
                                   1, 15))::BIGINT % 1000003) / 1000003.0 AS u
        FROM (SELECT unnest(generate_series(0, {n_docs} - 1)) AS doc_id) d,
             (SELECT unnest(generate_series(0, {tokens_per_doc} - 1)) AS j) t
    )
    GROUP BY doc_id
"""
