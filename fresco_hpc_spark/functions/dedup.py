"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point of these at 100 TB):
  * exact dedup — one hash-groupBy on a fingerprint; map-side combine.
  * n-gram Jaccard — explode tokens → self-join on token → pair counts.
    The token join is the classic candidate-generation shuffle; frequent
    tokens are capped (``max_token_freq``) to avoid quadratic hot keys —
    the same document-frequency pruning used by production near-dup
    pipelines.
  * MinHash+LSH — k permutations via (a·h + b) mod p over a base 64-bit
    token hash, banded into b bands of r rows; candidate pairs only join
    within identical (band, band-signature) buckets, so the shuffle is
    proportional to collisions, not to n².
  * SimHash — 64-bit sign-aggregated token hashes; candidates = identical
    16-bit chunks (Hamming ≤ 3 guarantee by pigeonhole over 4 chunks).

All Catalyst-native expressions (xxhash64, explode, window, groupBy) — no
Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from fresco_hpc_spark.functions.text import document_fingerprint

_P = 2_147_483_647  # Mersenne prime 2^31−1: (a·h+b) mod p stays in 63 bits


def _h60(col) -> "F.Column":
    """md5-derived 60-bit token hash: ``conv(substr(md5(t),1,15),16,10)``.

    Chosen over xxhash64 because the byte-identical expression exists in
    DuckDB (``('0x'||substr(md5(t),1,15))::BIGINT``), which makes every
    MinHash/SimHash signature — and therefore the dup-pair outputs —
    fully oracle-checkable end-to-end instead of rows-only. 15 hex chars
    = 60 bits keeps a·h+b inside the signed-64 range after mod p and
    avoids the sign bit entirely."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast(
        "bigint"
    )


def _perm_constants(k: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k hash permutations (LCG-derived,
    no RNG state so resume/replay is stable)."""
    out = []
    x = seed
    for _ in range(k):
        x = (x * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (2**63)
        a = (x % (_P - 2)) + 1
        x = (x * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (2**63)
        b = x % _P
        out.append((a, b))
    return out


def _tokens(
    df: DataFrame, text_col: str, id_col: str, n: int = 1, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document (lower-cased), distinct by
    default. Pass ``distinct=False`` when the consumer is idempotent
    under duplicates (MIN aggregates) — it drops a full (doc, token)
    shuffle from the plan.

    Tokenization is CPU-bound (regex split + n-gram assembly per text);
    when the source arrives in fewer files than cores (single parquet
    file, small row-groups), fan out first so the explode uses the whole
    executor — one narrow-column shuffle against a many-core scan win.
    The probe uses ``inputFiles()`` (pure metadata) rather than
    ``df.rdd.getNumPartitions()``, which would force a plan→RDD
    translation on every call; non-file sources (createDataFrame ranges)
    already carry defaultParallelism partitions and are left alone.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < target:
        df = df.repartition(target)
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    if n == 1:
        tok = F.explode(words).alias("token")
        out = df.select(F.col(id_col).alias("doc"), tok)
        return out.distinct() if distinct else out
    # n-gram shingles: join n consecutive words via transform over 1-based
    # indices; guarded so short documents yield an empty list (sequence()
    # would otherwise produce a DESCENDING range when size < n). The word
    # array is BOUND ONCE (bind_once): higher-order functions run
    # interpreted with no CSE, so the old expr-string form re-ran the
    # regex split for every shingle index — O(tokens²) regex work per
    # document (r14; same trap d1b9ae2 fixed in the vector kernels).
    from fresco_hpc_spark.functions.vectors import bind_once

    ngrams = bind_once(
        words,
        lambda w: F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    out = df.select(
        F.col(id_col).alias("doc"), F.explode(ngrams).alias("token")
    )
    return out.distinct() if distinct else out


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups on the normalized-content fingerprint: one row
    per distinct content with the canonical (min) id and duplicate count."""
    fp = document_fingerprint(df, text_col, id_col)
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("canonical_id")
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = r"\n",
    join_sep: str = "\n",
) -> DataFrame:
    """Paragraph-level exact dedup across the corpus — the C4/CCNet-style
    boilerplate-removal pass: every paragraph (``sep``-split segment of
    ``text_col``) is kept only at its FIRST occurrence corpus-wide
    (global order: min (doc, paragraph index)); later copies — headers,
    footers, license blocks, navboxes — are stripped and each document
    is reassembled from its surviving paragraphs.

    Matching is on the normalized paragraph (lower, collapse whitespace,
    trim); empty segments are dropped. Output: one row per input
    document with ``n_paras`` (non-empty paragraphs in), ``n_kept``
    (survivors), and ``clean_text`` (survivors re-joined by
    ``join_sep`` in original order; '' when everything was boilerplate).

    Scale shape (100 TB): split+explode is map-only; the first-occurrence
    winner per paragraph is ``min(struct(doc, idx, para))`` under a
    groupBy on the md5 fingerprint — a partial-aggregatable min, so the
    one fingerprint shuffle carries pre-combined partials even for a
    boilerplate paragraph repeated in millions of documents (a window
    ``row_number`` over the fingerprint would instead sort that entire
    skewed group). Reassembly is a per-doc groupBy over survivors only.
    """
    paras = (
        df.select(
            F.col(id_col).alias("doc"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("idx", "para"),
        )
        .withColumn(
            "_norm",
            F.trim(F.regexp_replace(F.lower(F.col("para")), r"\s+", " ")),
        )
        .filter(F.col("_norm") != "")
        .withColumn("_fp", F.md5(F.col("_norm")))
    )
    keepers = (
        paras.groupBy("_fp")
        .agg(F.min(F.struct("doc", "idx", "para")).alias("k"))
        .select(F.col("k.doc").alias("doc"), F.col("k.idx").alias("idx"), F.col("k.para").alias("para"))
    )
    totals = paras.groupBy("doc").agg(F.count(F.lit(1)).alias("n_paras"))
    kept = keepers.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "para"))),
                lambda s: s["para"],
            ),
            join_sep,
        ).alias("clean_text"),
    )
    return (
        totals.join(kept, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.col("n_paras").cast("bigint").alias("n_paras"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
        .orderBy(id_col)
    )


def _tokens_with_stats(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """The shared build relation of BOTH exact-Jaccard variants:
    ``(doc, token, n_tokens, df)`` from ONE tokenize pass — per-doc size
    and per-token document frequency attached with window counts (two
    key shuffles over the same relation) instead of recomputing the
    explode+distinct per side. The plain variant filters it on df; the
    prefix variant ranks it by (df, token). A caller running both
    variants over one corpus (a comparison harness, such as the
    crossover measurement recorded in SCALE.md) can persist this
    relation once and pass the same DataFrame through both code paths
    via Spark's cache — the plans reuse the InMemoryRelation
    automatically because both variants build on the identical object."""
    from pyspark.sql import Window

    toks = _tokens(df, text_col, id_col, n)
    # df via partial-agg + join-back instead of a window over
    # partitionBy(token): the window shuffles the FULL token relation by
    # token; the groupBy ships only per-token partial counts (distinct
    # tokens, map-side combined) and the join back broadcasts when the
    # vocabulary is small — and degrades to exactly the window's
    # by-token exchange when it isn't. n_tokens stays a window, but its
    # by-doc exchange is the same clustering the callers' rank window
    # needs, so Catalyst reuses ONE exchange for both (3 full shuffles
    # of the token relation -> 1, measured in the r14 plan diff).
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        toks.join(dfreq, "token")
        .withColumn("n_tokens", F.count(F.lit(1)).over(Window.partitionBy("doc")))
        .select("doc", "token", "n_tokens", "df")
    )


#: Token→id hash for the BIGINT-keyed fast path of the pair generators
#: (VERDICT r14 item 1). Module-level so tests can monkeypatch a
#: deliberately colliding hash (e.g. ``pmod(xxhash64(c), 16)``) to
#: exercise the collision audit and the exact string fallback.
_TOKEN_ID_EXPR = F.xxhash64


def _tokens_with_stats_hashed(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """The BIGINT-keyed twin of :func:`_tokens_with_stats`:
    ``(doc, tid, n_tokens, df, _collided)`` with ``tid =
    xxhash64(token)`` — the token STRING is dropped before any join, so
    the df join-back here and the candidate/verify joins downstream all
    shuffle, hash, and compare 8-byte keys instead of word-shingle
    strings (guide §2.3 "narrower types", §3: compact join keys;
    VERDICT r14 item 1 — the string keys were the last ~50 s-CPU join
    stage pair at sf0.1).

    Exactness is NOT assumed from the hash. ``_collided`` is true on
    every row of a tid carried by ≥2 distinct tokens anywhere in the
    corpus — detected as ``min(token) ≠ max(token)`` INSIDE the same
    per-tid aggregate that computes df (min/max partial-combine
    map-side, so the audit adds no pass and the shuffle carries two
    bounded string partials per tid per map task, not the token
    stream). Callers audit the materialized relation and fall back to
    the exact string-keyed path when any collision exists, so a 64-bit
    collision can only ever cost a recompute, never a wrong pair. df is
    per-tid, which equals per-token df exactly when the audit passes.
    """
    from pyspark.sql import Window

    toks = _tokens(df, text_col, id_col, n)
    hashed = toks.select(
        "doc", _TOKEN_ID_EXPR(F.col("token")).alias("tid"), "token"
    )
    by_tid = hashed.groupBy("tid").agg(
        F.count(F.lit(1)).alias("df"),
        (F.min("token") != F.max("token")).alias("_collided"),
    )
    return (
        hashed.select("doc", "tid")
        .join(by_tid, "tid")
        .withColumn(
            "n_tokens", F.count(F.lit(1)).over(Window.partitionBy("doc"))
        )
        .select("doc", "tid", "n_tokens", "df", "_collided")
    )


def _audited(persisted: DataFrame) -> bool:
    """Run the collision audit on a persisted hashed-stats relation.
    The ``isEmpty`` action doubles as the cache warm-up — the first
    consumer was going to materialize the persist anyway, so a clean
    audit costs no extra pass. On a collision (false) the cache is
    released; the caller falls back to the exact string path."""
    clean = persisted.filter(F.col("_collided")).isEmpty()
    if not clean:
        persisted.unpersist()
    return clean


def _hashed_stats(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> tuple[DataFrame, bool]:
    """Persisted bigint-keyed token stats + audit verdict, for the
    PLAIN pair generators' materialize fast path. Persisted BEFORE the
    df-cap filter: the audit must see every token (a collision merges
    two tokens' df and could move either across the cap), and the zipf
    exhibits run with the cap disabled anyway."""
    stats = _tokens_with_stats_hashed(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return stats, _audited(stats)


def _hashed_ranked(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> tuple[DataFrame, bool]:
    """Persisted ``(doc, tid, n_tokens, df, rk)`` relation + audit
    verdict for the PREFIX pair generators' materialize fast path. The
    rarity rank orders by ``(df, tid)`` — a valid GLOBAL total order on
    tokens exactly when the audit passes (tid is then injective on the
    corpus vocabulary), which is all prefix filtering needs: candidate
    sets under different total orders differ, but each is a superset of
    the true pairs (the pigeonhole/positional lemmas are order-agnostic)
    and the exact verify makes the emitted output identical."""
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("doc").orderBy(F.col("df").asc(), F.col("tid").asc())
    )
    ranked = (
        _tokens_with_stats_hashed(df, text_col, id_col, n)
        .withColumn("rk", rk)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return ranked, _audited(ranked)


#: Half-ulp of the engine-wide 6-decimal emit rounding: pair generators
#: FILTER on round(ratio, 6) ≥ t, so candidate-generation bounds widen
#: by this much to stay at least as permissive as the emit filter
#: (r6 review — lossless w.r.t. the rounded contract, not just exact t).
_EMIT_ROUND_HALF_ULP = 5e-7


def _finish_pairs(
    result: DataFrame, cached: list[DataFrame], materialize: bool
) -> DataFrame:
    """Shared tail for the self-join pair generators.

    ``materialize=False`` (default): the caller got a fully LAZY plan —
    no persist was taken, lineage and predicate pushdown are intact, and
    nothing mutates executor storage. The cost is that the self-join's
    build and probe sides recompute their shared input twice when the
    plan finally runs.

    ``materialize=True``: the build relation was persisted (input
    computed once); eagerly checkpoint the result (one executor-resident
    block per output pair, never driver-collected) and release the cache
    in ``finally`` so repeated calls in a long-lived session don't
    accumulate storage (ADVICE r02/r03)."""
    if not materialize:
        return result
    try:
        return result.localCheckpoint(eager=True)
    finally:
        for c in cached:
            c.unpersist()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.5,
    max_token_freq: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by exact word-shingle Jaccard similarity.

    **The default call path is LOSSLESS** (VERDICT r6 item 3): with
    ``max_token_freq=None`` this delegates to
    :func:`ngram_jaccard_pairs_prefix` — PPJoin-style prefix filtering,
    exact at any document-frequency distribution, the 100 TB-safe
    route. A new caller never silently loses recall.

    Passing an integer ``max_token_freq`` opts into the plain token
    self-join with document-frequency pruning: tokens appearing in more
    than that many docs are DROPPED (they generate O(freq²) candidate
    pairs while carrying almost no similarity signal — and their loss
    is therefore a deliberate, caller-owned recall trade). This is the
    right escape hatch when df is known-bounded (the candidate count
    Σ df² is then small and the join avoids the prefix variant's
    per-candidate array verify) or as the exact VERIFIER on candidate
    pairs another stage generated. The recall loss under a truncating
    cap is pinned in test_llm_ops (stop-shingle test).

    ``materialize``: see ``_finish_pairs`` — False keeps the plan lazy
    (input tokenization runs twice, once per self-join side); True
    persists the pruned token relation, eagerly materializes the pair
    list, and releases the cache.
    """
    if max_token_freq is None:
        return ngram_jaccard_pairs_prefix(
            df, text_col, id_col, n, threshold, materialize
        )
    if materialize:
        # BIGINT fast path (VERDICT r14 item 1): self-join + pair counts
        # keyed on xxhash64(token), exact under the collision audit; a
        # collision falls through to the string path below. The persist
        # additionally keeps the self-join from computing its input
        # twice (build and probe share no exchange).
        stats, clean = _hashed_stats(df, text_col, id_col, n)
        if clean:
            rare = stats.filter(F.col("df") <= max_token_freq).select(
                "doc", "tid", "n_tokens"
            )
            return _finish_pairs(
                _plain_jaccard_pairs(rare, "tid", threshold), [stats], True
            )
    toks = _tokens_with_stats(df, text_col, id_col, n)
    # The DF-pruning filter never broadcasts the token table — the
    # vocabulary grows with the corpus and is unbounded at 100 TB.
    rare = toks.filter(F.col("df") <= max_token_freq).select("doc", "token", "n_tokens")

    if materialize:
        # self-join on token: persist the pruned token relation first — a
        # self-join otherwise COMPUTES ITS INPUT TWICE (the broadcast/build
        # side and the probe side share no exchange), which doubles the
        # tokenize + window work. Disk-backed, LRU-evicted.
        rare = rare.persist(StorageLevel.MEMORY_AND_DISK)
    result = _plain_jaccard_pairs(rare, "token", threshold)
    return _finish_pairs(result, [rare], materialize)


def _plain_jaccard_pairs(
    rare: DataFrame, key: str, threshold: float
) -> DataFrame:
    """Shared plain-variant body: token self-join + pair-count Jaccard
    over a ``(doc, <key>, n_tokens)`` relation. ``key`` is ``token``
    (exact strings) or ``tid`` (audited bigint ids — identical output,
    8-byte join keys)."""
    a = rare.alias("a")
    b = rare.alias("b")
    inter = (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("a.n_tokens").alias("size_a"),
            F.first("b.n_tokens").alias("size_b"),
        )
    )
    jacc = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        inter.select(
            "doc_a",
            "doc_b",
            F.round(jacc, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_token_freq: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT:
    ``C(A⊆B) = |A∩B| / |A|``. Jaccard misses the subdocument case —
    a page quoted wholesale inside a much larger page has
    ``J = |A|/|B| ≈ 0`` but ``C(A⊆B) = 1`` — and containment is the
    standard signal for quote/subset/wrapper detection in corpus
    curation (Broder's resemblance vs containment distinction).

    Emits each unordered pair once with BOTH directions
    (``containment_a`` = fraction of A's shingles found in B,
    ``containment_b`` symmetric) when either direction reaches
    ``threshold``; ``jaccard`` rides along for context.

    **The default call path is LOSSLESS** (VERDICT r6 item 3): with
    ``max_token_freq=None`` this delegates to
    :func:`ngram_containment_pairs_prefix` — asymmetric prefix
    filtering, exact at any df distribution. An integer
    ``max_token_freq`` opts into the plain token self-join with
    df pruning (candidates ∝ Σ df², tokens over the cap dropped — a
    deliberate caller-owned recall trade, pinned by the stop-shingle
    test): right when df is known-bounded, or as the exact verifier
    on externally generated candidates.
    """
    if max_token_freq is None:
        return ngram_containment_pairs_prefix(
            df, text_col, id_col, n, threshold, materialize
        )
    if materialize:
        # BIGINT fast path — see ngram_jaccard_pairs; identical output
        # under the collision audit, string fallback otherwise.
        stats, clean = _hashed_stats(df, text_col, id_col, n)
        if clean:
            rare = stats.filter(F.col("df") <= max_token_freq).select(
                "doc", "tid", "n_tokens"
            )
            return _finish_pairs(
                _plain_containment_pairs(rare, "tid", threshold),
                [stats],
                True,
            )
    toks = _tokens_with_stats(df, text_col, id_col, n)
    rare = toks.filter(F.col("df") <= max_token_freq).select(
        "doc", "token", "n_tokens"
    )
    if materialize:
        rare = rare.persist(StorageLevel.MEMORY_AND_DISK)
    result = _plain_containment_pairs(rare, "token", threshold)
    return _finish_pairs(result, [rare], materialize)


def _plain_containment_pairs(
    rare: DataFrame, key: str, threshold: float
) -> DataFrame:
    """Shared plain-variant body: token self-join + bidirectional
    containment over a ``(doc, <key>, n_tokens)`` relation; ``key`` is
    ``token`` or the audited bigint ``tid`` (identical output)."""
    a, b = rare.alias("a"), rare.alias("b")
    inter = (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("a.n_tokens").alias("size_a"),
            F.first("b.n_tokens").alias("size_b"),
        )
    )
    c_a = F.round(F.col("n_common") / F.col("size_a"), 6)
    c_b = F.round(F.col("n_common") / F.col("size_b"), 6)
    jacc = F.round(
        F.col("n_common")
        / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        6,
    )
    return (
        inter.select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
            jacc.alias("jaccard"),
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .orderBy("doc_a", "doc_b")
    )


def _join_verify(
    cands: DataFrame, ranked: DataFrame, key: str = "token"
) -> DataFrame:
    """Exact (n_common, size_a, size_b) per candidate pair via equi-joins
    on the DISTINCT (doc, token) relation — the shared verify tail of
    both prefix-filtered pair generators. ``n_common`` counts tokens
    present in both docs; sizes come from a per-doc aggregate. Every
    join is an equi-join (token/doc keys, never cartesian — the family
    plan audit covers it), every row constant-size. ``key`` is
    ``token`` (exact strings) or ``tid`` (audited bigint ids — the
    audit guarantees tid-matches are exactly token-matches)."""
    ta = ranked.select(F.col("doc").alias("_da"), F.col(key).alias("_t"))
    tb = ranked.select(F.col("doc").alias("_db"), F.col(key).alias("_t"))
    common = (
        cands.join(ta, F.col("doc_a") == F.col("_da"))
        .join(tb, (F.col("doc_b") == F.col("_db")) & (ta["_t"] == tb["_t"]))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = ranked.groupBy("doc").agg(F.first("n_tokens").alias("n_tokens"))
    sa = sizes.select(F.col("doc").alias("_sa"), F.col("n_tokens").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("_sb"), F.col("n_tokens").alias("size_b"))
    return (
        common.join(sa, F.col("doc_a") == F.col("_sa"))
        .join(sb, F.col("doc_b") == F.col("_sb"))
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.5,
    materialize: bool = False,
) -> DataFrame:
    """Exact word-shingle Jaccard pairs via PREFIX FILTERING (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al. ICDE'08):
    same output relation as ``ngram_jaccard_pairs``, scale-safe candidate
    generation.

    Why: the plain token self-join generates Σ df² candidate pairs.
    Prefix filtering is LOSSLESS for Jaccard ≥ t: order each doc's
    tokens by ascending global document frequency (rarest first); two
    docs with Jaccard ≥ t MUST share a token inside each one's first
    ``|d| − ⌈t·|d|⌉ + 1`` tokens. Only prefix tokens join — frequent
    tokens sort to the END of every prefix order, so the df² head that
    blows up the plain join is pruned without the plain variant's lossy
    ``max_token_freq`` cap. A length filter (``t·|a| ≤ |b|``) prunes
    further inside the join condition.

    Verification is Catalyst-native: full token sets are collected to
    sorted arrays once, candidates join the two arrays, and the exact
    intersection is ``size(array_intersect(...))`` — no per-pair
    explosion.

    When to use which (measured, SCALE.md sf1 stress): on a ZIPFIAN df
    distribution (natural text) the prefix excludes the head tokens
    whose df² fan-out dominates, and this variant is both exact and
    cheaper. On a near-UNIFORM df distribution (the synthetic stress
    corpus: median shingle df ≈ 95, max 134 — no head to prune) the
    prefix still halves candidates (112M → 47M measured) but the
    per-candidate array verify costs more than the plain join's
    count aggregation, and the plain variant wins wall-clock. The
    decisive property at 100 TB is worst-case behavior: one df=10⁶
    stop-shingle costs the plain join 5·10¹¹ candidate rows (or silent
    recall loss under the cap); here it is simply never in a prefix.
    """
    from pyspark.sql import Window

    if materialize:
        # BIGINT fast path (VERDICT r14 item 1): the whole candidate +
        # verify pipeline keyed on xxhash64(token) under the collision
        # audit — exact, with the string path below as the fallback a
        # real collision would take (at 64 bits, never observed; the
        # forced-collision test exercises it).
        hranked, clean = _hashed_ranked(df, text_col, id_col, n)
        if clean:
            return _finish_pairs(
                _prefix_jaccard_pairs(hranked, "tid", threshold),
                [hranked],
                True,
            )
    toks = _tokens_with_stats(df, text_col, id_col, n)
    # global rarity order; (df, token) is a total order shared by all docs
    rk = F.row_number().over(
        Window.partitionBy("doc").orderBy(F.col("df").asc(), F.col("token").asc())
    )
    ranked = toks.withColumn("rk", rk)
    if materialize:
        # persist the RANKED relation (tokenize + all three window passes
        # paid once): the prefix filter, both self-join sides, and the
        # verify-set aggregation below all read this cache instead of
        # recomputing the window lineage per consumer (three reads here,
        # not two — the lazy default recomputes it per consumer).
        ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    result = _prefix_jaccard_pairs(ranked, "token", threshold)
    return _finish_pairs(result, [ranked], materialize)


def _prefix_jaccard_pairs(
    ranked: DataFrame, key: str, threshold: float
) -> DataFrame:
    """Shared prefix-variant body over a ``(doc, <key>, n_tokens, df,
    rk)`` relation; ``key`` is ``token`` (exact strings) or ``tid``
    (audited bigint ids — identical output, 8-byte join keys). See
    :func:`ngram_jaccard_pairs_prefix` for the algorithm."""
    # Candidate bounds use threshold MINUS the 6-dp rounding half-ulp
    # (r6 review): the emit filter accepts round(J, 6) ≥ t, so a pair at
    # J = t − 4e-7 that ROUNDS UP to t must still be generated — the
    # exact-t bound would prune it while the plain variant emits it.
    # The 1e-9 slack additionally guards exact-integer boundaries where
    # the FLOAT product rounds above the exact value (0.54·450 floats
    # to 243.000…03, ceil→244, shortening the prefix by one and
    # silently losing true pairs — earlier r6 review finding, covered
    # by the threshold-sweep property test).
    tc = threshold - _EMIT_ROUND_HALF_ULP
    prefix_len = (
        F.col("n_tokens")
        - F.ceil(F.lit(tc) * F.col("n_tokens") - F.lit(1e-9))
        + 1
    )
    prefix = ranked.filter(F.col("rk") <= prefix_len).select(
        "doc", key, "n_tokens", "rk"
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # POSITIONAL filter (PPJoin, Xiao et al. ICDE'08, lossless): J ≥ t
    # needs overlap α = ⌈t·(|a|+|b|)/(1+t)⌉; a candidate generated at
    # prefix positions (rkₐ, rk_b) can still reach at most
    # 1 + min(|a|−rkₐ, |b|−rk_b) shared tokens (everything after the
    # matching position, plus the match). Requiring ubound ≥ α prunes
    # candidates the plain prefix filter keeps — on EVERY df
    # distribution, since it uses positions, not frequencies. The 1e-9
    # slack keeps float rounding at exact-integer boundaries from
    # pruning a true pair; a kept-extra candidate is harmless (the
    # exact array_intersect verify follows).
    alpha = F.ceil(
        F.lit(tc / (1.0 + tc))
        * (F.col("a.n_tokens") + F.col("b.n_tokens"))
        - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("a.n_tokens") - F.col("a.rk"), F.col("b.n_tokens") - F.col("b.rk")
    )
    cands = (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc") < F.col("b.doc"))
            # length filter: |b| in [t·|a|, |a|/t] is necessary for J ≥ t;
            # the 1e-9 slack keeps a float product that rounds above the
            # exact integer boundary (0.54·450 → 243.000…03) from
            # excluding a true boundary-sized pair
            & (
                F.col("b.n_tokens")
                >= F.lit(tc) * F.col("a.n_tokens") - F.lit(1e-9)
            )
            & (
                F.col("a.n_tokens")
                >= F.lit(tc) * F.col("b.n_tokens") - F.lit(1e-9)
            )
            & (ubound >= alpha),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # exact verify by EQUI-JOIN against the (distinct) token relation —
    # n_common(pair) = count of tokens present in both docs. Replaced
    # the r2 collect_set/array_intersect verify in r7: measured ~1.7×
    # faster on the uniform-df corpus (7.5 s → 4.5 s steady-state at
    # sf0.1, identical output), and the scale shape is strictly better —
    # no per-doc token ARRAY rows (a giant document made an array row of
    # megabytes; the join streams constant-size (pair, token) rows
    # through partial-aggregated counts).
    joined = _join_verify(cands, ranked, key)
    jacc = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    # the r02 always-eager checkpoint is now opt-in (ADVICE r03): lazy
    # callers keep composability + pushdown and pay the recompute instead
    return (
        joined.select("doc_a", "doc_b", F.round(jacc, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def ngram_containment_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    materialize: bool = False,
) -> DataFrame:
    """Exact shingle-CONTAINMENT pairs via ASYMMETRIC prefix filtering —
    same output relation as :func:`ngram_containment_pairs`, scale-safe
    and LOSSLESS candidate generation (VERDICT r5 item 2: the plain
    variant's Σ df² token self-join plus its lossy ``max_token_freq``
    cap was the one dedup operator without a 100 TB-safe exact route).

    Why the filter is asymmetric: "either direction reaches t" means
    ``max(C_a, C_b) = n_common / min(|A|,|B|) ≥ t`` — only the SMALLER
    document's size constrains the overlap, so only the smaller side
    needs a prefix. Order each doc's shingles by ascending global
    document frequency (rarest first); if ``|A∩B| ≥ ⌈t·|A|⌉`` with
    ``|A| ≤ |B|``, then by pigeonhole A and B must share a token inside
    A's first ``|A| − ⌈t·|A|⌉ + 1`` tokens (skipping the prefix leaves
    only ``⌈t·|A|⌉ − 1 < ⌈t·|A|⌉`` tokens to overlap on). The join is
    therefore prefix(smaller side) ⋈ FULL token list (larger side):
    a Zipf-head stop-shingle may have df = 10⁶ on the full side, but it
    sorts to the END of every rarity order and lands in almost no
    prefix, so its fan-out is (≈0 prefix occurrences) × df instead of
    the plain join's df². Candidates ∝ Σ_token prefix_df·df, not Σ df².
    There is no length filter (unlike Jaccard, B may be arbitrarily
    larger than A), but the PPJoin-style positional upper bound applies
    unchanged: a match at rarity ranks (rkₐ, rk_b) caps the total
    overlap at ``1 + min(|A|−rkₐ, |B|−rk_b)``, which must reach
    ``⌈t·|A|⌉`` (lossless: the bound holds at the pair's FIRST common
    token in global order; the 1e-9 slack guards exact-integer float
    boundaries, and an extra surviving candidate is harmless because
    the exact array_intersect verify follows).

    Verification and output are identical to the plain variant:
    ``(doc_a, doc_b, n_common, containment_a, containment_b, jaccard)``
    with ``doc_a < doc_b``, emitted when either containment ≥ t.

    Measured crossover vs the plain variant on a Zipfian corpus:
    recorded in SCALE.md.
    """
    from pyspark.sql import Window

    if materialize:
        # BIGINT fast path (VERDICT r14 item 1) — see the jaccard twin:
        # exact under the collision audit, string fallback otherwise.
        hranked, clean = _hashed_ranked(df, text_col, id_col, n)
        if clean:
            return _finish_pairs(
                _prefix_containment_pairs(hranked, "tid", threshold),
                [hranked],
                True,
            )
    toks = _tokens_with_stats(df, text_col, id_col, n)
    rk = F.row_number().over(
        Window.partitionBy("doc").orderBy(F.col("df").asc(), F.col("token").asc())
    )
    ranked = toks.withColumn("rk", rk)
    if materialize:
        # one persist feeds the prefix side, the full side, and the
        # verify-set aggregation (tokenize + both window passes paid once)
        ranked = ranked.persist(StorageLevel.MEMORY_AND_DISK)
    result = _prefix_containment_pairs(ranked, "token", threshold)
    return _finish_pairs(result, [ranked], materialize)


def _prefix_containment_pairs(
    ranked: DataFrame, key: str, threshold: float
) -> DataFrame:
    """Shared asymmetric-prefix body over a ``(doc, <key>, n_tokens,
    df, rk)`` relation; ``key`` is ``token`` (exact strings) or ``tid``
    (audited bigint ids — identical output, 8-byte join keys). See
    :func:`ngram_containment_pairs_prefix` for the algorithm."""
    # Candidate bounds use threshold MINUS the 6-dp rounding half-ulp
    # (r6 review): the emit filter accepts round(C, 6) ≥ t, so a pair
    # whose exact overlap is ⌈t·|A|⌉ − 1 but whose ratio ROUNDS UP to t
    # must still be generated — with the exact-t bound it appears in
    # the plain variant's output but not here (reachable at ≥ ~2e6
    # distinct shingles per doc). prefix_len must be exactly
    # n − α + 1 with the SAME 1e-9 slack α uses below: without it a
    # float product that rounds above the exact integer (0.54·450 →
    # 243.000…03, ceil→244) shortens the prefix by one and silently
    # loses true pairs (earlier r6 review finding, pinned by the
    # threshold-sweep property test).
    tc = threshold - _EMIT_ROUND_HALF_ULP
    prefix_len = (
        F.col("n_tokens")
        - F.ceil(F.lit(tc) * F.col("n_tokens") - F.lit(1e-9))
        + 1
    )
    prefix = ranked.filter(F.col("rk") <= prefix_len).select(
        "doc", key, "n_tokens", "rk"
    )
    a = prefix.alias("a")  # the (potentially) contained, smaller side
    b = ranked.select("doc", key, "n_tokens", "rk").alias("b")  # full side
    alpha = F.ceil(F.lit(tc) * F.col("a.n_tokens") - F.lit(1e-9))
    ubound = 1 + F.least(
        F.col("a.n_tokens") - F.col("a.rk"), F.col("b.n_tokens") - F.col("b.rk")
    )
    smaller_first = (F.col("a.n_tokens") < F.col("b.n_tokens")) | (
        (F.col("a.n_tokens") == F.col("b.n_tokens"))
        & (F.col("a.doc") < F.col("b.doc"))
    )
    cands = (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & smaller_first
            & (ubound >= alpha),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
        )
        .distinct()
    )
    # join-based exact verify (r7, see _join_verify / the jaccard twin:
    # measured ~1.7× faster than the collect_set/array_intersect verify
    # on the uniform-df corpus, identical output, no per-doc array rows)
    joined = _join_verify(cands, ranked, key)
    c_a = F.round(F.col("n_common") / F.col("size_a"), 6)
    c_b = F.round(F.col("n_common") / F.col("size_b"), 6)
    jacc = F.round(
        F.col("n_common")
        / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        6,
    )
    return (
        joined.select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
            jacc.alias("jaccard"),
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .orderBy("doc_a", "doc_b")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document as one ``array<bigint>`` column
    ``sig``: min over shingles of (aᵢ·h(shingle) + bᵢ) mod p for each of
    ``num_hashes`` permutations. One explode + one groupBy with k
    min-aggregates — fully map-side combinable. Shingles are NOT
    deduplicated first: MIN is idempotent under duplicate tokens, so the
    distinct's (doc, token) shuffle would be pure cost."""
    toks = _tokens(df, text_col, id_col, n=shingle_n, distinct=False)
    # base hash reduced mod p so a·h stays within 63 bits (ANSI-safe);
    # materialized ONCE as a column so the k permutation aggregates share
    # it instead of each re-hashing the shingle string
    toks = toks.select("doc", F.pmod(_h60(F.col("token")), F.lit(_P)).alias("_h"))
    # ONE parsed expr string per permutation aggregate (r14, guide §4 —
    # the simhash/lit_doubles lesson): the Column-builder form issued
    # ~450 py4j round trips (~1.0 s of driver time per call); `{a}L`
    # literals are the same LongType constants, pmod/min verbatim.
    aggs = [
        F.expr(f"min(pmod(_h * {a}L + {b}L, {_P}L))").alias(f"mh_{i}")
        for i, (a, b) in enumerate(_perm_constants(num_hashes))
    ]
    wide = toks.groupBy(F.col("doc")).agg(*aggs)
    return wide.select(
        "doc",
        F.expr(
            f"array({','.join(f'mh_{i}' for i in range(num_hashes))})"
        ).alias("sig"),
    )


def _banded(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, sig, band, band_sig) from a signature relation: band sigs
    are xxhash64 of (band index, signature slice), all bands in ONE
    posexplode pass. Folding the band INDEX into the hash makes
    ``band_sig`` alone the complete LSH bucket key — candidate joins
    need a single join key, which (a) simplifies every plan and (b)
    lets a stored index bucketed on ``band_sig`` join future batches
    with zero index-side exchange (Spark's bucketed-join optimization
    engages only when the join keys equal the bucket column —
    test_planner pins this)."""
    r = num_hashes // bands
    band_sigs = F.array(
        *[
            F.xxhash64(F.lit(band), F.slice("sig", band * r + 1, r))
            for band in range(bands)
        ]
    )
    return sig.select("doc", "sig", F.posexplode(band_sigs).alias("band", "band_sig"))


def _minhash_estimate(num_hashes: int) -> "F.Column":
    return F.aggregate(
        F.zip_with("a.sig", "b.sig", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(num_hashes))


def minhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    materialize: bool = False,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with estimated Jaccard.

    Bands of r = num_hashes/bands rows; a pair becomes a candidate when any
    band signature matches; the estimate is the fraction of agreeing
    minhashes over the full signature.

    Plan shape (scale rationale): banding is ONE ``posexplode`` pass over
    the signature relation (not a bands-way union), and the full signature
    array travels through the band join so the Jaccard estimate is computed
    in-join — no distinct + two back-joins. Cost: the candidate shuffle
    carries 8·num_hashes bytes per (doc, band) row; in exchange the whole
    pipeline is two shuffles (band join, pair dedup) after the signature
    aggregation. For corpora where the signature payload dominates the
    shuffle, the alternative (shuffle band keys only, re-join signatures)
    trades bandwidth for two extra shuffles.
    """
    assert num_hashes % bands == 0
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    banded = _banded(sig, num_hashes, bands)

    if materialize:
        # persist: the banded signature relation IS the LSH index — without
        # it the self-join computes tokenize+md5+64 min-aggregates twice
        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = banded.alias("a"), banded.alias("b")
    result = (
        a.join(
            b,
            # band_sig embeds the band index (_banded): one join key
            (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.round(_minhash_estimate(num_hashes), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )
    return _finish_pairs(result, [banded], materialize)


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """The storable LSH index for incremental ingest: the banded
    signature relation ``(doc, sig, band, band_sig)``. Write it once
    with the corpus (parquet, ideally bucketed/partitioned on
    ``band_sig``), APPEND each accepted batch's index rows, and dedup
    every future batch against it via
    ``minhash_dup_pairs_between(..., left_is_index=True)`` — the raw
    existing text is never re-read or re-hashed. Roundtrip equivalence
    is pinned in test_llm_ops."""
    return _banded(
        minhash_signatures(df, text_col, id_col, num_hashes, shingle_n),
        num_hashes,
        bands,
    )


def minhash_dup_pairs_between(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    materialize: bool = False,
    left_is_index: bool = False,
) -> DataFrame:
    """Cross-corpus MinHash+LSH near-duplicate pairs: every (left, right)
    pair whose estimated Jaccard ≥ threshold — the incremental-ingest
    primitive (dedup a NEW crawl batch against the EXISTING training
    set) that the self-join variant can't express without paying the
    full existing-corpus self-join again.

    Same signatures, banding, and estimate as ``minhash_dup_pairs``; the
    join is left-banded × right-banded on (band, band_sig) with no
    ordering condition (the corpora are distinct id spaces). At 100 TB
    the existing corpus's banded signatures are a precomputed,
    incrementally-appendable relation — build it with
    ``minhash_band_index``, store it once (plans/store), and pass the
    loaded relation here with ``left_is_index=True``: each new batch
    joins its own signatures against the index, touching the raw
    existing text never again.

    Returns (doc_a = left id, doc_b = right id, est_jaccard).
    """
    assert num_hashes % bands == 0
    banded_l = (
        left
        if left_is_index
        else minhash_band_index(left, text_col, id_col, num_hashes, bands, shingle_n)
    )
    banded_r = minhash_band_index(
        right, text_col, id_col, num_hashes, bands, shingle_n
    )
    if materialize:
        banded_l = banded_l.persist(StorageLevel.MEMORY_AND_DISK)
        banded_r = banded_r.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = banded_l.alias("a"), banded_r.alias("b")
    result = (
        a.join(
            b,
            # single bucket key (band index folded into band_sig) — a
            # stored index bucketed on band_sig joins with no
            # index-side exchange
            F.col("a.band_sig") == F.col("b.band_sig"),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.round(_minhash_estimate(num_hashes), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )
    return _finish_pairs(result, [banded_l, banded_r], materialize)


def dedup_corpus(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-dedup filter: keep one canonical row (min id) per distinct
    normalized content — the corpus-cleaning form of ``exact_dedup``.
    One shuffle on the fingerprint; payload columns ride along via
    min_by so no second join with the input is needed."""
    fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")).cast("binary")
    )
    with_fp = df.withColumn("_fp", fp)
    keep = [c for c in df.columns if c != id_col]
    return (
        with_fp.groupBy("_fp")
        .agg(
            F.min(id_col).alias(id_col),
            *[F.min_by(c, F.col(id_col)).alias(c) for c in keep],
        )
        .select(id_col, *keep)
    )


def dup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair list: assign every
    doc the MIN doc id of its duplicate cluster.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — each round is two
    groupBy shuffles over the CURRENT edge set and provably converges in
    O(log² n) rounds even on adversarial long-chain graphs (plain
    min-label propagation needs O(diameter) rounds). At the fixed point
    every component is a star centered on its minimum id, so the label
    read-off is one projection. Iteration stops when a round leaves the
    edge set unchanged; if ``max_iterations`` is exhausted first the
    function RAISES rather than silently returning partial clusters.
    Each round's output is ``localCheckpoint``-ed: lineage stays flat and
    the upstream pair generation (often a full LSH pipeline) runs once.

    ``pairs`` needs columns ``doc_a``/``doc_b``.
    """
    nodes = (
        pairs.select(F.col("doc_a").alias("doc"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical hi→lo orientation, self-pairs dropped
    e = (
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.greatest("doc_a", "doc_b").alias("hi"),
            F.least("doc_a", "doc_b").alias("lo"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        # large-star: every node u links its LARGER neighbors to
        # min(N(u) ∪ {u}) — processed from both edge directions
        both = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = (
            both.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        ls = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # small-star: every node links its smaller neighbors AND itself
        # to the minimum of those neighbors
        mins2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(mins2, "hi")
            .select(F.col("lo").alias("a"), F.col("m").alias("b"))
            .unionByName(mins2.select(F.col("hi").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("hi"), F.col("b").alias("lo"))
            .distinct()
        )
        new_e = ss.localCheckpoint(eager=True)
        # fixed point ⇔ same edge set: equal cardinality + empty anti-join
        if new_e.count() == e.count():
            novel = new_e.join(e, ["hi", "lo"], "left_anti").limit(1).count()
            if novel == 0:
                e = new_e
                converged = True
                break
        e = new_e
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge within {max_iterations} rounds; "
            "raise max_iterations (graph deeper than 2^rounds is pathological "
            "for near-dup data)"
        )
    # star read-off; groupBy(min) guards the (never-observed) case of a
    # node still holding two edges at the fixed point
    stars = e.groupBy("hi").agg(F.min("lo").alias("_c"))
    return (
        nodes.join(stars, nodes["doc"] == stars["hi"], "left")
        .select("doc", F.coalesce(F.col("_c"), F.col("doc")).alias("cluster_id"))
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash per document: sign of the per-bit sum of ±1 contributions
    from each distinct token's 60-bit md5-derived hash (bits 60–63 are
    constant zero for every token, so they carry no signal but also no
    noise — all four 16-bit LSH chunks still band correctly)."""
    toks = _tokens(df, text_col, id_col, n=1)
    # hash each token once; the 64 per-bit aggregates share the column
    toks = toks.select("doc", _h60(F.col("token")).alias("_h"))
    # ONE parsed expr string per aggregate/chunk (r14, guide §4 — the
    # lit_doubles lesson from the vector kernels): the Column-builder
    # form issued ~1000 py4j round trips and cost ~1.2 s of DRIVER time
    # per call; the parsed forms are the same expressions
    # (shiftright(h,i)&1 / if > 0 / shiftleft) verbatim.
    bit_sums = [
        F.expr(f"sum(if((shiftright(_h, {i}) & 1) = 1, 1, -1))").alias(
            f"bit_{i}"
        )
        for i in range(64)
    ]
    agg = toks.groupBy("doc").agg(*bit_sums)
    # reassemble as four 16-bit chunks (used directly for LSH banding;
    # avoids signed-overflow on bit 63)
    chunks = [
        F.expr(
            " + ".join(
                f"shiftleft(if(bit_{c * 16 + j} > 0, 1L, 0L), {j})"
                for j in range(16)
            )
        ).alias(f"chunk_{c}")
        for c in range(4)
    ]
    return agg.select("doc", *chunks)


def simhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    materialize: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: candidates share at least one of the
    four 16-bit chunks (pigeonhole: any pair within Hamming distance 3 must
    agree on a full chunk), then exact Hamming distance filters."""
    # Single posexplode pass for banding; the 4 chunks (32 bytes) travel
    # through the band join so Hamming distance is computed in-join —
    # two shuffles total instead of union + distinct + two back-joins.
    sig = simhash_signatures(df, text_col, id_col)
    # composite bucket key: chunk values are 16-bit, so band*2^16 + value
    # is exact (no hashing) and makes band_key ALONE the complete LSH
    # bucket key — one join key, and a stored simhash index bucketed on
    # band_key joins with zero index-side exchange, same mechanics as
    # the MinHash band index (test_planner)
    chunks = F.array(*[F.col(f"chunk_{c}") for c in range(4)])
    band_keys = F.array(
        *[
            (F.lit(c * 65536).cast("bigint") + F.col(f"chunk_{c}"))
            for c in range(4)
        ]
    )
    banded = sig.select(
        "doc", chunks.alias("chunks"), F.posexplode(band_keys).alias("band", "band_key")
    )

    if materialize:
        banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = banded.alias("a"), banded.alias("b")
    hamming = sum(
        F.bit_count(
            F.col("a.chunks").getItem(c).bitwiseXOR(F.col("b.chunks").getItem(c))
        )
        for c in range(4)
    )
    result = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            hamming.cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )
    return _finish_pairs(result, [banded], materialize)


def source_overlap_matrix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Pairwise content-overlap matrix between groups: exact Jaccard of
    each pair's word-``n``-gram shingle SETS — the content-sharing
    complement of ``text.source_token_divergence`` (KL compares
    distribution SHAPES; this measures literal shared text: mirror
    sites, syndication, cross-posting between sources) and the
    corpus-level rollup of the per-document pair operators above.

    Output: one row per unordered group pair (``group_a < group_b``)
    with both set sizes, the shared-shingle count, and
    ``jaccard = shared / (n_a + n_b − shared)`` — including zero rows
    for non-overlapping pairs, so the matrix is complete. Groups with a
    NULL key are excluded (a "source unknown" row in a provenance
    matrix is noise; filter upstream to include it deliberately).

    Scale shape: the shingle relation collapses to DISTINCT
    (group, shingle) — vocabulary-×-groups-sized, reached through one
    partial-agg pass over the token stream. Intersections come from an
    EQUI self-join on the shingle (shared-mass-bounded, the Σ df²-style
    candidate contract with df ≤ #groups per shingle — at most
    groups²/2 pairs per shingle, and #groups is small by definition of
    a source taxonomy). The completing pair frame is the
    #groups-sized size relation joined with itself — groups², never
    data². All-integer until the final division.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    base = df.filter(F.col(group_col).isNotNull())
    sh = _tokens(base, text_col, group_col, n=n, distinct=True)
    sizes = sh.groupBy(F.col("doc").alias("grp")).agg(
        F.count(F.lit(1)).alias("n_sh")
    )
    a = sh.select(F.col("doc").alias("grp_a"), "token")
    b = sh.select(F.col("doc").alias("grp_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("grp").alias("grp_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("grp").alias("grp_b"), F.col("n_sh").alias("n_b"))
    shared = F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint")
    return (
        sa.join(sb, F.col("grp_a") < F.col("grp_b"))
        .join(inter, ["grp_a", "grp_b"], "left")
        .select(
            F.col("grp_a").alias("source_a"),
            F.col("grp_b").alias("source_b"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            shared.alias("n_shared"),
            F.round(
                shared / (F.col("n_a") + F.col("n_b") - shared), 6
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )
