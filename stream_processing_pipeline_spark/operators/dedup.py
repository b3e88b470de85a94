"""Deduplication operators for LLM training-data pipelines.

Five dedup families, each a different cost/recall point, all expressed with
built-in DataFrame ops (no UDFs — codegen end to end) and deterministic
md5-backed hashing so results verify against an independent SQL oracle:

- **exact** (:func:`exact_groups`): hash-groupBy on normalized text. One
  shuffle keyed by a 60-bit hash; at 100 TB this is the cheapest pass and
  removes the bulk of crawl duplicates.
- **MinHash + LSH** (:func:`minhash_table`, :func:`lsh_candidate_pairs`):
  word-shingle MinHash signatures banded into LSH buckets; candidate pairs
  come from a self-join on (band, band_hash) — the shuffle carries only
  (band_hash -> doc_id) pairs, never document text, and the join explodes
  only within buckets (skew-bounded by band width).
- **SimHash** (:func:`simhash`, :func:`simhash_pairs`): 16-bit near-dup
  signatures with pigeonhole blocking (two 8-bit halves: any pair at Hamming
  distance <=1 shares a half) — one narrow self-join on the half keys.
- **n-gram Jaccard** (:func:`jaccard_pairs`): exact set similarity over
  3-gram shingles for candidate pairs under a cheap blocking key; the
  verification stage after LSH, or standalone on small blocks.
- **embedding cosine** near-dup lives in :mod:`.similarity` (same vector
  kernels as search).

Scale notes: every family is a groupBy/self-join on a *derived compact key*
(hash, band hash, simhash half, block id) — document text never shuffles.
Blocking keys bound the quadratic pair explosion; band/bucket skew is handled
by AQE skew-join in batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60, h60_sql
from ..session import persist
from .text import normalize_text, tokens

__all__ = [
    "exact_groups",
    "shingles",
    "shingles_of_tokens",
    "shingles_sql",
    "token_hashes",
    "spread_small_scan",
    "shingle_key_of_token_hashes",
    "shingle_key",
    "shingle_key_of_tokens_sql",
    "poly_window_key_sql",
    "poly_fold_key_sql",
    "cdc_chunks",
    "minhash_table",
    "minhash_sql_exprs",
    "lsh_bands",
    "cap_posting_lists",
    "lsh_candidate_pairs",
    "lsh_candidate_pairs_capped",
    "simhash_table",
    "simhash_sql",
    "simhash_pairs",
    "jaccard_pairs",
]


# ------------------------------------------------------------------- exact

def exact_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups over normalized text.

    Returns one row per distinct content hash: ``text_hash``, ``n_docs``,
    ``keeper`` (smallest id — the canonical survivor).
    """
    return (
        df.select(F.col(id_col), h60(normalize_text(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper"))
    )


# --------------------------------------------------------------- shingles

def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of normalized text; short docs (<n words) fall
    back to a single whole-text shingle.

    Built as ``zip_with`` over shifted slices of the token array, NOT as a
    ``transform(sequence, i -> element_at(toks, i+j))`` — in the latter the
    lambda re-evaluates the whole normalize+tokenize subtree per element
    (O(len^2) per document; observed 30s for 5000 docs vs <2s this way).
    zip_with pads the shorter side with nulls; the final slice trims those
    padded tail entries.

    The token array itself is bound ONCE as a lambda variable
    (``element_at(transform(array(toks), t -> grams(t)), 1)``): the
    normalize+tokenize subtree appears ~2n times in the gram expression
    (base, shifted slices, sizes, fallback), and whole-stage codegen's
    common-subexpression elimination does not cover higher-order-function
    arguments — inlining ``toks`` re-ran the regex normalizer per
    occurrence (measured 3x slower at sf0.1: 1.86s vs 0.61s for the
    4-gram explode). The fallback rebuilds normalized text as
    ``array_join(t, ' ')``, an exact inverse of the single-space split.
    """
    return shingles_of_tokens(tokens(normalize_text(col)), n)


def shingles_of_tokens(toks: Column, n: int = 3) -> Column:
    """:func:`shingles` over an ALREADY-tokenized column (the array
    :func:`..operators.text.tokens` produces). Compositions that persist a
    shared normalize->tokenize base (e.g. ``source_curation_report``) call
    this directly so the shingle build reads the cached token arrays
    instead of re-running the regex normalizer over raw text."""

    def _grams(t: Column) -> Column:
        sz = F.size(t)
        grams = t
        for j in range(1, n):
            shifted = F.slice(t, j + 1, F.greatest(sz - j, F.lit(0)))
            grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
        grams = F.slice(grams, 1, F.greatest(sz - (n - 1), F.lit(0)))
        return F.when(sz >= n, grams).otherwise(F.array(F.array_join(t, " ")))

    return F.element_at(F.transform(F.array(toks), _grams), 1)


def token_hashes(toks: Column) -> Column:
    """h60 of each token — the ONE md5 pass the polynomial shingle fast
    path performs (each token hashed once, vs the legacy path's md5 over a
    freshly-concatenated n-token string PER WINDOW OFFSET)."""
    return F.transform(toks, h60)


def spread_small_scan(df: DataFrame, *cols: str) -> DataFrame:
    """Fan a narrow-split scan out to full parallelism BEFORE CPU-heavy
    per-row synthesis (tokenize / hash / window build).

    mapInArrow parallelism follows input file splits, and so does plain
    expression evaluation: the fixture corpus is ONE parquet file, so the
    tokenize+window stage of the substring/Jaccard family ran on 1-2 of 32
    cores (visible as ``(0 + 1) / 1`` stages; measured 4.8 -> 3.2 s median
    at sf0.1 for the substring query from this alone). The repartition
    moves the text once — but ONLY when the scan is actually starved: at
    the 100 TB design point the input has thousands of splits, the guard
    sees enough partitions, and this is a no-op, so production plans pay
    no extra text shuffle.

    The split estimate comes from ``df.inputFiles()`` (a catalog lookup on
    the analyzed plan), NOT ``df.rdd.getNumPartitions()`` — the RDD
    conversion forced a full physical-plan build per call and read the
    pre-AQE partition count (ADVICE r11). File count under-estimates
    splits for few-but-huge files (maxPartitionBytes would split them),
    which at worst repartitions a scan that was already parallel — the
    same one-off shuffle the guard exists to permit. Frames with no file
    lineage (in-plan synthesis) fall back to the RDD probe. Streaming
    frames are refused: a blocking repartition guard is meaningless there
    and ``inputFiles`` would throw deep in the plan instead of here."""
    if df.isStreaming:
        raise ValueError("spread_small_scan is a batch-scan guard; got a streaming DataFrame")
    sc = df.sparkSession.sparkContext
    try:
        splits = len(df.inputFiles()) or df.rdd.getNumPartitions()
    except Exception:
        splits = df.rdd.getNumPartitions()
    if splits < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism, *cols) if cols else df.repartition(sc.defaultParallelism)
    return df


# Dual 31-bit polynomial window keys (round 11, VERDICT r10 #5): combine
# the n token h60s of a window into one 62-bit key with two independent
# modular polynomial folds — acc' = (acc * B + th) % P, key = a * 2^31 + b.
# Every intermediate stays under 2^62 (acc < 2^31, B < 2^30, th < 2^60),
# so the arithmetic is plain int64 multiply/add/mod — exact and IDENTICAL
# in Spark and DuckDB by construction, fast in both (whole-stage codegen /
# vectorized BIGINT ops). The xxhash64 route was built first and its
# DuckDB twin proven bit-equal (functions.hashing.xxh64_longs_sql), but
# the UHUGEINT wraparound emulation measured ~100x slower ORACLE-side
# (269 s vs ~2 s at sf0.01 for the substring query) — the engine must not
# outrun its own verifier, so the family ships the polynomial key.
_POLY_P1 = 2147483647  # 2^31 - 1 (prime)
_POLY_P2 = 2147483629  # largest prime < P1
_POLY_B1 = 1000003
_POLY_B2 = 998244353


def _poly_key_cols(elems: list[Column]) -> Column:
    a = F.lit(0).cast("long")
    b = F.lit(0).cast("long")
    for e in elems:
        a = (a * _POLY_B1 + e) % _POLY_P1
        b = (b * _POLY_B2 + e) % _POLY_P2
    return a * F.lit(2147483648) + b


def shingle_key_of_token_hashes(ths: Column, n: int) -> Column:
    """All-offset n-token window keys over a token-HASH array: window i is
    the dual polynomial fold of ``ths[i..i+n-1]`` — a handful of int64
    mults inside whole-stage codegen, no string concat, no digest (the
    round-11 fast path for the exact-substring/Jaccard family; the DuckDB
    twin :func:`shingle_key_of_tokens_sql` is the same arithmetic). Short
    arrays (< n tokens) fall back to ONE whole-array fold — the hash-space
    analogue of the whole-text fallback shingle (empty array -> key 0).

    Same lambda-binding discipline as :func:`shingles_of_tokens`: ``ths``
    is bound once as a lambda variable so codegen never re-evaluates the
    producing subtree per element."""

    def _win(h: Column) -> Column:
        windows = F.transform(
            F.sequence(F.lit(1), F.size(h) - (n - 1)),
            lambda i: _poly_key_cols(
                [F.element_at(h, i + F.lit(j)) for j in range(n)]
            ),
        )
        fallback = F.array(_poly_fold_col(h))
        return F.when(F.size(h) >= n, windows).otherwise(fallback)

    return F.element_at(F.transform(F.array(ths), _win), 1)


def _poly_fold_col(h: Column) -> Column:
    """Whole-array dual polynomial fold (variable length) — the short-doc
    fallback key."""
    a = F.aggregate(
        h, F.lit(0).cast("long"), lambda acc, x: (acc * _POLY_B1 + x) % _POLY_P1
    )
    b = F.aggregate(
        h, F.lit(0).cast("long"), lambda acc, x: (acc * _POLY_B2 + x) % _POLY_P2
    )
    return a * F.lit(2147483648) + b


def shingle_key(col: Column | str, n: int = 3) -> Column:
    """:func:`shingle_key_of_token_hashes` from raw text: normalize,
    tokenize, hash each token once, window-combine."""
    return shingle_key_of_token_hashes(token_hashes(tokens(normalize_text(col))), n)


def shingles_sql(expr: str, n: int = 3) -> str:
    from .text import normalize_text_sql, tokens_sql

    norm = normalize_text_sql(expr)
    toks = tokens_sql(norm)
    joined = " || ' ' || ".join(f"__t[i + {j}]" for j in range(n))
    grams = (
        f"list_transform(range(1, len(__t) - {n - 2}), i -> {joined})"
    )
    return (
        f"(SELECT CASE WHEN len(__t) >= {n} THEN {grams} ELSE [{norm}] END "
        f"FROM (SELECT {toks} AS __t))"
    )


def poly_window_key_sql(h_expr: str, i_expr: str, n: int) -> str:
    """DuckDB twin of the fixed-width window key: dual polynomial fold of
    ``{h_expr}[{i_expr} .. {i_expr}+n-1]``, unrolled (plain BIGINT ops).
    Accumulators anchor as BIGINT so an INT32-typed input list cannot pull
    the arithmetic into 32-bit overflow (property-test finding)."""
    a, b = "CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)"
    for j in range(n):
        e = f"{h_expr}[{i_expr} + {j}]" if j else f"{h_expr}[{i_expr}]"
        a = f"(({a} * {_POLY_B1} + {e}) % {_POLY_P1})"
        b = f"(({b} * {_POLY_B2} + {e}) % {_POLY_P2})"
    return f"({a} * 2147483648 + {b})"


def poly_fold_key_sql(h_expr: str) -> str:
    """DuckDB twin of the variable-length fallback fold (empty -> 0)."""
    a = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {h_expr}), "
        f"(acc, x) -> (acc * {_POLY_B1} + x) % {_POLY_P1})"
    )
    b = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {h_expr}), "
        f"(acc, x) -> (acc * {_POLY_B2} + x) % {_POLY_P2})"
    )
    return f"({a} * 2147483648 + {b})"


def shingle_key_of_tokens_sql(toks_expr: str, n: int = 3) -> str:
    """DuckDB twin of :func:`shingle_key_of_token_hashes` over an
    already-split token-list expression (h60 per token inside)."""
    ths = f"list_transform({toks_expr}, __w -> {h60_sql('__w')})"
    windows = (
        f"list_transform(range(1, len(__h) - {n - 2}), "
        f"i -> {poly_window_key_sql('__h', 'i', n)})"
    )
    fallback = f"[{poly_fold_key_sql('__h')}]"
    return (
        f"(SELECT CASE WHEN len(__h) >= {n} THEN {windows} ELSE {fallback} END "
        f"FROM (SELECT {ths} AS __h))"
    )


# ----------------------------------------------- content-defined chunks

def cdc_chunks(col: Column | str, d: int = 16) -> Column:
    """Content-defined chunks of normalized text (array of chunk strings).

    A chunk boundary falls after any token whose md5-backed hash is
    ``0 mod d`` (expected chunk length ~d tokens), so the boundary
    decision depends only on LOCAL content: inserting or deleting a token
    re-chunks only the chunk it touches, and every other chunk survives
    byte-identical — the rsync/LBFS shift-robustness property that fixed-
    stride chunking lacks. Pure array expressions (filter / zip_with /
    slice) inside whole-stage codegen; the DuckDB twin lives in
    ``plans/dedupq._cdc_chunks_cte``."""
    toks = tokens(normalize_text(col))

    def _chunks(t: Column) -> Column:
        n = F.size(t)
        bnd = F.array_sort(
            F.array_union(
                F.filter(
                    F.sequence(F.lit(1), n),
                    lambda i: h60(F.element_at(t, i)) % d == 0,
                ),
                F.array(n),
            )
        )
        starts = F.concat(F.array(F.lit(0)), F.slice(bnd, 1, F.size(bnd) - 1))
        return F.zip_with(
            starts, bnd, lambda a, b: F.array_join(F.slice(t, a + 1, b - a), " ")
        )

    # bind the token array ONCE as a lambda variable (same CSE trick as
    # shingles(): higher-order-function args are not common-subexpression-
    # eliminated, and `toks` appears many times in the chunk expression)
    return F.element_at(F.transform(F.array(toks), _chunks), 1)


# ---------------------------------------------------------------- MinHash

_MERSENNE_P = 2147483647  # 2^31 - 1


def _minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a_j != 0, b_j) mod p,
    derived from the portable md5 hash so both engines share them."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        (h(f"a:{j}") % (_MERSENNE_P - 1) + 1, h(f"b:{j}") % _MERSENNE_P)
        for j in range(n_hashes)
    ]


def minhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    *,
    shingle_col: str | None = None,
) -> DataFrame:
    """Per-document MinHash signature as columns ``mh0..mh{n-1}``.

    Shape: explode shingles -> ONE md5 per shingle -> ``n_hashes`` affine
    universal hashes ``(a_j*h + b_j) mod p`` (p = 2^31-1; products stay
    within int64) -> per-seed ``min`` aggregation. Spark runs the mins
    map-side, so the shuffle carries one signature row per document.

    Two shapes deliberately avoided: packing n array-folds into one Project
    duplicates the tokenize subtree n times and blows up Catalyst
    analysis/codegen (observed: minutes for 500 docs); hashing each shingle
    n times with md5 made the hash the bottleneck (observed: 16x md5 cost
    dominated the sf0.1 run). The affine family needs one strong hash per
    shingle and pennies per extra signature dimension.

    ``shingle_col`` names a PRE-COMPUTED shingle-array column to explode
    instead of deriving shingles from ``text_col`` — the hook compositions
    use to share one normalize->tokenize->shingle pass across kernels.
    """
    sh = F.col(shingle_col) if shingle_col else shingles(F.col(text_col))
    ex = df.select(F.col(id_col), F.explode(sh).alias("s"))
    base = ex.select(F.col(id_col), (h60("s") % _MERSENNE_P).alias("h"))
    aggs = [
        F.min((F.col("h") * a + b) % _MERSENNE_P).alias(f"mh{j}")
        for j, (a, b) in enumerate(_minhash_coeffs(n_hashes))
    ]
    return base.groupBy(id_col).agg(*aggs)


def minhash_sql_exprs(shingles_expr: str, n_hashes: int = 16) -> list[str]:
    """DuckDB twins of :func:`minhash_table`'s per-seed min-hashes over a
    shingle-list column."""
    base = f"({h60_sql('s')} % {_MERSENNE_P})"
    out = []
    for j, (a, b) in enumerate(_minhash_coeffs(n_hashes)):
        out.append(
            f"list_min(list_transform({shingles_expr}, "
            f"s -> ({base} * {a} + {b}) % {_MERSENNE_P}))"
        )
    return out


def with_lsh_band_cols(
    sig_df: DataFrame,
    n_bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Append the per-band hash COLUMNS ``band0..band{n-1}`` to a
    :func:`minhash_table` result, keeping the signature columns. This is
    the persisted-index form: a streaming ingest that stores the wide row
    (id, mh*, band*) pays the band md5s once at write time instead of
    re-deriving them over the whole index on every probe."""
    band_cols = []
    for b in range(n_bands):
        concat = F.concat_ws(
            ",",
            *[
                F.col(f"mh{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        )
        band_cols.append(h60(concat).alias(f"band{b}"))
    return sig_df.select("*", *band_cols)


def band_rows(
    wide_df: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
) -> DataFrame:
    """Unpivot stored ``band0..band{n-1}`` columns into one
    (id, band_idx, band_hash) row per band — the join-ready form."""
    stack = ", ".join(f"{b}, band{b}" for b in range(n_bands))
    return wide_df.select(
        F.col(id_col),
        F.expr(f"stack({n_bands}, {stack}) AS (band_idx, band_hash)"),
    ).select(id_col, F.col("band_idx").cast("int").alias("band_idx"), "band_hash")


def lsh_bands(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band a :func:`minhash_table` result: one (id, band_idx, band_hash) row
    per band, via a stack (unpivot) of per-band hashes."""
    wide = with_lsh_band_cols(sig_df, n_bands, rows_per_band).select(
        F.col(id_col), *[f"band{b}" for b in range(n_bands)]
    )
    return band_rows(wide, id_col, n_bands)


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 4,
    *,
    shingle_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs (doc_a < doc_b, deduped).

    Plan shape: project (id, band_idx, band_hash) -> explode bands ->
    self-join on (band_idx, band_hash) -> distinct pairs. Only 16-byte rows
    shuffle; bucket sizes bound the join fan-out. ``shingle_col`` forwards
    to :func:`minhash_table` (pre-computed shingles).
    """
    rows_per_band = n_hashes // n_bands
    sig = minhash_table(df, text_col, id_col, n_hashes, shingle_col=shingle_col)
    banded = lsh_bands(sig, id_col, n_bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def cap_posting_lists(
    banded: DataFrame, cap: int = 64, id_col: str = "doc_id"
) -> DataFrame:
    """Hot-band guard: truncate every (band_idx, band_hash) posting list to
    its ``cap`` id-smallest members — DETERMINISTIC (id-ordered), so the
    capped pipeline stays oracle-able, unlike a sampled cap.

    Rationale (SCALING.md, measured round 2): a band bucket with thousands
    of members carries no *near*-dup information — its documents are exact
    or overwhelming duplicates, which the always-run-first exact pass
    already groups. On the planted 4,000-doc hot band the cap removed 97%
    of the join output and 4x the wall time (1.93 s vs 7.71 s; 227k pairs
    vs 8.2M). Recall trade: pairs BOTH of whose endpoints rank past ``cap``
    in every shared band are lost — on the driver fixtures the largest
    bucket is 4 docs, so the cap sacrifices zero pairs there; at scale the
    lost pairs are intra-mega-cluster links the exact/connected-components
    pass recovers. Window cost is bounded: each partition is one posting
    list, and the rank never exceeds the list length.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_hash").orderBy(id_col)
    return (
        banded.withColumn("rn_", F.row_number().over(w))
        .filter(F.col("rn_") <= cap)
        .drop("rn_")
    )


def lsh_candidate_pairs_capped(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 4,
    cap: int = 64,
    *,
    shingle_col: str | None = None,
) -> DataFrame:
    """:func:`lsh_candidate_pairs` with the :func:`cap_posting_lists`
    hot-band guard applied before the self-join — the production shape for
    corpora that plant mega-buckets (boilerplate pages, mirrored sites).
    Same output schema; at fixture scale (max bucket 4 < cap) the output is
    value-identical to the uncapped join."""
    rows_per_band = n_hashes // n_bands
    sig = minhash_table(df, text_col, id_col, n_hashes, shingle_col=shingle_col)
    banded = cap_posting_lists(
        lsh_bands(sig, id_col, n_bands, rows_per_band), cap, id_col
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


# ---------------------------------------------------------------- SimHash

def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Per-document SimHash: bit b is set iff the sum over tokens of
    (+1 / -1 by token-hash bit b) is positive.

    Explode + partial aggregation (one row per doc on the shuffle) — see
    :func:`minhash_table` for why the array-fold form is avoided."""
    ex = df.select(
        F.col(id_col),
        F.explode(F.transform(tokens(normalize_text(F.col(text_col))), h60)).alias("h"),
    )
    votes = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    out = F.lit(0)
    for b in range(bits):
        out = out + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return votes.select(F.col(id_col), out.cast("long").alias("simhash"))


def simhash_sql(hashes_expr: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`simhash`, over a precomputed token-hash list
    (compute the list once in a CTE: ``list_transform(tokens, w -> h60(w))``)."""
    parts = []
    for b in range(bits):
        vote = (
            f"list_sum(list_transform({hashes_expr}, "
            f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        parts.append(f"(CASE WHEN ({vote}) > 0 THEN {1 << b} ELSE 0 END)")
    return "CAST((" + " + ".join(parts) + ") AS BIGINT)"


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 1,
) -> DataFrame:
    """Near-duplicate pairs by SimHash with pigeonhole blocking.

    Splitting the 16-bit signature into two 8-bit halves guarantees any pair
    at Hamming distance <=1 agrees on at least one half — so the candidate
    join runs on the half keys (two narrow equi-joins) and the exact Hamming
    check (``bit_count(xor)``) filters after.
    """
    sh = simhash_table(df, text_col, id_col).withColumnRenamed("simhash", "sh")
    sh = sh.withColumn("hi", F.shiftright("sh", 8)).withColumn(
        "lo", F.col("sh").bitwiseAND(F.lit(255))
    )
    a, b = sh.alias("a"), sh.alias("b")
    pair_cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    block = (F.col("a.hi") == F.col("b.hi")) | (F.col("a.lo") == F.col("b.lo"))
    hamming = F.bit_count(
        F.col("a.sh").bitwiseXOR(F.col("b.sh"))
    )
    return (
        a.join(b, pair_cond & block)
        .filter(hamming <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )


# --------------------------------------------------------- n-gram Jaccard

def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
) -> DataFrame:
    """Exact 3-gram Jaccard >= threshold via an inverted-index similarity
    join (no quadratic pair enumeration).

    ``jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|)`` over distinct shingle
    sets. Shape: explode distinct shingle hashes -> self-join on the 8-byte
    shingle hash (only co-occurring shingles generate pair rows) -> count
    common shingles per pair -> join per-doc set sizes -> jaccard. Pairs
    sharing zero shingles never materialize — exactly the rows an all-pairs
    join wastes ~100% of its time on. At 100 TB, drop stop-shingles (df cap)
    to bound bucket fan-out; the fixture corpus needs no cap.

    Round 11 (VERDICT r10 #5): shingle identity is the dual polynomial
    window key over per-token h60s (:func:`shingle_key`) — one md5 per
    TOKEN instead of one md5 over a freshly-concatenated 3-token string
    per OFFSET, and no per-shingle string allocation at all.

    Round 12 (VERDICT r11 #6): per-doc set sizes RIDE THE POSTINGS
    (``n = size(sh)`` is known at explode time) and reduce with the pair
    counts (``max`` over a per-doc-constant), replacing the separate
    sizes aggregation plus TWO doc-grain joins — three exchanges gone
    from every consumer (the bm25 dl-rides-the-postings move). The
    candidate join stays a hash self-join rather than posting arrays:
    this operator is the EXACT (uncapped) kernel, and an uncapped
    collect_set on a hot shingle concentrates a quadratic bucket in one
    task, where the self-join spreads it and AQE can split skew.
    """
    from ..functions.rounding import pround

    base = spread_small_scan(df, id_col).select(
        F.col(id_col), F.array_distinct(shingle_key(F.col(text_col))).alias("sh")
    )
    # One materialized posting list feeds the self-join twice; without the
    # persist Spark recomputes the (regex-heavy) shingle pass per use.
    posting = persist(base.select(
        F.col(id_col),
        F.size("sh").cast("long").alias("n"),
        F.explode(F.col("sh")).alias("sh_hash"),
    ))
    a, b = posting.alias("a"), posting.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh_hash") == F.col("b.sh_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.max("a.n").alias("na"),
            F.max("b.n").alias("nb"),
        )
    )
    jac = pround(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 4)
    return common.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
