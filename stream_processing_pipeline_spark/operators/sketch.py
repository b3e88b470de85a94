"""Frequency sketches: Misra-Gries heavy hitters and Count-Min point
estimates (plus the Morton/z-order code helpers the layout queries share).

The sketch family's frequency members (alongside :mod:`.histogram` for
quantiles, :mod:`.bloom` for membership, and HLL for cardinality):
Misra-Gries finds every key whose global frequency is at least
``N / phi_den`` without ever shuffling the full key space; Count-Min
(:func:`cms_counters` / :func:`cms_estimate`) answers per-key frequency
point queries from a fixed ``depth x width`` counter grid that merges by
cell-wise addition.

Two phases, the standard production shape for 100 TB corpora:

1. **Candidates** (:func:`mg_candidates`): each input partition maintains a
   Misra-Gries summary of at most ``k`` counters in an Arrow-batched
   ``mapInPandas`` and emits them — at most ``k`` rows per partition plus
   one partition-total row, regardless of partition size or key
   cardinality. The batched eviction (subtract the (k+1)-th largest count
   from all counters, drop the non-positive) removes at least ``(k+1)·δ``
   total mass per δ-subtraction, so any key can lose at most ``n_p/(k+1)``
   of its partition count [Misra & Gries 1982; merged-summary bound per
   Agarwal et al., "Mergeable Summaries", PODS 2012]. Hence every key with
   global count ``> N/(k+1)`` survives in at least one partition: with
   ``k + 1 > phi_den`` the candidate set is a SUPERSET of the true heavy
   hitters — false negatives are impossible.
2. **Exact recount** (:func:`heavy_hitters_exact`): broadcast the candidate
   keys (≤ ``k × n_partitions`` rows by construction), left-semi join to
   drop every non-candidate row BEFORE the aggregation shuffle, count
   exactly, and keep keys with ``n · phi_den ≥ N`` (integer arithmetic, no
   division). False positives from phase 1 are eliminated here, so the
   result equals the plain exact-count query — the technique changes the
   physical plan only, which is what lets a DuckDB oracle verify it.

Phase-1 candidate sets depend on row order within partitions; the final
output does not (superset + exact filter = exact answer for any candidate
set that contains the truth).

The naive plan shuffles every distinct key to a reducer; this plan shuffles
only candidate-key rows (map-side combined) and moves the sketch — bounded
by ``k`` per partition — everywhere else.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import persist

__all__ = [
    "mg_candidates",
    "heavy_hitters_exact",
    "cms_counters",
    "cms_estimate",
    "cms_counters_sql",
    "cms_probe_rows_sql",
]

def mg_candidates(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries of the ``key_col`` frequencies.

    Returns ``(key string | NULL, n long)`` rows: for each input partition,
    at most ``k`` surviving counters (``key`` set, ``n`` = the counter's
    lower-bound value) plus exactly one total row (``key`` NULL, ``n`` =
    partition row count). Memory is O(k) per partition; the per-batch merge
    is a vectorized ``value_counts`` + Series add, never a Python row loop.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters = pd.Series(dtype="int64")
        total = 0
        for pdf in batches:
            vc = pdf[key_col].value_counts()
            total += int(vc.sum())
            counters = counters.add(vc, fill_value=0).astype("int64")
            if len(counters) > k:
                # Batched MG eviction: subtracting the (k+1)-th largest
                # value from every counter zeroes out at least |counters|-k
                # of them while removing >= (k+1)*delta total mass.
                delta = int(counters.nlargest(k + 1).iloc[-1])
                counters = counters - delta
                counters = counters[counters > 0]
        out = pd.DataFrame(
            {"key": counters.index.astype(str), "n": counters.to_numpy("int64")}
        )
        # NULL-keyed row = the partition total (lets phase 2 learn N from
        # this same scan instead of a third pass over the data).
        total_row = pd.DataFrame({"key": [None], "n": [total]})
        yield pd.concat([out, total_row], ignore_index=True)

    narrow = df.select(F.col(key_col).cast("string").alias(key_col))
    return narrow.mapInPandas(summarize, "key string, n long")


def heavy_hitters_exact(
    df: DataFrame,
    key_col: str,
    phi_den: int,
    k: int | None = None,
    out_key: str | None = None,
) -> DataFrame:
    """Exact keys with global frequency ``>= N / phi_den``, sketch-pruned.

    ``k`` defaults to ``2 * phi_den`` counters (the no-false-negative bound
    needs only ``k + 1 > phi_den``; the factor 2 halves phase-1 noise for
    free — candidates stay tiny either way). Output: ``(key, n)`` with
    ``n`` the exact count, equal to the naive full-aggregation query.
    """
    k = 2 * phi_den if k is None else k
    if k + 1 <= phi_den:
        raise ValueError(
            f"k={k} breaks the superset guarantee for phi_den={phi_den}: "
            "need k + 1 > phi_den"
        )
    out_key = out_key or key_col
    # Both phase-2 consumers (candidate keys, partition totals) read the
    # summaries; persisting the <= (k+1) x n_partitions rows keeps the
    # sketch pass to ONE scan instead of one per consumer. Bounded by
    # construction.
    summaries = persist(mg_candidates(df, key_col, k))
    candidates = (
        summaries.filter(F.col("key").isNotNull()).select("key").distinct()
    )
    totals = summaries.filter(F.col("key").isNull()).agg(
        F.sum("n").alias("_N")
    )
    keyed = df.select(F.col(key_col).cast("string").alias("key"))
    exact = (
        keyed.join(F.broadcast(candidates), "key", "left_semi")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.join(F.broadcast(totals))
        .filter(F.col("n") * phi_den >= F.col("_N"))
        .select(F.col("key").alias(out_key), "n")
    )


# --------------------------------------------------------- Count-Min sketch

def cms_counters(
    df: DataFrame, key_col: str, depth: int, width: int, salt: str = "cms"
) -> DataFrame:
    """Count-Min sketch of the ``key_col`` frequencies: ``depth`` hash rows
    of ``width`` counters each [Cormode & Muthukrishnan 2005].

    Returns ``(row int, bucket int, n long)`` — at most ``depth * width``
    rows TOTAL, independent of input size or key cardinality. Each input row
    increments one counter per hash row; the bucket ids come from the
    engine-portable :func:`..functions.hashing.stable_bucket` with a per-row
    salt, so an independent SQL engine rebuilds the identical sketch
    (:func:`cms_counters_sql`).

    Physical shape: one ``posexplode`` over a ``depth``-element int array
    (all hashing inside whole-stage codegen), then a map-side-combined
    aggregation whose shuffle carries at most ``depth * width`` partial
    rows PER TASK — the sketch, not the key space. Sketches over disjoint
    row sets merge by cell-wise addition (the groupBy is exactly that
    merge), which is what makes CMS the 100 TB path for frequency: build
    per-shard, add, point-query for free, where the exact per-key count of
    a billion-key column shuffles the full key space.
    """
    from ..functions.hashing import stable_bucket

    if depth < 1 or width < 1:
        raise ValueError(f"need depth >= 1 and width >= 1, got {depth}x{width}")
    buckets = F.array(
        *[stable_bucket(key_col, width, salt=f"{salt}{r}") for r in range(depth)]
    )
    return (
        df.select(F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(
    counters: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int,
    width: int,
    salt: str = "cms",
) -> DataFrame:
    """Point-query the sketch: for each row of ``keys``, the CMS frequency
    estimate ``min over hash rows of counter[row][bucket_row(key)]``.

    Guarantees ``estimate >= true count`` always (each counter only ever
    adds mass), with overestimate bounded by ``e * N / width`` at
    probability ``1 - e^-depth`` — the classic CMS bound. Every probed
    cell exists in ``counters`` whenever the key occurs in the sketched
    input (the key's own occurrences incremented it), so the inner join
    sees exactly ``depth`` cells per such key.

    Other columns of ``keys`` ride through unchanged (grouped on). The
    probe side is ``depth * |keys|`` rows — broadcast it; the sketch side
    is at most ``depth * width`` rows. Neither depends on corpus size.
    """
    from ..functions.hashing import stable_bucket

    probe = keys.select(
        "*",
        F.posexplode(
            F.array(
                *[
                    stable_bucket(key_col, width, salt=f"{salt}{r}")
                    for r in range(depth)
                ]
            )
        ).alias("row", "bucket"),
    )
    others = [c for c in keys.columns]
    return (
        F.broadcast(probe)
        .join(counters, ["row", "bucket"])
        .groupBy(*others)
        .agg(F.min("n").alias("cms_n"))
    )


def cms_counters_sql(
    rel: str, key_expr: str, depth: int, width: int, salt: str = "cms"
) -> str:
    """DuckDB twin of :func:`cms_counters` over relation ``rel`` (cell-
    identical: same md5-derived bucket ids, same counts)."""
    from ..functions.hashing import stable_bucket_sql

    parts = [
        f"SELECT {r} AS row, {stable_bucket_sql(key_expr, width, salt=f'{salt}{r}')}"
        f" AS bucket, CAST(count(*) AS BIGINT) AS n FROM {rel} GROUP BY 2"
        for r in range(depth)
    ]
    return " UNION ALL ".join(parts)


def cms_probe_rows_sql(
    rel: str, key_expr: str, depth: int, width: int, salt: str = "cms"
) -> str:
    """DuckDB twin of the probe-side explode in :func:`cms_estimate`:
    ``rel``'s columns plus ``(row, bucket)`` per hash row."""
    from ..functions.hashing import stable_bucket_sql

    parts = [
        f"SELECT *, {r} AS row, "
        f"{stable_bucket_sql(key_expr, width, salt=f'{salt}{r}')} AS bucket "
        f"FROM {rel}"
        for r in range(depth)
    ]
    return " UNION ALL ".join(parts)


def morton_interleave(x: Column, y: Column, bits: int) -> Column:
    """Z-order (Morton) code: interleave the low ``bits`` bits of two
    non-negative ints, ``x`` in the even positions, ``y`` in the odd.

    Pure integer shift/mask arithmetic inside whole-stage codegen, exactly
    replayable in any SQL engine (:func:`morton_sql`). Sorting or range-
    partitioning a table by this code places rows that are close in BOTH
    dimensions into the same file, so parquet min/max footer stats prune
    2-D predicates — the layout trick behind Delta/Iceberg ``ZORDER BY``.
    """
    code = F.lit(0)
    for i in range(bits):
        code = (
            code.bitwiseOR(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return code


def morton_sql(x_expr: str, y_expr: str, bits: int) -> str:
    """DuckDB twin of :func:`morton_interleave` (same shift/mask algebra)."""
    parts = []
    for i in range(bits):
        parts.append(f"((({x_expr} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({y_expr} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(parts) + ")"
