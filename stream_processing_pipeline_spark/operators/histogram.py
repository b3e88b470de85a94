"""Mergeable fixed-width histograms: sort-free quantiles at corpus scale.

The exact-percentile queries (``value_percentiles_by_type``) sort or
re-scan per group; at 100 TB the standard alternative is a mergeable
distribution sketch. This module is the *exactly-verifiable* version of
that idea: a fixed-width histogram over integer cents is a deterministic
function of each row, so

- building it is ONE map-side-combinable aggregation (``(group, bin) ->
  count`` — partial aggregation does almost all the work before the
  shuffle, and the shuffle carries at most ``groups x bins`` rows no
  matter how many input rows there are);
- merging histograms (day -> month, shard -> corpus, stream checkpoint ->
  dashboard) is ``sum(n)`` by bin — associative and re-aggregatable like an
  HLL sketch, but with nothing approximate hidden inside: the merged
  histogram is bit-identical to one built from the raw union, which is what
  lets DuckDB verify the whole pipeline value-by-value;
- quantile *estimates* read off the cumulative counts with a fixed,
  portable rule (upper edge of the first bin whose cumulative count reaches
  ``ceil(q * total)``), so the only approximation — bin resolution — is an
  explicit, stated constant, not an opaque sketch parameter.

Bin arithmetic is integer-exact end to end: values quantize to cents
(``round(x * 100)`` — the money-kernel rule), bins are ``cents // width``.
The Spark side computes the floor-division as ``floor(cents / width)`` in
doubles, which is exact here: cents are integer-valued doubles far below
2^53 and the quotient's distance from any wrong integer is >= 1/width,
orders of magnitude above one ulp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "value_histogram",
    "merge_histograms",
    "histogram_quantiles",
    "hist_bin_sql",
]

DEFAULT_WIDTH_CENTS = 500  # $5 bins


def _bin_col(value_col: Column | str, width_cents: int) -> Column:
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    cents = F.round(c.cast("double") * 100.0)  # integer-valued double
    return F.floor(cents / F.lit(float(width_cents))).cast("long")


def hist_bin_sql(value_expr: str, width_cents: int = DEFAULT_WIDTH_CENTS) -> str:
    """DuckDB twin of the bin id. ``floor`` of the float quotient, NOT
    integer ``//``: DuckDB's ``//`` truncates toward zero, which diverges
    from Spark's ``floor`` on negative values (-1.5 -> -1 vs -2). The float
    division is exact for the same reason as the Spark side (integer-valued
    operands below 2^53, quotient >= 1/width away from any wrong
    integer)."""
    return (
        f"CAST(floor(CAST(round({value_expr} * 100) AS BIGINT)"
        f" / {float(width_cents)}) AS BIGINT)"
    )


def value_histogram(
    df: DataFrame,
    value_col: str = "value",
    group_cols: list[str] | None = None,
    width_cents: int = DEFAULT_WIDTH_CENTS,
) -> DataFrame:
    """Per-group fixed-width histogram: ``(*group_cols, bin, n)`` rows.

    One aggregation pass; partial (map-side) combine collapses each input
    partition to at most ``groups x bins`` rows before anything shuffles.
    """
    groups = group_cols or []
    return (
        df.select(*groups, _bin_col(value_col, width_cents).alias("bin"))
        .groupBy(*groups, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_histograms(hist: DataFrame, group_cols: list[str]) -> DataFrame:
    """Re-aggregate histogram rows to a coarser grouping (drop dimensions):
    ``sum(n)`` by (remaining groups, bin). Associative — day histograms
    merge to months, shard histograms to the corpus, in any order."""
    return hist.groupBy(*group_cols, "bin").agg(F.sum("n").alias("n"))


def histogram_quantiles(
    hist: DataFrame,
    group_cols: list[str],
    q_pcts: tuple[int, ...] = (50, 90, 99),
    width_cents: int = DEFAULT_WIDTH_CENTS,
) -> DataFrame:
    """Quantile estimates from a (merged) histogram.

    Rule, fixed and portable: the estimate for quantile ``q`` is the upper
    edge (in dollars, last representable cent) of the first bin whose
    cumulative count reaches ``ceil(q * total / 100)``. Error is bounded by
    one bin width by construction. The whole computation touches only
    ``groups x bins`` rows — nothing rescans the data the histogram
    summarizes."""
    w = Window.partitionBy(*group_cols).orderBy("bin")
    wt = Window.partitionBy(*group_cols)
    cum = hist.select(
        *group_cols,
        "bin",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(wt).alias("total"),
    )
    upper_edge = ((F.col("bin") + 1) * width_cents - 1) / F.lit(100.0)
    thresholds = [
        ((F.col("total") * q + 99) / 100).cast("long").alias(f"_t{q}")
        for q in q_pcts
    ]
    cum = cum.select(*group_cols, "bin", "cum", "total", *thresholds)
    aggs = [
        F.min(
            F.when(F.col("cum") >= F.col(f"_t{q}"), upper_edge)
        ).alias(f"p{q}")
        for q in q_pcts
    ]
    return cum.groupBy(*group_cols).agg(
        F.max("total").alias("total_n"), *aggs
    )
