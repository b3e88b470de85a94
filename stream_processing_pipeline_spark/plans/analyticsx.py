"""Round-4 extension suite: robust statistics, time-series diagnostics,
sequential funnels, mixture weighting, sketch-accuracy audits, and
embedding fidelity.

Widens the engine past round 3 along axes the reference workload implies
but never reaches (SURVEY.md §2.5-2.6 names only plain windowed counts):
trimmed/winsorized robust aggregates, autocorrelation and CUSUM drift over
the daily series, a strictly-ordered conversion funnel, inter-purchase
interval quantiles, temperature-scaled mixture weights (the data-mixture
knob every LLM pretraining run tunes), a histogram-vs-exact quantile
calibration audit, exact-integer TF-IDF, per-source distribution shift,
and Matryoshka truncation fidelity over the embedding table.

House rules throughout: money/values through exact integer cents; ranks by
ceil-threshold integer arithmetic (``(q*m + 99) div 100``); the only float
ops are final ratios/sqrt on identical integer operands, pinned with
``pround`` in BOTH engines; day-grain windows are calendar-bounded, never
corpus-sized; no broadcast hints on sf-proportional sides (audit.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60, h60_sql
from ..functions.money import cents, cents_sql
from ..functions.rounding import pround, pround_sql
from ..operators.histogram import DEFAULT_WIDTH_CENTS
from ..operators.text import (
    normalize_text,
    normalize_text_sql,
    token_count,
    token_count_sql,
    tokens,
    tokens_sql,
)
from ..session import persist
from .common import catalog
from .registry import register

_CV = cents_sql("value")


# ------------------------------------------------------- robust statistics

@register(
    "trimmed_mean_value_by_type",
    oracle=f"""
    WITH c AS (
      SELECT event_type, event_id, {_CV} AS cv FROM events
    ),
    r AS (
      SELECT event_type, cv,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cv, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS m
      FROM c
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(cv) AS BIGINT) AS kept_sum_cents,
           CAST(sum(cv) AS BIGINT) // CAST(count(*) AS BIGINT)
             AS trimmed_mean_cents
    FROM r
    WHERE rn > m // 10 AND rn <= m - (m // 10)
    GROUP BY event_type
    """,
    tags=("batch", "robust-stats", "trimmed-mean"),
)
def trimmed_mean_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per event type: drop the lowest and highest decile
    by rank (ties broken by the unique event_id, so the kept set is
    deterministic), then an exact integer mean over the survivors — the
    robust location estimate that one outlier can't move, in the same
    central-rank recipe as :func:`..batch.value_mad_outliers`. Shape: one
    per-type sort window + one aggregate; at 100 TB the rank pass becomes
    the histogram path exactly as documented for the MAD query."""
    ev = catalog(spark, sf_dir).events
    w = Window.partitionBy("event_type").orderBy("cv", "event_id")
    wm = Window.partitionBy("event_type")
    r = ev.select(
        "event_type", "event_id", cents("value").alias("cv")
    ).select(
        "event_type",
        "cv",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wm).alias("m"),
    )
    kept = r.filter(
        (F.col("rn") > F.expr("m div 10"))
        & (F.col("rn") <= F.expr("m - (m div 10)"))
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("cv").alias("kept_sum_cents"),
        )
        .withColumn(
            "trimmed_mean_cents", F.expr("kept_sum_cents div n_kept")
        )
    )


@register(
    "value_winsorized_stats",
    oracle=f"""
    WITH c AS (
      SELECT event_type, event_id, {_CV} AS cv FROM events
    ),
    r AS (
      SELECT event_type, cv,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cv, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS m
      FROM c
    ),
    b AS (
      SELECT event_type, cv,
             max(CASE WHEN rn = (5 * m + 99) // 100 THEN cv END)
               OVER (PARTITION BY event_type) AS p05,
             max(CASE WHEN rn = (95 * m + 99) // 100 THEN cv END)
               OVER (PARTITION BY event_type) AS p95
      FROM r
    )
    SELECT event_type,
           CAST(max(p05) AS BIGINT) AS p05_cents,
           CAST(max(p95) AS BIGINT) AS p95_cents,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(least(greatest(cv, p05), p95)) AS BIGINT)
             AS winsorized_sum_cents
    FROM b GROUP BY event_type
    """,
    tags=("batch", "robust-stats", "winsorize"),
)
def value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized sums per event type: clamp every value into the exact
    [p05, p95] central-rank band, then aggregate — the tail-robust
    companion to the trimmed mean (values are capped, not dropped, so
    counts are preserved; the standard pre-step before fitting anything to
    heavy-tailed spend data). Both rank picks ride the SAME per-type sort
    window as the clamp pass — one exchange, two window frames."""
    ev = catalog(spark, sf_dir).events
    w = Window.partitionBy("event_type").orderBy("cv", "event_id")
    wm = Window.partitionBy("event_type")
    r = ev.select(
        "event_type", "event_id", cents("value").alias("cv")
    ).select(
        "event_type",
        "cv",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wm).alias("m"),
    )
    b = r.select(
        "event_type",
        "cv",
        F.max(
            F.when(F.col("rn") == F.expr("(5 * m + 99) div 100"), F.col("cv"))
        ).over(wm).alias("p05"),
        F.max(
            F.when(F.col("rn") == F.expr("(95 * m + 99) div 100"), F.col("cv"))
        ).over(wm).alias("p95"),
    )
    return b.groupBy("event_type").agg(
        F.max("p05").alias("p05_cents"),
        F.max("p95").alias("p95_cents"),
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.least(F.greatest(F.col("cv"), F.col("p05")), F.col("p95"))
        ).alias("winsorized_sum_cents"),
    )


# ------------------------------------------------- time-series diagnostics

def _autocorr_sql(k: int) -> str:
    return f"""
    SELECT {k} AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           {pround_sql(
               "CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)"
               " / nullif(sqrt("
               "CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE)"
               " * CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE)"
               "), 0.0)",
               6,
           )} AS r_autocorr
    FROM (
      SELECT CAST(c AS BIGINT) AS y,
             CAST(lag(c, {k}) OVER (ORDER BY day) AS BIGINT) AS x
      FROM daily
    ) WHERE x IS NOT NULL
    """


@register(
    "daily_counts_autocorr",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS c
      FROM events GROUP BY 1
    )
    {_autocorr_sql(1)}
    UNION ALL
    {_autocorr_sql(7)}
    """,
    tags=("batch", "time-series", "autocorrelation"),
)
def daily_counts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 Pearson autocorrelation of the daily event count —
    the two numbers that say whether traffic has day-over-day momentum and
    a weekly seasonality worth modeling. All five sufficient statistics
    (Σx, Σy, Σxy, Σx², Σy²) are exact integer sums over the ~30-row day
    series; only the final ratio touches doubles (identical operands in
    both engines, pinned by pround). A nullif guards the degenerate
    constant-series case (variance 0): Spark's Divide yields NULL on a
    zero divisor where DuckDB's IEEE division yields NaN, so the guard
    makes the undefined correlation NULL in BOTH engines. The
    unpartitioned lag window is over the calendar-bounded daily
    aggregate, never event rows."""
    ev = catalog(spark, sf_dir).events
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wd = Window.orderBy("day")
    outs = []
    for k in (1, 7):
        pairs = daily.select(
            F.col("c").alias("y"), F.lag("c", k).over(wd).alias("x")
        ).filter(F.col("x").isNotNull())
        num = F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y")) - F.sum(
            "x"
        ) * F.sum("y")
        denx = F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x")) - F.sum(
            "x"
        ) * F.sum("x")
        deny = F.count(F.lit(1)) * F.sum(F.col("y") * F.col("y")) - F.sum(
            "y"
        ) * F.sum("y")
        outs.append(
            pairs.agg(
                F.lit(k).alias("lag"),
                F.count(F.lit(1)).alias("n_pairs"),
                pround(
                    num.cast("double")
                    / F.nullif(
                        F.sqrt(denx.cast("double") * deny.cast("double")),
                        F.lit(0.0),
                    ),
                    6,
                ).alias("r_autocorr"),
            )
        )
    return outs[0].unionByName(outs[1])


@register(
    "revenue_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum({_CV}) AS BIGINT) AS rev_cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    m AS (
      SELECT day, rev_cents,
             CAST(sum(rev_cents) OVER () AS BIGINT)
               // CAST(count(*) OVER () AS BIGINT) AS mean_cents
      FROM daily
    )
    SELECT day, rev_cents,
           rev_cents - mean_cents AS dev_cents,
           CAST(sum(rev_cents - mean_cents) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_cents,
           CASE WHEN abs(CAST(sum(rev_cents - mean_cents) OVER (ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS BIGINT))
                     > mean_cents THEN 1 ELSE 0 END AS breach
    FROM m
    """,
    tags=("batch", "time-series", "cusum", "drift"),
)
def revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift monitor over daily purchase revenue: cumulative
    deviation from the run's mean day, flagging days where |cusum| exceeds
    one mean day's revenue — the classic change-point screen (a sustained
    small shift accumulates where per-day thresholds stay silent). Exact
    integer cents throughout — mean by truncating division, so cusum and
    the breach flag replay bit-identically. One corpus aggregation to day
    grain; both windows run over the bounded day series."""
    ev = catalog(spark, sf_dir).events
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(cents("value")).alias("rev_cents"))
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    m = daily.select(
        "day",
        "rev_cents",
        F.expr(
            "sum(rev_cents) OVER () div count(*) OVER ()"
        ).alias("mean_cents"),
    )
    dev = F.col("rev_cents") - F.col("mean_cents")
    return m.select(
        "day",
        "rev_cents",
        dev.alias("dev_cents"),
        F.sum(dev).over(wc).alias("cusum_cents"),
        F.when(F.abs(F.sum(dev).over(wc)) > F.col("mean_cents"), 1)
        .otherwise(0)
        .alias("breach"),
    )


# ------------------------------------------------------ sequential funnels

@register(
    "strict_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS tc
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.tv
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.tc
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    n AS (
      SELECT (SELECT count(*) FROM v) AS n1,
             (SELECT count(*) FROM c) AS n2,
             (SELECT count(*) FROM p) AS n3
    )
    SELECT 1 AS stage, CAST(n1 AS BIGINT) AS n_users,
           CAST(1000 AS BIGINT) AS conv_permille FROM n
    UNION ALL
    SELECT 2, CAST(n2 AS BIGINT),
           CASE WHEN n1 = 0 THEN NULL
                ELSE CAST((1000 * n2) // n1 AS BIGINT) END FROM n
    UNION ALL
    SELECT 3, CAST(n3 AS BIGINT),
           CASE WHEN n2 = 0 THEN NULL
                ELSE CAST((1000 * n3) // n2 AS BIGINT) END FROM n
    """,
    tags=("batch", "funnel", "sequential"),
)
def strict_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ORDERED funnel view -> click -> purchase: a user converts a
    stage only with an event strictly after their first event of the
    previous stage (``user_funnel`` counts per-type presence; this demands
    the sequence). Per-stage user counts plus step conversion in integer
    permille. Shape: three user-grain aggregations chained by user-keyed
    joins — each stage's table shrinks, all joins are on the same user key
    (one partitioning reused), and the three scalar counts assemble
    driver-free via a 1-row cross join (bounded; BNLJ-allowlisted)."""
    ev = catalog(spark, sf_dir).events
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    n = (
        v.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n2"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n3"))))
    )
    return n.select(
        F.expr(
            """stack(3,
               1, CAST(n1 AS BIGINT), CAST(1000 AS BIGINT),
               2, CAST(n2 AS BIGINT),
                  CASE WHEN n1 = 0 THEN NULL
                       ELSE (1000 * n2) div n1 END,
               3, CAST(n3 AS BIGINT),
                  CASE WHEN n2 = 0 THEN NULL
                       ELSE (1000 * n3) div n2 END
            ) AS (stage, n_users, conv_permille)"""
        )
    ).select(
        F.col("stage").cast("int").alias("stage"),
        "n_users",
        "conv_permille",
    )


@register(
    "orders_reorder_interval",
    oracle="""
    WITH g AS (
      SELECT date_diff('day',
                       CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS DATE),
                       CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    ),
    h AS (
      SELECT gap, CAST(count(*) AS BIGINT) AS n FROM g
      WHERE gap IS NOT NULL GROUP BY gap
    ),
    cum AS (
      SELECT gap, n,
             CAST(sum(n) OVER (ORDER BY gap ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS c,
             CAST(sum(n) OVER () AS BIGINT) AS total
      FROM h
    )
    SELECT CAST(max(total) AS BIGINT) AS n_intervals,
           CAST(min(CASE WHEN c >= (50 * total + 99) // 100 THEN gap END)
                AS BIGINT) AS p50_days,
           CAST(min(CASE WHEN c >= (90 * total + 99) // 100 THEN gap END)
                AS BIGINT) AS p90_days,
           CAST(max(gap) AS BIGINT) AS max_days
    FROM cum
    """,
    tags=("batch", "intervals", "histogram-quantile", "retention"),
)
def orders_reorder_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval quantiles — how many days pass between a
    customer's consecutive orders (the repeat-purchase cadence behind
    retention forecasting). EXACT p50/p90/max with NO corpus-sized sort:
    gaps are integer day counts bounded by the calendar, so aggregating to
    a (gap, count) histogram first makes the quantile a cumulative-sum
    walk over <= ~2,400 distinct values — the small-integer-domain case
    where the histogram trick is exact, not approximate (compare
    :func:`..histq.hist_value_quantiles`, which documents its bin-width
    error). One per-customer lag window (orders grain), one day-grain
    aggregation, one bounded window."""
    o = catalog(spark, sf_dir).orders
    wu = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(wu),
        ).alias("gap")
    ).filter(F.col("gap").isNotNull())
    h = g.groupBy("gap").agg(F.count(F.lit(1)).alias("n"))
    wc = Window.orderBy("gap").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = h.select(
        "gap",
        F.sum("n").over(wc).alias("c"),
        F.sum("n").over(wt).alias("total"),
    )
    return cum.agg(
        F.max("total").alias("n_intervals"),
        F.min(
            F.when(F.col("c") >= F.expr("(50 * total + 99) div 100"), F.col("gap"))
        ).alias("p50_days"),
        F.min(
            F.when(F.col("c") >= F.expr("(90 * total + 99) div 100"), F.col("gap"))
        ).alias("p90_days"),
        F.max("gap").alias("max_days"),
    )


# -------------------------------------------------- mixture & distribution

@register(
    "mixture_temperature_weights",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum({token_count_sql('text')}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS wgt
      FROM s
    )
    SELECT source, n_docs, n_tokens,
           CAST((1000 * n_tokens) // (sum(n_tokens) OVER ()) AS BIGINT)
             AS raw_permille,
           CAST((1000 * wgt) // (sum(wgt) OVER ()) AS BIGINT)
             AS temp_permille
    FROM w
    """,
    tags=("batch", "llm-pipeline", "mixture", "temperature-sampling"),
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per source — the pretraining
    data-mixture knob: sampling proportional to ``n_tokens^0.5`` (alpha =
    1/2) upweights small sources relative to raw token share, the standard
    fix for majority-language/source domination. ``floor(sqrt(n))`` is the
    one float op (IEEE sqrt of the same integer is bit-identical across
    engines); shares are then truncating-integer permille. Complements
    :func:`..textq.mixture_token_budget` (which allocates a budget given
    weights — this derives the weights). One source-grain aggregation;
    the share window runs over source-count rows."""
    d = catalog(spark, sf_dir).documents
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("n_tokens"),
    )
    w = s.withColumn(
        "wgt", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
    )
    return w.select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("(1000 * n_tokens) div (sum(n_tokens) OVER ())").alias(
            "raw_permille"
        ),
        F.expr("(1000 * wgt) div (sum(wgt) OVER ())").alias("temp_permille"),
    )


@register(
    "source_token_divergence",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({tokens_sql(normalize_text_sql('text'))}) AS term
      FROM documents
    ),
    st AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c_st
      FROM tok GROUP BY source, term
    ),
    t AS (
      SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY term
    ),
    ns AS (
      SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source
    ),
    tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM t),
    j AS (
      SELECT st.source,
             CAST(sum(abs(st.c_st * tot.n - t.c_t * ns.n_s)) AS BIGINT)
               AS present_num,
             CAST(sum(t.c_t) AS BIGINT) AS present_ct
      FROM st JOIN t ON t.term = st.term
              JOIN ns ON ns.source = st.source
              CROSS JOIN tot
      GROUP BY st.source
    )
    SELECT j.source, ns.n_s AS n_tokens,
           CAST((1000 * (j.present_num + ns.n_s * (tot.n - j.present_ct)))
                // (2 * ns.n_s * tot.n) AS BIGINT) AS tv_permille
    FROM j JOIN ns ON ns.source = j.source CROSS JOIN tot
    """,
    tags=("batch", "llm-pipeline", "distribution-shift", "total-variation"),
)
def source_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution shift: total-variation distance between each
    source's token distribution and the whole corpus, in exact integer
    permille — the audit that says WHICH source a mixture reweight or a
    contamination hunt should look at first. The common-denominator form
    ``|c_st * N - c_t * n_s|`` keeps everything integer, and terms absent
    from a source contribute ``n_s * (N - Σ_present c_t)`` in closed form —
    no source x vocabulary materialization. Shape: one token explode +
    (source, term) aggregation (the corpus shuffle), a term-grain join of
    compact counts, and source-grain assembly; the scalar totals ride a
    bounded cross join.

    Integer headroom (the exactness/scale trade, stated explicitly): each
    ``|c_st*N - c_t*n_s|`` term is <= c_st*N + c_t*n_s, so per source
    ``present_num <= 2*n_s*N`` and the scaled numerator
    ``1000*(present_num + n_s*(N - present_ct)) <= 3000*n_s*N``. int64
    therefore requires ``n_s*N < 3.07e15`` — e.g. any corpus up to ~3e9
    total tokens, or ~3e12 tokens when no single source exceeds ~1e9.
    Beyond that bound the exact-permille contract must be relaxed: pre-
    scale c_st/c_t by 10^ceil(log10(n_s*N / 3e15)) (a <=±1-permille
    estimate) or switch the final ratio to one pround-pinned IEEE divide.
    Kept exact here because the value-hash verification contract is the
    point of this query family.

    r13 (VERDICT r12 #4, guide §2.3/§2.4): the term totals RIDE the
    (source, term) rows via one term-partitioned window instead of a
    separate term-grain aggregation joined back — the standalone ``t``
    aggregation exchange AND the st-repartition for the st⋈t join both
    disappear (the window is one exchange + sort over the compact
    persisted counts). n_s / n reduce with ``max`` inside the final
    source-grain agg, so the trailing re-join of ``ns`` goes too; ``ns``
    and the 1-row total are derived once from the persisted ``st`` (two
    bounded jobs over cached rows, no second corpus pass)."""
    d = catalog(spark, sf_dir).documents
    tok = d.select(
        "source", F.explode(tokens(normalize_text("text"))).alias("term")
    )
    st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c_st"))
    st = persist(st)
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tot = ns.agg(F.sum("n_s").alias("n"))
    stc = st.withColumn(
        "c_t", F.sum("c_st").over(Window.partitionBy("term"))
    )
    return (
        stc.join(ns, "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum(
                F.abs(F.col("c_st") * F.col("n") - F.col("c_t") * F.col("n_s"))
            ).alias("present_num"),
            F.sum("c_t").alias("present_ct"),
            F.max("n_s").alias("n_s"),
            F.max("n").alias("n"),
        )
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.expr(
                "(1000 * (present_num + n_s * (n - present_ct)))"
                " div (2 * n_s * n)"
            ).alias("tv_permille"),
        )
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql(normalize_text_sql('text'))}) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * ((n.n_docs * 1000) // df.df) AS score
      FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
    )
    SELECT doc_id, term, tf, CAST(score AS BIGINT) AS score,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    tags=("batch", "llm-pipeline", "tfidf", "text"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document in EXACT integer arithmetic:
    ``idf_permille = (N * 1000) div df`` (the monotone rational form — for
    ranking, the log in textbook IDF only compresses the scale, and the
    integer form makes the whole keyword extraction value-hash-verifiable),
    ``score = tf * idf_permille``, ties broken lexically. The per-doc
    keyword primitive under corpus search/labeling. Shape: token explode ->
    (doc, term) counts -> vocabulary-grain df join -> per-doc top-3 window
    over ~terms-per-doc rows; the scalar N rides a bounded cross join."""
    d = catalog(spark, sf_dir).documents
    tok = d.select(
        "doc_id", F.explode(tokens(normalize_text("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = persist(tf)
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            (F.col("tf") * F.expr("(n_docs * 1000) div df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "score", "rank")
    )


@register(
    "text_unigram_surprisal",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql(normalize_text_sql('text'))}) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    uni AS (
      SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n_corpus FROM uni),
    scored AS (
      SELECT tf.doc_id, tf.tf,
             CAST(length(bin(n.n_corpus)) - length(bin(uni.c)) AS BIGINT)
               AS surp_bits
      FROM tf JOIN uni ON uni.term = tf.term CROSS JOIN n
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS n_tokens,
             CAST(sum(tf * surp_bits) AS BIGINT) AS total_surprisal_bits,
             CAST((1000 * sum(tf * surp_bits)) // sum(tf) AS BIGINT)
               AS mean_surprisal_millibits
      FROM scored GROUP BY doc_id
    ),
    corpus AS (
      SELECT CAST((1000 * sum(total_surprisal_bits)) // sum(n_tokens)
                  AS BIGINT) AS corpus_mean_millibits
      FROM per_doc
    )
    SELECT p.doc_id, p.n_tokens, p.total_surprisal_bits,
           p.mean_surprisal_millibits,
           CASE WHEN p.mean_surprisal_millibits > c.corpus_mean_millibits
                THEN 1 ELSE 0 END AS high_surprisal
    FROM per_doc p CROSS JOIN corpus c
    """,
    tags=("batch", "llm-pipeline", "perplexity", "quality-filter", "text"),
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perplexity-filter shape (CCNet/Gopher lineage) in EXACT integer
    arithmetic: per document, the summed unigram surprisal of its tokens
    under the corpus's own unigram LM, with -log2 p(t) taken at FLOOR-LOG2
    resolution — ``bits(N) - bits(c)`` where ``bits(x)`` is the binary
    digit count (Spark ``length(conv(x,10,2))`` == DuckDB
    ``length(bin(x))``, both exact integers). Production perplexity
    filters use a float LM; libm ``ln`` differs across engines at the
    last ulp, which would break value-hash verification — the 1-bit
    resolution keeps the ENTIRE filter decision deterministic and
    hash-verifiable while preserving what the filter is for: gibberish
    and rare-token-dense documents score high, boilerplate scores low
    (same monotone-integer-surrogate rule as ``text_tfidf_top_terms``'s
    rational IDF). The flag is RELATIVE — above the corpus-mean
    surprisal, computed in-query and broadcast as a 1-row frame — so the
    gate adapts to any corpus rather than hard-coding a bits/token
    constant (the fixture's near-uniform synthetic vocabulary compresses
    the whole range into ~5.0-5.4 bits, where any fixed threshold is
    degenerate). Shape: one token explode to (doc, term) counts,
    vocabulary-grain LM join (unigram table is unique per term — no
    fan-out), one doc-grain rollup; corpus totals ride broadcast 1-row
    frames."""
    d = catalog(spark, sf_dir).documents
    tok = d.select(
        "doc_id", F.explode(tokens(normalize_text("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = persist(tf)
    uni = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    n = uni.agg(F.sum("c").alias("n_corpus"))
    scored = (
        tf.join(uni, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tf",
            F.expr(
                "CAST(length(conv(n_corpus, 10, 2)) - length(conv(c, 10, 2))"
                " AS BIGINT)"
            ).alias("surp_bits"),
        )
    )
    per_doc = persist(
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("surp_bits")).alias(
                "total_surprisal_bits"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "total_surprisal_bits",
            F.expr("(1000 * total_surprisal_bits) div n_tokens").alias(
                "mean_surprisal_millibits"
            ),
        )
    )
    corpus = per_doc.agg(
        F.expr(
            "(1000 * sum(total_surprisal_bits)) div sum(n_tokens)"
        ).alias("corpus_mean_millibits")
    )
    return (
        per_doc.crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "n_tokens",
            "total_surprisal_bits",
            "mean_surprisal_millibits",
            F.when(
                F.col("mean_surprisal_millibits")
                > F.col("corpus_mean_millibits"),
                1,
            )
            .otherwise(0)
            .alias("high_surprisal"),
        )
    )


# ------------------------------------------------- sketch-accuracy audits

_W = DEFAULT_WIDTH_CENTS


@register(
    "hist_quantile_calibration",
    oracle=f"""
    WITH c AS (
      SELECT event_type, event_id, {_CV} AS cv FROM events
    ),
    r AS (
      SELECT event_type, cv,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cv, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS m
      FROM c
    ),
    exact AS (
      SELECT event_type,
             CAST(max(CASE WHEN rn = (50 * m + 99) // 100 THEN cv END)
                  AS BIGINT) AS exact50_cents,
             CAST(max(CASE WHEN rn = (90 * m + 99) // 100 THEN cv END)
                  AS BIGINT) AS exact90_cents
      FROM r GROUP BY event_type
    ),
    h AS (
      SELECT event_type, cv // {_W} AS bin, CAST(count(*) AS BIGINT) AS n
      FROM c GROUP BY event_type, bin
    ),
    cum AS (
      SELECT event_type, bin,
             CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bin
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cu,
             CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      FROM h
    ),
    est AS (
      SELECT event_type,
             CAST(min(CASE WHEN cu >= (50 * total + 99) // 100
                           THEN (bin + 1) * {_W} - 1 END) AS BIGINT)
               AS est50_cents,
             CAST(min(CASE WHEN cu >= (90 * total + 99) // 100
                           THEN (bin + 1) * {_W} - 1 END) AS BIGINT)
               AS est90_cents
      FROM cum GROUP BY event_type
    )
    SELECT e.event_type, x.exact50_cents, e.est50_cents,
           e.est50_cents - x.exact50_cents AS err50_cents,
           x.exact90_cents, e.est90_cents,
           e.est90_cents - x.exact90_cents AS err90_cents
    FROM est e JOIN exact x ON x.event_type = e.event_type
    """,
    tags=("batch", "sketch-accuracy", "histogram", "calibration"),
)
def hist_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-vs-exact quantile calibration per event type: the
    $5-bin estimate (:func:`..histq.hist_value_quantiles`'s rule — upper
    edge of the first bin whose cumulative count crosses the ceil
    threshold) next to the true central-rank pick, with the signed error
    in cents. The audit one runs before trusting the sort-free histogram
    path at scale; the bin-width error bound (err in [0, width)) is pinned
    by test. Same shape economics as the minhash calibration: the exact
    side exists only to score the sketch."""
    ev = catalog(spark, sf_dir).events
    c = ev.select("event_type", "event_id", cents("value").alias("cv"))
    w = Window.partitionBy("event_type").orderBy("cv", "event_id")
    wm = Window.partitionBy("event_type")
    r = c.select(
        "event_type",
        "cv",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wm).alias("m"),
    )
    exact = r.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(50 * m + 99) div 100"), F.col("cv"))
        ).alias("exact50_cents"),
        F.max(
            F.when(F.col("rn") == F.expr("(90 * m + 99) div 100"), F.col("cv"))
        ).alias("exact90_cents"),
    )
    h = c.groupBy(
        "event_type", F.expr(f"cv div {_W}").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = h.select(
        "event_type",
        "bin",
        F.sum("n").over(wcum).alias("cu"),
        F.sum("n").over(wm).alias("total"),
    )
    edge = F.expr(f"(bin + 1) * {_W} - 1")
    est = cum.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cu") >= F.expr("(50 * total + 99) div 100"), edge)
        ).alias("est50_cents"),
        F.min(
            F.when(F.col("cu") >= F.expr("(90 * total + 99) div 100"), edge)
        ).alias("est90_cents"),
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact50_cents",
        "est50_cents",
        (F.col("est50_cents") - F.col("exact50_cents")).alias("err50_cents"),
        "exact90_cents",
        "est90_cents",
        (F.col("est90_cents") - F.col("exact90_cents")).alias("err90_cents"),
    )


# ---------------------------------------------------- embedding fidelity

def _ss_prefix(col: str, k: int):
    xd = F.transform(F.col(col), lambda x: x.cast("double"))
    return F.aggregate(
        F.slice(xd, 1, k), F.lit(0.0), lambda acc, x: acc + x * x
    )


def _ss_prefix_sql(expr: str, k: int) -> str:
    sl = f"CAST(({expr})[1:{k}] AS DOUBLE[])"
    return f"list_dot_product({sl}, {sl})"


@register(
    "emb_matryoshka_fidelity",
    oracle=f"""
    SELECT vec_id, label,
           {pround_sql(f"sqrt({_ss_prefix_sql('embedding', 16)} / nullif({_ss_prefix_sql('embedding', 64)}, 0.0))", 6)}
             AS fidelity16,
           {pround_sql(f"sqrt({_ss_prefix_sql('embedding', 32)} / nullif({_ss_prefix_sql('embedding', 64)}, 0.0))", 6)}
             AS fidelity32
    FROM embeddings
    """,
    tags=("similarity", "matryoshka", "quantization", "fidelity"),
)
def emb_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation fidelity per vector: cosine similarity between
    the full 64-d embedding and its zero-padded 16-d / 32-d prefix, which
    algebraically reduces to ``sqrt(||x[:k]||^2 / ||x||^2)`` — the energy
    ratio the MRL (Matryoshka Representation Learning) serving trade-off
    reads: how much of each vector survives storing only the prefix.
    Per-row doubles on identical left-to-right folds (same order as
    DuckDB's list_dot_product), pinned with pround — no cross-row float
    aggregation anywhere. A pure scan query: at 100 TB it reads the
    embedding column once, no shuffle at all."""
    emb = catalog(spark, sf_dir).embeddings
    # nullif guards the all-zero-vector edge: Spark's Divide yields NULL on
    # a 0.0 divisor where DuckDB's IEEE division yields NaN — with the
    # guard the degenerate row is NULL in BOTH engines.
    full = F.nullif(_ss_prefix("embedding", 64), F.lit(0.0))
    return emb.select(
        "vec_id",
        "label",
        pround(F.sqrt(_ss_prefix("embedding", 16) / full), 6).alias(
            "fidelity16"
        ),
        pround(F.sqrt(_ss_prefix("embedding", 32) / full), 6).alias(
            "fidelity32"
        ),
    )


# ----------------------------------------------------------- r5-prep batch


@register(
    "text_rarity_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql(normalize_text_sql('text'))}) AS term
      FROM documents
    ),
    t AS (SELECT term, CAST(count(*) AS BIGINT) AS c_t FROM tok GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(n.n // t.c_t) AS BIGINT) AS rarity_sum,
           CAST(sum(n.n // t.c_t) AS BIGINT) // CAST(count(*) AS BIGINT)
             AS rarity_per_token
    FROM tok JOIN t ON t.term = tok.term CROSS JOIN n
    GROUP BY tok.doc_id
    """,
    tags=("batch", "llm-pipeline", "rarity", "text"),
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token rarity — the integer-exact stand-in for a
    unigram-LM surprisal score: each token contributes ``N div c_t``
    (inverse corpus frequency; a hapax is worth N, the top token ~1), so
    high-rarity documents are the OOV/noise/technical tail a quality
    filter wants to look at, without the float log that would break
    value-hash verification. Shape: token explode -> vocabulary counts ->
    term-grain join back to token instances -> per-doc sum; the scalar
    total rides a bounded cross join."""
    d = catalog(spark, sf_dir).documents
    tok = d.select(
        "doc_id", F.explode(tokens(normalize_text("text"))).alias("term")
    )
    tok = persist(tok)
    t = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c_t"))
    n = tok.agg(F.count(F.lit(1)).alias("n"))
    return (
        tok.join(t, "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.expr("n div c_t")).alias("rarity_sum"),
        )
        .withColumn("rarity_per_token", F.expr("rarity_sum div n_tokens"))
    )


_CHUNK_W, _CHUNK_S = 16, 8  # window / stride (tokens)


@register(
    "text_chunks_overlapping",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {tokens_sql(normalize_text_sql('text'))} AS t
      FROM documents
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, CASE WHEN len(t) <= {_CHUNK_W} THEN 1
                             ELSE 1 + (len(t) - {_CHUNK_W} + {_CHUNK_S} - 1)
                                      // {_CHUNK_S} END),
               k -> struct_pack(
                 chunk_no := k,
                 txt := array_to_string(t[k * {_CHUNK_S} + 1 :
                                          k * {_CHUNK_S} + {_CHUNK_W}], ' '))
             )) AS c
      FROM tok
    )
    SELECT doc_id,
           CAST(c.chunk_no AS BIGINT) AS chunk_no,
           CAST(len(string_split(c.txt, ' ')) AS BIGINT) AS n_chunk_tokens,
           {h60_sql("c.txt")} AS chunk_hash
    FROM ch
    """,
    tags=("batch", "llm-pipeline", "chunking", "overlap"),
)
def text_chunks_overlapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping training-chunk materialization: window 16 tokens,
    stride 8 (each chunk shares half its tokens with the previous one —
    the standard context-window chunking that avoids splitting semantic
    units at hard boundaries; ``dedup_span_chunks`` is the
    non-overlapping special case). One row per (doc, chunk) with the
    chunk's token count and content hash — the table a chunk-level dedup
    or embedding pass consumes. The token array binds ONCE per row
    (transform-over-array trick from operators/dedup.shingles); chunk
    text never shuffles, only (doc_id, chunk_no, n, h60) tuples leave the
    scan stage."""
    d = catalog(spark, sf_dir).documents
    toks = tokens(normalize_text("text"))

    def _chunks(t):
        n = F.size(t)
        nc = F.when(n <= _CHUNK_W, F.lit(1)).otherwise(
            F.lit(1)
            + F.floor((n - _CHUNK_W + _CHUNK_S - 1) / F.lit(_CHUNK_S)).cast(
                "int"
            )
        )
        return F.transform(
            F.sequence(F.lit(0), nc - 1),
            lambda k: F.struct(
                k.alias("chunk_no"),
                F.array_join(
                    F.slice(t, k * _CHUNK_S + 1, _CHUNK_W), " "
                ).alias("txt"),
            ),
        )

    ch = d.select(
        "doc_id",
        F.explode(
            F.element_at(F.transform(F.array(toks), _chunks), 1)
        ).alias("c"),
    )
    return ch.select(
        "doc_id",
        F.col("c.chunk_no").cast("long").alias("chunk_no"),
        F.size(F.split(F.col("c.txt"), " ")).cast("long").alias(
            "n_chunk_tokens"
        ),
        h60(F.col("c.txt")).alias("chunk_hash"),
    )


@register(
    "funnel_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS tc
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.tv
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.tc
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    g AS (
      SELECT p.user_id,
             (epoch_us(p.tp) - epoch_us(v.tv)) // 60000000 AS mins
      FROM p JOIN v ON v.user_id = p.user_id
    ),
    h AS (SELECT mins, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY mins),
    cum AS (
      SELECT mins, n,
             CAST(sum(n) OVER (ORDER BY mins ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS c,
             CAST(sum(n) OVER () AS BIGINT) AS total
      FROM h
    )
    SELECT CAST(max(total) AS BIGINT) AS n_converters,
           CAST(min(CASE WHEN c >= (50 * total + 99) // 100 THEN mins END)
                AS BIGINT) AS p50_minutes,
           CAST(min(CASE WHEN c >= (90 * total + 99) // 100 THEN mins END)
                AS BIGINT) AS p90_minutes,
           CAST(max(mins) AS BIGINT) AS max_minutes
    FROM cum
    """,
    tags=("batch", "funnel", "latency", "histogram-quantile"),
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert for the strict funnel: minutes from a converting
    user's first view to their first qualifying purchase, with
    p50/p90/max computed the sort-free way — integer minute gaps are
    calendar-bounded, so the (gap, count) histogram walk is EXACT (the
    :func:`orders_reorder_interval` trick applied to funnel latency).
    Same chained user-grain aggregations as
    :func:`strict_funnel_conversion`; one extra user-keyed join recovers
    the view timestamp for converters only."""
    ev = catalog(spark, sf_dir).events
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    us = F.unix_micros(F.col("tp").cast("timestamp")) - F.unix_micros(
        F.col("tv").cast("timestamp")
    )
    g = p.join(v, "user_id").select(us.alias("us")).select(
        F.expr("us div 60000000").alias("mins")
    )
    h = g.groupBy("mins").agg(F.count(F.lit(1)).alias("n"))
    wc = Window.orderBy("mins").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = h.select(
        "mins",
        F.sum("n").over(wc).alias("c"),
        F.sum("n").over(wt).alias("total"),
    )
    return cum.agg(
        F.max("total").alias("n_converters"),
        F.min(
            F.when(F.col("c") >= F.expr("(50 * total + 99) div 100"), F.col("mins"))
        ).alias("p50_minutes"),
        F.min(
            F.when(F.col("c") >= F.expr("(90 * total + 99) div 100"), F.col("mins"))
        ).alias("p90_minutes"),
        F.max("mins").alias("max_minutes"),
    )


@register(
    "monthly_revenue_trend",
    oracle=f"""
    WITH m AS (
      SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) - 23941
                  AS BIGINT) AS x,
             CAST(sum({cents_sql('l_extendedprice * (1 - l_discount)', 4)})
                  AS BIGINT) // 100 AS y
      FROM lineitem GROUP BY x
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(min(y) AS BIGINT) AS min_month_cents2,
             CAST(max(y) AS BIGINT) AS max_month_cents2
      FROM m
    )
    SELECT n AS n_months,
           (n * sxy - sx * sy) // (n * sxx - sx * sx)
             AS slope_cents2_per_month,
           min_month_cents2, max_month_cents2
    FROM s
    """,
    tags=("batch", "time-series", "regression", "trend"),
)
def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares revenue trend: slope of monthly discounted
    revenue against the month index, entirely in integer arithmetic (the
    OLS slope is a ratio of integer sufficient statistics; y is revenue
    in hundredths-of-dollars to keep n*Σxy inside int64 at 100x scale).
    The month index pins to a fixed epoch (1995-01) so both engines
    agree. One scan -> month-grain aggregate (~84 rows) -> one scalar
    row; the regression itself costs nothing at any scale."""
    li = catalog(spark, sf_dir).lineitem
    dp = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    # month index anchored at 1995-01 (year*12 + month - 23941) — integer
    # boundary months in BOTH engines; months_between() is fractional and
    # would diverge from DuckDB's month arithmetic.
    m = (
        li.select(
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 23941)
            .cast("long").alias("x"),
            dp.alias("cv4"),
        )
        .groupBy("x")
        .agg(F.expr("sum(cv4) div 100").alias("y"))
    )
    s = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.min("y").alias("min_month_cents2"),
        F.max("y").alias("max_month_cents2"),
    )
    return s.select(
        F.col("n").alias("n_months"),
        F.expr("(n * sxy - sx * sy) div (n * sxx - sx * sx)").alias(
            "slope_cents2_per_month"
        ),
        "min_month_cents2",
        "max_month_cents2",
    )


@register(
    "brand_share_drift",
    oracle=f"""
    WITH mb AS (
      SELECT CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate) - 23941
                  AS BIGINT) AS m,
             p.p_brand AS brand,
             CAST(sum({cents_sql('l.l_extendedprice * (1 - l.l_discount)', 4)})
                  AS BIGINT) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY m, brand
    ),
    sh AS (
      SELECT m, brand,
             (1000 * rev) // CAST(sum(rev) OVER (PARTITION BY m) AS BIGINT)
               AS share_pm
      FROM mb
    ),
    d AS (
      SELECT brand, m, share_pm,
             lag(share_pm) OVER (PARTITION BY brand ORDER BY m) AS prev_pm
      FROM sh
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(min(CASE WHEN m = (SELECT min(m) FROM sh) THEN share_pm END)
                AS BIGINT) AS first_share_pm,
           CAST(min(CASE WHEN m = (SELECT max(m) FROM sh) THEN share_pm END)
                AS BIGINT) AS last_share_pm,
           CAST(max(abs(share_pm - prev_pm)) AS BIGINT) AS max_drift_pm
    FROM d GROUP BY brand
    """,
    tags=("batch", "market-structure", "share-drift", "time-series"),
)
def brand_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue-share drift: each brand's integer-permille share of
    monthly revenue, its first/last-month share, and the largest
    month-over-month move — the category-mix shift monitor (a sudden
    share jump is either a promo or a data bug; both deserve a look).
    Shape: lineitem⋈part shuffles on the part key (sf-proportional — no
    hint), one (month, brand) aggregate, then windows over the bounded
    months x brands grid only."""
    cat = catalog(spark, sf_dir)
    dp = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    mb = (
        cat.lineitem.join(
            cat.part.select("p_partkey", "p_brand"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 23941)
            .cast("long").alias("m"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.sum(dp).alias("rev"))
    )
    sh = persist(mb.select(
        "m",
        "brand",
        F.expr("(1000 * rev) div (sum(rev) OVER (PARTITION BY m))").alias(
            "share_pm"
        ),
    ))
    bounds = sh.agg(
        F.min("m").alias("m_first"), F.max("m").alias("m_last")
    )
    wb = Window.partitionBy("brand").orderBy("m")
    d = sh.crossJoin(F.broadcast(bounds)).select(
        "brand",
        "m",
        "share_pm",
        "m_first",
        "m_last",
        F.lag("share_pm").over(wb).alias("prev_pm"),
    )
    return d.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.min(
            F.when(F.col("m") == F.col("m_first"), F.col("share_pm"))
        ).alias("first_share_pm"),
        F.min(
            F.when(F.col("m") == F.col("m_last"), F.col("share_pm"))
        ).alias("last_share_pm"),
        F.max(F.abs(F.col("share_pm") - F.col("prev_pm"))).alias(
            "max_drift_pm"
        ),
    )


from .dedupq import _BANDS_CTE  # noqa: E402  (shared shingle/band CTEs)

_H60NORM = "CAST(concat('0x', substr(md5(s.norm), 1, 15)) AS BIGINT)"

@register(
    "source_curation_report",
    oracle=f"""{_BANDS_CTE},
    bse AS (
      SELECT s.doc_id, d.source,
             {_H60NORM} AS h,
             len(string_split(s.norm, ' ')) AS nt,
             s.norm
      FROM sh s JOIN documents d ON d.doc_id = s.doc_id
    ),
    exact AS (
      SELECT source,
             CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dup
      FROM (SELECT doc_id, source,
                   min(doc_id) OVER (PARTITION BY h) AS keeper
            FROM bse)
      GROUP BY source
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
    ),
    shd AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd
              GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
      FROM cand c JOIN shd x ON x.doc_id = c.doc_a
                  JOIN shd y ON y.doc_id = c.doc_b AND y.g = x.g
      GROUP BY c.doc_a, c.doc_b
    ),
    subset AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE greatest((100 * COALESCE(i.i, 0)) // sa.n,
                     (100 * COALESCE(i.i, 0)) // sb.n) >= 90
    ),
    sub_docs AS (
      SELECT b2.source, CAST(count(*) AS BIGINT) AS n_subset_dup FROM (
        SELECT doc_a AS doc_id FROM subset
        UNION SELECT doc_b FROM subset
      ) sd JOIN bse b2 ON b2.doc_id = sd.doc_id
      GROUP BY b2.source
    ),
    tk AS (
      SELECT source, unnest(string_split(norm, ' ')) AS term FROM bse
    ),
    st AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c_st
      FROM tk GROUP BY source, term
    ),
    t AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY term),
    ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st
           GROUP BY source),
    tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM t),
    rar AS (
      SELECT j.source,
             CAST(j.rarity_sum // ns.n_s AS BIGINT) AS mean_rarity_per_token,
             CAST((1000 * (j.present_num + ns.n_s * (tot.n - j.present_ct)))
                  // (2 * ns.n_s * tot.n) AS BIGINT) AS tv_permille
      FROM (
        SELECT st.source,
               CAST(sum(st.c_st * (tot.n // t.c_t)) AS BIGINT) AS rarity_sum,
               CAST(sum(abs(st.c_st * tot.n - t.c_t * ns.n_s)) AS BIGINT)
                 AS present_num,
               CAST(sum(t.c_t) AS BIGINT) AS present_ct
        FROM st JOIN t ON t.term = st.term
                JOIN ns ON ns.source = st.source
                CROSS JOIN tot
        GROUP BY st.source
      ) j JOIN ns ON ns.source = j.source CROSS JOIN tot
    ),
    per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN nt <= {_CHUNK_W} THEN 1
                           ELSE 1 + (nt - {_CHUNK_W} + {_CHUNK_S} - 1)
                                    // {_CHUNK_S} END) AS BIGINT) AS n_chunks,
             CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM bse GROUP BY source
    ),
    weights AS (
      SELECT source, n_docs, n_chunks,
             CAST((1000 * CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)))
                               AS BIGINT))
                  // (sum(CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)))
                               AS BIGINT)) OVER ()) AS BIGINT)
               AS temp_permille
      FROM per_src
    )
    SELECT w.source, w.n_docs, e.n_exact_dup,
           CAST(COALESCE(sd.n_subset_dup, 0) AS BIGINT) AS n_subset_dup,
           r.mean_rarity_per_token, w.n_chunks, w.temp_permille, r.tv_permille
    FROM weights w
    JOIN exact e ON e.source = w.source
    LEFT JOIN sub_docs sd ON sd.source = w.source
    JOIN rar r ON r.source = w.source
    """,
    tags=("batch", "llm-pipeline", "report", "composition"),
)
def source_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r4 capstone composition — one curation-dashboard row per source
    built from this round's verified kernels (the
    :func:`..batch.llm_corpus_stage_report` pattern applied to the new
    family): document count, EXACT-duplicate count (non-keeper docs by
    normalized-content hash), SUBSET-duplicate count (docs on either side
    of a >=90% containment pair — the asymmetric dups Jaccard misses),
    mean token rarity (corpus-frequency-weighted, exact integers),
    overlapping-chunk yield (window 16 / stride 8, closed form), the
    sqrt-temperature mixture weight, and total-variation divergence from
    the corpus token distribution. Every column reuses a kernel whose
    standalone query is value-hash-verified; the oracle recomposes the
    identical CTEs, so the REPORT itself is hash-verified too — the
    dashboard one actually runs before deciding which source to
    re-filter, re-weight, or drop. Eval/report query: candidate-bounded
    containment, token-grain shuffles, everything else source-grain.

    Shared token base (r5, VERDICT r4 "What's wrong" #1): the six columns
    all start from normalize->tokenize over ``documents``; computing that
    per kernel re-ran the regex normalizer over the raw corpus FOUR times
    (exact-hash base, minhash shingles, containment shingles, token
    instances). Now ONE persisted frame ``pre(doc_id, source, toks)``
    feeds everything: the exact hash is ``h60(array_join(toks, ' '))``
    (array_join is the exact inverse of the single-space split, so the
    hash is bit-identical to ``h60(normalize_text(text))``), shingles
    build from the cached arrays via ``shingles_of_tokens``, and token
    instances explode them. MEMORY_AND_DISK persist, so at 100 TB the
    base spills rather than OOMs — and one corpus scan replaces four.
    Measured isolated at sf0.1: 8.4 s -> see COVERAGE.md for the after
    number."""
    from ..functions.hashing import h60
    from ..operators.dedup import (
        lsh_candidate_pairs,
        shingles_of_tokens,
        spread_small_scan,
    )
    from ..operators.text import normalize_text, tokens

    # r11: the one-file fixture scan starved the regex tokenizer to 1-2 of
    # 32 cores; guarded no-op at real split counts (spread_small_scan).
    docs = spread_small_scan(catalog(spark, sf_dir).documents, "doc_id")
    pre = persist(docs.select(
        "doc_id", "source", tokens(normalize_text("text")).alias("toks")
    ))
    base = pre.select(
        "doc_id",
        "source",
        h60(F.array_join("toks", " ")).alias("h"),
        F.size("toks").alias("nt"),
    )

    # exact duplicates: every doc in a hash group except the min-id keeper
    wdup = Window.partitionBy("h")
    exact = (
        base.withColumn("keeper", F.min("doc_id").over(wdup))
        .select(
            "source",
            F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0).alias(
                "is_dup"
            ),
        )
        .groupBy("source")
        .agg(F.sum("is_dup").alias("n_exact_dup"))
    )

    # subset duplicates via shingle containment over LSH candidates —
    # shingles derive from the cached token arrays, not raw text. The
    # shingle-array frame is deliberately NOT persisted: both consumers
    # rebuild it from the cached toks with one cheap zip_with (measured
    # 6.6 -> 6.4 s isolated for persisting it — noise-sized — against a
    # cache footprint ~3x the corpus text, the wrong trade at 100 TB)
    shx = pre.select("doc_id", shingles_of_tokens(F.col("toks")).alias("sh"))
    cands = lsh_candidate_pairs(shx, shingle_col="sh")
    # r12: the (doc, gram) postings dedup IN-ROW (array_distinct) instead of
    # a posting-grain DISTINCT exchange, and the per-doc set size rides the
    # postings (known at explode time) to reduce with the pair counts — the
    # jaccard_pairs move. The old `cands LEFT JOIN inter` + two sizes joins
    # were dead weight at this threshold: a candidate pair sharing zero
    # shingles has containment 0 < 90 and can never survive the filter, so
    # the inner `inter` already holds every surviving pair. Removes the
    # sizes aggregation and three pair-grain joins (Exchange 29 -> 18).
    shd = persist(
        shx.select("doc_id", F.array_distinct("sh").alias("shs"))
        .select(
            "doc_id",
            F.size("shs").cast("long").alias("n"),
            F.explode("shs").alias("g"),
        )
    )
    inter = (
        cands.join(
            shd.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "g"
            ),
            "doc_a",
        )
        .join(
            shd.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "g"
            ),
            ["doc_b", "g"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    subset_pairs = inter.filter(
        F.greatest(F.expr("(100 * i) div na"), F.expr("(100 * i) div nb"))
        >= 90
    )
    sub_docs = (
        subset_pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(subset_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .join(base.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_subset_dup"))
    )

    # rarity + divergence share the token-instance table (cached arrays).
    # r13 (VERDICT r12 #5, guide §2.3/§2.4 — the source_token_divergence
    # move applied inside the composition): term totals ride the persisted
    # (source, term) counts via ONE term-partitioned window instead of a
    # separate term-grain aggregation joined back; n_s / n max-reduce in
    # the source-grain agg, dropping the trailing ns re-join.
    tok = pre.select("source", F.explode("toks").alias("term"))
    st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c_st"))
    st = persist(st)
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tot = ns.agg(F.sum("n_s").alias("n"))
    stc = st.withColumn(
        "c_t", F.sum("c_st").over(Window.partitionBy("term"))
    )
    rar = (
        stc.join(ns, "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum(F.col("c_st") * F.expr("n div c_t")).alias("rarity_sum"),
            F.sum(
                F.abs(F.col("c_st") * F.col("n") - F.col("c_t") * F.col("n_s"))
            ).alias("present_num"),
            F.sum("c_t").alias("present_ct"),
            F.max("n_s").alias("n_s"),
            F.max("n").alias("n"),
        )
        .select(
            "source",
            F.expr("rarity_sum div n_s").alias("mean_rarity_per_token"),
            F.expr(
                "(1000 * (present_num + n_s * (n - present_ct)))"
                " div (2 * n_s * n)"
            ).alias("tv_permille"),
        )
    )

    # chunk yield (closed form of text_chunks_overlapping's count) +
    # temperature weight on the SAME normalized token counts
    nc = F.when(F.col("nt") <= _CHUNK_W, F.lit(1)).otherwise(
        F.lit(1)
        + F.floor(
            (F.col("nt") - _CHUNK_W + _CHUNK_S - 1) / F.lit(_CHUNK_S)
        ).cast("long")
    )
    per_src = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(nc).alias("n_chunks"),
        F.sum("nt").alias("n_tokens"),
    )
    weights = per_src.withColumn(
        "wgt", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
    ).select(
        "source",
        "n_docs",
        "n_chunks",
        F.expr("(1000 * wgt) div (sum(wgt) OVER ())").alias("temp_permille"),
    )

    return (
        weights.join(exact, "source")
        .join(sub_docs, "source", "left")
        .join(rar, "source")
        .select(
            "source",
            "n_docs",
            "n_exact_dup",
            F.coalesce(F.col("n_subset_dup"), F.lit(0)).alias("n_subset_dup"),
            "mean_rarity_per_token",
            "n_chunks",
            "temp_permille",
            "tv_permille",
        )
    )


# ------------------------------------------------ bootstrap uncertainty

_BOOT_B = 32  # bootstrap replicates
# Poisson(1) CDF in ppm (floor): P(X<=k) for k = 0..5; weights cap at 6.
# The Poisson bootstrap replaces multinomial resampling with independent
# per-row Poisson(1) weights — the only bootstrap that works in one
# distributed pass (Chamandy et al., "Estimating Uncertainty for Massive
# Data Streams", Google 2012).
_POIS_PPM = (367879, 735758, 919698, 981011, 996340, 999405)
_BOOT_LO = 2    # ceil(0.05 * 32) -> 2.5th-ish percentile rank
_BOOT_HI = 31   # ceil(0.95 * 32)


def _boot_w_sql(u: str) -> str:
    return " + ".join(
        f"(CASE WHEN {u} >= {t} THEN 1 ELSE 0 END)" for t in _POIS_PPM
    )


@register(
    "metric_bootstrap_ci",
    oracle=f"""
    WITH p AS (
      SELECT event_id, {_CV} AS c FROM events WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT p.c, g.b,
             ({h60_sql("CAST(p.event_id AS VARCHAR) || ':' || CAST(g.b AS VARCHAR)")}
              % 1000000) AS u
      FROM p CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) g
    ),
    m AS (
      SELECT b,
             CASE WHEN sum({_boot_w_sql('u')}) = 0 THEN NULL
                  ELSE CAST(sum(({_boot_w_sql('u')}) * c) AS BIGINT)
                       // CAST(sum({_boot_w_sql('u')}) AS BIGINT) END
               AS mean_c
      FROM r GROUP BY b
    ),
    rk AS (
      SELECT mean_c, row_number() OVER (ORDER BY mean_c, b) AS rn FROM m
    ),
    ci AS (
      SELECT min(CASE WHEN rn = {_BOOT_LO} THEN mean_c END) AS ci_lo_cents,
             max(CASE WHEN rn = {_BOOT_HI} THEN mean_c END) AS ci_hi_cents
      FROM rk
    )
    SELECT CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(c) AS BIGINT) // CAST(count(*) AS BIGINT)
             AS point_mean_cents,
           CAST({_BOOT_B} AS BIGINT) AS n_boot,
           ci.ci_lo_cents, ci.ci_hi_cents
    FROM p CROSS JOIN ci
    GROUP BY ci.ci_lo_cents, ci.ci_hi_cents
    """,
    tags=("batch", "statistics", "bootstrap", "uncertainty", "exact-arithmetic"),
)
def metric_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean purchase value WITHOUT
    randomness: the Poisson bootstrap (per-row Poisson(1) replicate
    weights — the one bootstrap that runs in a single distributed pass,
    no resampling shuffle), derandomized by driving each (row, replicate)
    weight from the md5-backed hash against the integer Poisson CDF in
    ppm. The uncertainty number every "did the metric move?" dashboard
    needs next to the point estimate — and because the "draws" are
    deterministic, the WHOLE interval is value-hash-verified against the
    oracle, which no RNG-based bootstrap could be.

    Scale shape: one purchase scan exploded x32 replicates (map-side
    only), ONE aggregation to replicate grain (32 partial rows per task
    after combine), a 32-row rank window, and 1-row assembly via a
    broadcast cross join. Weight truncation at 6 (P ~ 6e-4) is identical
    in both engines, so it is a shared definition, not an error; the
    empty-replicate guard keeps DuckDB's erroring `// 0` and Spark's
    NULL `div` aligned (never hit above toy row counts)."""
    p = (
        catalog(spark, sf_dir).events
        .filter(F.col("event_type") == "purchase")
        .select("event_id", cents("value").alias("c"))
    )
    r = p.select(
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        F.col("event_id"),
    ).select(
        "c",
        "b",
        (
            h60(
                F.concat_ws(
                    ":",
                    F.col("event_id").cast("string"),
                    F.col("b").cast("string"),
                )
            )
            % 1000000
        ).alias("u"),
    )
    w = sum(
        (F.when(F.col("u") >= t, 1).otherwise(0) for t in _POIS_PPM),
        F.lit(0),
    )
    m = (
        r.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.expr(
                "CASE WHEN sum(w) = 0 THEN NULL"
                " ELSE sum(w * c) div sum(w) END"
            ).alias("mean_c")
        )
    )
    # 32-row frame: the unpartitioned window orders the replicate spine,
    # never event rows (bounded-domain invariant). NULLS LAST explicitly:
    # Spark's ascending default is NULLS FIRST while DuckDB's is NULLS
    # LAST, so a degenerate sum(w)=0 replicate (NULL mean, toy fixtures
    # only) must be pinned to rank identically in both engines (ADVICE r5).
    rk = m.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.asc_nulls_last("mean_c"), "b"))
    )
    ci = rk.agg(
        F.min(F.when(F.col("rn") == _BOOT_LO, F.col("mean_c"))).alias(
            "ci_lo_cents"
        ),
        F.max(F.when(F.col("rn") == _BOOT_HI, F.col("mean_c"))).alias(
            "ci_hi_cents"
        ),
    )
    return (
        p.agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.expr("sum(c) div count(1)").alias("point_mean_cents"),
            F.lit(_BOOT_B).cast("long").alias("n_boot"),
        )
        .crossJoin(F.broadcast(ci))
        .select(
            "n_samples",
            "point_mean_cents",
            "n_boot",
            "ci_lo_cents",
            "ci_hi_cents",
        )
    )


# ------------------------------------------------------- RFM segmentation

_RFM_MON_W = 100  # monetary histogram bin = 1 dollar (100 cents)


def _rfm_thr_sql(src: str, col: str, width: int, prefix: str) -> str:
    """4 quintile upper-edge thresholds of ``col`` read off a fixed-width
    histogram of the per-user table — bounded bins, no user-grain sort."""
    edges = ", ".join(
        f"min(CASE WHEN cum >= (total * {k} + 4) // 5 "
        f"THEN (bin + 1) * {width} - 1 END) AS {prefix}{k}"
        for k in (1, 2, 3, 4)
    )
    return f"""
    {prefix}_h AS (
      SELECT {col} // {width} AS bin, count(*) AS n FROM {src} GROUP BY 1
    ),
    {prefix}_c AS (
      SELECT bin, sum(n) OVER (ORDER BY bin) AS cum,
             sum(n) OVER () AS total
      FROM {prefix}_h
    ),
    {prefix}_t AS (SELECT {edges} FROM {prefix}_c)"""


_RFM_LABEL_SQL = (
    "CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4"
    " THEN 'champion'"
    " WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'"
    " WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'"
    " ELSE 'core' END"
)


@register(
    "user_rfm_segments",
    oracle=f"""
    WITH p AS (
      SELECT user_id, CAST(ts AS DATE) AS day, {_CV} AS c
      FROM events WHERE event_type = 'purchase'
    ),
    ref AS (SELECT max(day) AS ref_day FROM p),
    u AS (
      SELECT user_id,
             CAST(date_diff('day', max(day), (SELECT ref_day FROM ref))
                  AS BIGINT) AS rec,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(c) AS BIGINT) AS mon
      FROM p GROUP BY user_id
    ),
    {_rfm_thr_sql('u', 'rec', 1, 'r')},
    {_rfm_thr_sql('u', 'freq', 1, 'f')},
    {_rfm_thr_sql('u', 'mon', _RFM_MON_W, 'm')},
    scored AS (
      SELECT CAST(5 - (CAST(rec > r1 AS INTEGER) + CAST(rec > r2 AS INTEGER) + CAST(rec > r3 AS INTEGER) + CAST(rec > r4 AS INTEGER))
                  AS BIGINT) AS r_score,
             CAST(1 + (CAST(freq > f1 AS INTEGER) + CAST(freq > f2 AS INTEGER) + CAST(freq > f3 AS INTEGER) + CAST(freq > f4 AS INTEGER))
                  AS BIGINT) AS f_score,
             CAST(1 + (CAST(mon > m1 AS INTEGER) + CAST(mon > m2 AS INTEGER) + CAST(mon > m3 AS INTEGER) + CAST(mon > m4 AS INTEGER))
                  AS BIGINT) AS m_score,
             mon
      FROM u CROSS JOIN r_t CROSS JOIN f_t CROSS JOIN m_t
    )
    SELECT r_score, f_score, m_score,
           {_RFM_LABEL_SQL} AS segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(mon) AS BIGINT) AS monetary_cents
    FROM scored GROUP BY r_score, f_score, m_score
    """,
    tags=("batch", "rfm", "segmentation", "histogram", "exact-arithmetic"),
)
def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value grid, built without a
    single user-grain sort: recency (days since last purchase, against the
    corpus max day), frequency (purchase count), monetary (exact cents)
    reduce per user in ONE aggregation; each dimension's quintile
    thresholds read off a fixed-width HISTOGRAM of the user table (bins
    bounded by the value domain — days observed / distinct counts / dollar
    bins — never by user count, the same upper-edge walk as
    hist_value_quantiles); scores are threshold comparisons against a
    broadcast 1-row threshold frame; the output is the <=125-cell
    (R, F, M) grid with marketing labels. Recency is inverted (recent =
    5) per RFM convention; ties score by the upper-edge rule identically
    in both engines. Shape: one purchase scan -> user grain, three
    bounded-bin histograms, one broadcast join back — no ntile, no global
    sort, nothing user-count-sized shuffles twice."""
    ev = catalog(spark, sf_dir).events
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("date").alias("day"), cents("value").alias("c")
    )
    ref = p.agg(F.max("day").alias("ref_day"))
    u = persist(
        p.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.datediff(F.first("ref_day"), F.max("day"))
            .cast("long")
            .alias("rec"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("c").alias("mon"),
        )
    )

    def thresholds(col: str, width: int, prefix: str):
        h = u.groupBy(F.expr(f"{col} div {width}").alias("bin")).agg(
            F.count(F.lit(1)).alias("n")
        )
        wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        # bounded window: bins span the VALUE domain, not the user count
        c = h.select(
            "bin",
            F.sum("n").over(wc).alias("cum"),
            F.sum("n").over(Window.partitionBy()).alias("total"),
        )
        return c.agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") >= F.expr(f"(total * {k} + 4) div 5"),
                        (F.col("bin") + 1) * width - 1,
                    )
                ).alias(f"{prefix}{k}")
                for k in (1, 2, 3, 4)
            ]
        )

    thr = (
        thresholds("rec", 1, "r")
        .crossJoin(thresholds("freq", 1, "f"))
        .crossJoin(thresholds("mon", _RFM_MON_W, "m"))
    )
    r_sc = sum(
        (F.when(F.col("rec") > F.col(f"r{k}"), 1).otherwise(0) for k in (1, 2, 3, 4)),
        F.lit(0),
    )
    f_sc = sum(
        (F.when(F.col("freq") > F.col(f"f{k}"), 1).otherwise(0) for k in (1, 2, 3, 4)),
        F.lit(0),
    )
    m_sc = sum(
        (F.when(F.col("mon") > F.col(f"m{k}"), 1).otherwise(0) for k in (1, 2, 3, 4)),
        F.lit(0),
    )
    scored = u.crossJoin(F.broadcast(thr)).select(
        (F.lit(5) - r_sc).cast("long").alias("r_score"),
        (F.lit(1) + f_sc).cast("long").alias("f_score"),
        (F.lit(1) + m_sc).cast("long").alias("m_score"),
        "mon",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.expr(_RFM_LABEL_SQL).alias("segment"),
        F.count(F.lit(1)).alias("n_users"),
        F.sum("mon").alias("monetary_cents"),
    )


# ----------------------------------------------------- Theil–Sen robust trend

@register(
    "revenue_theil_sen",
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_idx,
             CAST(sum({cents_sql('value')}) AS BIGINT) AS rev
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             (1000000 * (b.rev - a.rev)) // (b.day_idx - a.day_idx)
               AS slope_micro
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.day_idx < b.day_idx
    ),
    r AS (
      SELECT event_type, slope_micro,
             row_number() OVER (
               PARTITION BY event_type ORDER BY slope_micro
             ) AS rn,
             count(*) OVER (PARTITION BY event_type) AS m
      FROM s
    )
    SELECT event_type,
           CAST(max(m) AS BIGINT) AS n_pairs,
           min(CASE WHEN rn = (m + 1) // 2 THEN slope_micro END)
             AS theil_sen_micro
    FROM r GROUP BY event_type ORDER BY event_type
    """,
    tags=("batch", "robust-stats", "theil-sen", "trend", "exact-arithmetic"),
)
def revenue_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen ROBUST trend of daily revenue per event type: the median
    of all pairwise day-to-day slopes — the estimator that shrugs off the
    outlier days that pull an OLS slope (user_value_trend's least-squares
    twin, completing the robust family next to the trimmed/winsorized/MAD
    kernels). Slopes snap to integer micro-cents/day with truncating
    division (verified identical toward-zero semantics for negative
    slopes in BOTH engines: Spark ``div`` and DuckDB ``//`` each give
    -7/2 = -3), and the median is the exact lower-median row-number
    idiom. Scale shape: the corpus collapses once to (type, day) grain —
    the bounded-domain invariant — so the pairwise slope join is
    C(n_days, 2) per type regardless of event volume; 100 TB of events
    still yields the same few-thousand slope rows."""
    from pyspark.sql import Window

    ev = catalog(spark, sf_dir).events.filter(F.col("value").isNotNull())
    d = (
        ev.groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("day_idx"),
        )
        .agg(F.sum(cents("value")).alias("rev"))
    )
    a = d.select(
        "event_type", F.col("day_idx").alias("d1"), F.col("rev").alias("r1")
    )
    b = d.select(
        F.col("event_type").alias("et2"),
        F.col("day_idx").alias("d2"),
        F.col("rev").alias("r2"),
    )
    s = a.join(
        b, (F.col("event_type") == F.col("et2")) & (F.col("d1") < F.col("d2"))
    ).select(
        "event_type",
        F.expr("(1000000 * (r2 - r1)) div (d2 - d1)").alias("slope_micro"),
    )
    w = Window.partitionBy("event_type").orderBy("slope_micro")
    wm = Window.partitionBy("event_type")
    r = s.select(
        "event_type",
        "slope_micro",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wm).alias("m"),
    )
    return (
        r.groupBy("event_type")
        .agg(
            F.max("m").cast("long").alias("n_pairs"),
            F.min(
                F.when(F.col("rn") == F.expr("(m + 1) div 2"), F.col("slope_micro"))
            ).alias("theil_sen_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------- Kaplan–Meier survival

@register(
    "order_gap_survival",
    oracle="""
    WITH o AS (
      SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d, o_orderkey AS k
      FROM orders
    ),
    mx AS (SELECT max(d) AS dmax FROM o),
    gaps AS (
      SELECT date_diff('day', d,
               lead(d) OVER (PARTITION BY c ORDER BY d, k)) AS g
      FROM o
    ),
    obs AS (
      SELECT g // 7 AS wk, 1 AS ev FROM gaps WHERE g IS NOT NULL
      UNION ALL
      SELECT date_diff('day', last_d, mx.dmax) // 7 AS wk, 0 AS ev
      FROM (SELECT c, max(d) AS last_d FROM o GROUP BY c), mx
    ),
    wkt AS (
      SELECT wk, CAST(count(*) AS BIGINT) AS n_obs,
             CAST(sum(ev) AS BIGINT) AS d
      FROM obs GROUP BY wk
    ),
    cum AS (
      SELECT wk, d,
             CAST(sum(n_obs) OVER (ORDER BY wk DESC) AS BIGINT) AS n_at_risk
      FROM wkt
    ),
    packed AS (
      SELECT list_sort(list(struct_pack(wk := wk, n := n_at_risk, d := d)))
               AS a,
             list_transform(
               list_sort(list(struct_pack(wk := wk, n := n_at_risk, d := d))),
               s -> s.n * 10000000 + s.d
             ) AS es
      FROM cum
    )
    SELECT u.s.wk AS wk, u.s.n AS n_at_risk, u.s.d AS n_events,
           CAST(1000000 * (u.s.n - u.s.d) // u.s.n AS BIGINT) AS factor_micro,
           CAST(list_reduce(
             list_prepend(1000000::BIGINT, es[1:u.k]),
             (acc, x) -> (acc * (x // 10000000 - x % 10000000))
                         // (x // 10000000)
           ) AS BIGINT) AS survival_micro
    FROM packed,
         (SELECT unnest(a) AS s, unnest(range(1, len(a) + 1)) AS k
          FROM packed) u
    ORDER BY wk
    """,
    tags=("batch", "survival", "kaplan-meier", "exact-arithmetic"),
)
def order_gap_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN–MEIER survival curve of reorder gaps — "what fraction of
    customers have NOT yet reordered k weeks after an order", with each
    customer's wait since their LAST order entering as a right-CENSORED
    observation (we know only that the next gap exceeds it) — the
    churn-vs-dormancy estimator naive gap histograms get wrong because
    they silently drop exactly the customers who wait longest. Per-week
    at-risk counts fall out of one DESCENDING cumulative sum over the
    week grain; the survival product Π (n_k - d_k)/n_k is an exact
    integer micro-unit fold over the sorted week array (<= a few hundred
    weeks whatever the data size), truncating at each step identically
    in both engines — the same bounded-grain fold discipline as the BPE
    trainer, applied to a product instead of a merge.

    Scale shape: one customer-partitioned window pass makes the gaps,
    one aggregation collapses to week grain (bounded domain), and
    everything after runs on that bounded table. 100 TB of orders
    changes the counts, not the plan."""
    from pyspark.sql import Window

    o = catalog(spark, sf_dir).orders.select(
        F.col("o_custkey").alias("c"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    mx = o.agg(F.max("d").alias("dmax"))
    w = Window.partitionBy("c").orderBy("d", "k")
    gaps = o.select(F.datediff(F.lead("d").over(w), F.col("d")).alias("g"))
    ev_obs = gaps.filter(F.col("g").isNotNull()).select(
        F.expr("g div 7").alias("wk"), F.lit(1).alias("ev")
    )
    cen_obs = (
        o.groupBy("c")
        .agg(F.max("d").alias("last_d"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr("datediff(dmax, last_d) div 7").alias("wk"),
            F.lit(0).alias("ev"),
        )
    )
    wkt = (
        ev_obs.unionByName(cen_obs)
        .groupBy("wk")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("ev").cast("long").alias("d"),
        )
    )
    wdesc = Window.orderBy(F.col("wk").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = wkt.select(
        "wk", "d", F.sum("n_obs").over(wdesc).cast("long").alias("n_at_risk")
    )
    packed = cum.agg(
        F.array_sort(
            F.collect_list(F.struct("wk", F.col("n_at_risk").alias("n"), "d"))
        ).alias("a")
    )
    return (
        packed.select(
            F.explode(
                F.expr(
                    """
            transform(sequence(1, size(a)), k -> struct(
              a[k-1].wk AS wk,
              a[k-1].n AS n_at_risk,
              a[k-1].d AS n_events,
              CAST(1000000 * (a[k-1].n - a[k-1].d) div a[k-1].n AS BIGINT)
                AS factor_micro,
              aggregate(slice(a, 1, k), CAST(1000000 AS BIGINT),
                (acc, x) -> (acc * (x.n - x.d)) div x.n) AS survival_micro))
            """
                )
            ).alias("s")
        )
        .select("s.*")
        .orderBy("wk")
    )


# ------------------------------------------------- time-constrained funnel

@register(
    "window_funnel_depth",
    oracle="""
    WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 ON t1.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND e.ts > t1.t1 AND e.ts <= t1.t1 + INTERVAL 1 HOUR
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e
      JOIN t1 ON t1.user_id = e.user_id
      JOIN t2 ON t2.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > t2.t2 AND e.ts <= t1.t1 + INTERVAL 1 HOUR
      GROUP BY e.user_id
    ),
    depth AS (
      SELECT u.user_id,
             CASE WHEN t3.user_id IS NOT NULL THEN 3
                  WHEN t2.user_id IS NOT NULL THEN 2
                  WHEN t1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS depth
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN t1 ON t1.user_id = u.user_id
      LEFT JOIN t2 ON t2.user_id = u.user_id
      LEFT JOIN t3 ON t3.user_id = u.user_id
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n_users
    FROM depth GROUP BY depth ORDER BY depth
    """,
    tags=("batch", "funnel", "window-funnel", "sessionized"),
)
def window_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-CONSTRAINED funnel (fixed-anchor variant of ClickHouse
    ``windowFunnel`` — anchors at the FIRST step-1 event rather than
    maximizing over all anchors; see the operator docstring, ADVICE r7):
    how deep does each user get through view -> click -> purchase where
    every later step must land within ONE HOUR of the user's first view
    — the product question behind "do users convert in-session or never",
    which the unconstrained strict funnel (strict_funnel_conversion)
    cannot answer because it happily counts a purchase three weeks after
    the click. Steps anchor at the first view (t1); each stage is a
    conditional min over events inside the window, chained left-to-right
    (a step can only fire strictly after the previous one).

    Scale shape: three aggregate-then-equi-join passes over the SAME
    user_id partitioning — Spark reuses the exchange, so the funnel costs
    one shuffle of the fact plus user-grain joins; no per-user arrays are
    ever collected (hot users with millions of events stream through the
    aggregates). Output is the depth histogram (4 rows). Expressed
    through the reusable :func:`operators.aggregates.window_funnel`
    (VERDICT r6 #5)."""
    from ..operators.aggregates import window_funnel

    ev = catalog(spark, sf_dir).events
    depth = window_funnel(
        ev,
        steps=[
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        window="INTERVAL 1 HOUR",
    )
    return (
        depth.groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("depth")
    )


@register(
    "window_funnel_strict_depths",
    oracle="""
    WITH t1 AS MATERIALIZED (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c2 AS MATERIALIZED (
      SELECT e.user_id,
             min(CASE WHEN e.event_type = 'click' THEN e.ts END) AS cand,
             min(CASE WHEN e.event_type IN ('view', 'purchase')
                      THEN e.ts END) AS brk
      FROM events e JOIN t1 ON t1.user_id = e.user_id
      WHERE e.ts > t1.t1 AND e.ts <= t1.t1 + INTERVAL 1 DAY
      GROUP BY e.user_id
    ),
    t2 AS MATERIALIZED (
      SELECT user_id, cand AS t2 FROM c2
      WHERE cand IS NOT NULL AND (brk IS NULL OR cand <= brk)
    ),
    c3 AS MATERIALIZED (
      SELECT e.user_id,
             min(CASE WHEN e.event_type = 'purchase' THEN e.ts END) AS cand,
             min(CASE WHEN e.event_type IN ('view', 'click')
                      THEN e.ts END) AS brk
      FROM events e
      JOIN t1 ON t1.user_id = e.user_id
      JOIN t2 ON t2.user_id = e.user_id
      WHERE e.ts > t2.t2 AND e.ts <= t1.t1 + INTERVAL 1 DAY
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT user_id FROM c3
      WHERE cand IS NOT NULL AND (brk IS NULL OR cand <= brk)
    ),
    depth AS (
      SELECT u.user_id,
             CASE WHEN t3.user_id IS NOT NULL THEN 3
                  WHEN t2.user_id IS NOT NULL THEN 2
                  WHEN t1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS depth
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN t1 ON t1.user_id = u.user_id
      LEFT JOIN t2 ON t2.user_id = u.user_id
      LEFT JOIN t3 ON t3.user_id = u.user_id
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n_users
    FROM depth GROUP BY depth ORDER BY depth
    """,
    tags=("batch", "funnel", "window-funnel", "strict-order"),
)
def window_funnel_strict_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT-ORDER funnel depths (consumer of the r8 ``modes`` axis on
    :func:`operators.aggregates.window_funnel`, VERDICT r7 #5): same
    view -> click -> purchase chain and fixed-anchor chain as ``window_funnel_depth``
    over a ONE-DAY window (widened so the fixture provably exercises the
    breaker filter: the strict histogram diverges from the default at
    every mirror SF — no trivially-equal gate row), but an out-of-sequence event that matches a
    DIFFERENT funnel condition between two steps interrupts the chain —
    e.g. a second view landing between the first view and the click
    kills the session ("restarted browsing"), and a purchase arriving
    before any click kills attribution of the later click->purchase
    pair. Ties advance (a candidate at the interloper's exact timestamp
    counts). The oracle states each stage as a conditional-min pair
    (candidate, earliest breaker) with a validity filter — literally the
    operator's aggregate, so the mode's semantics are externally
    hash-pinned, not just fuzz-pinned. Same scale shape as the default
    mode: one user_id exchange reused by every stage, one extra
    conditional min per stage, zero per-user arrays."""
    from ..operators.aggregates import window_funnel

    ev = catalog(spark, sf_dir).events
    depth = window_funnel(
        ev,
        steps=[
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        window="INTERVAL 1 DAY",
        modes=("strict_order",),
    )
    return (
        depth.groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("depth")
    )


@register(
    "window_funnel_dedup_depths",
    oracle="""
    WITH t1 AS MATERIALIZED (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c2 AS MATERIALIZED (
      SELECT e.user_id,
             min(CASE WHEN e.event_type = 'click' THEN e.ts END) AS cand,
             min(CASE WHEN e.event_type = 'view' THEN e.ts END) AS brk
      FROM events e JOIN t1 ON t1.user_id = e.user_id
      WHERE e.ts > t1.t1 AND e.ts <= t1.t1 + INTERVAL 1 DAY
      GROUP BY e.user_id
    ),
    t2 AS MATERIALIZED (
      SELECT user_id, cand AS t2 FROM c2
      WHERE cand IS NOT NULL AND (brk IS NULL OR cand <= brk)
    ),
    c3 AS MATERIALIZED (
      SELECT e.user_id,
             min(CASE WHEN e.event_type = 'purchase' THEN e.ts END) AS cand,
             min(CASE WHEN e.event_type = 'click' THEN e.ts END) AS brk
      FROM events e
      JOIN t1 ON t1.user_id = e.user_id
      JOIN t2 ON t2.user_id = e.user_id
      WHERE e.ts > t2.t2 AND e.ts <= t1.t1 + INTERVAL 1 DAY
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT user_id FROM c3
      WHERE cand IS NOT NULL AND (brk IS NULL OR cand <= brk)
    ),
    depth AS (
      SELECT u.user_id,
             CASE WHEN t3.user_id IS NOT NULL THEN 3
                  WHEN t2.user_id IS NOT NULL THEN 2
                  WHEN t1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS depth
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN t1 ON t1.user_id = u.user_id
      LEFT JOIN t2 ON t2.user_id = u.user_id
      LEFT JOIN t3 ON t3.user_id = u.user_id
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n_users
    FROM depth GROUP BY depth ORDER BY depth
    """,
    tags=("batch", "funnel", "window-funnel", "strict-dedup"),
)
def window_funnel_dedup_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT-DEDUP funnel depths — the third cell of the r8 mode matrix
    externally hash-pinned (default and strict_order each have their own
    registered query). Same one-day fixed-anchor view -> click ->
    purchase chain, but only a REPEAT of the PREVIOUS step's condition
    interrupts ("the user started a new browsing pass before clicking"):
    a second view between the anchor view and the click kills stage 2, a
    second click between the click and the purchase kills stage 3 —
    while out-of-order OTHER conditions (e.g. an early purchase) are
    ignored, which is exactly where this mode differs from strict_order.
    Measured on the fixtures: all three modes produce pairwise-different
    histograms at sf0.01 (gate SF) and sf0.1 — 90/46/14 default vs
    103/39/8 dedup vs 112/30/8 order at sf0.01 (dedup coincides with
    default only at the 15-user sf0.001). Oracle = the per-stage
    (candidate, repeat-breaker) conditional-min pair, the operator's
    aggregate verbatim. Same single reused user_id exchange."""
    from ..operators.aggregates import window_funnel

    ev = catalog(spark, sf_dir).events
    depth = window_funnel(
        ev,
        steps=[
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        window="INTERVAL 1 DAY",
        modes=("strict_dedup",),
    )
    return (
        depth.groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("depth")
    )


_SEQ_GAP_US = 86_400 * 1_000_000  # 24-hour adjacency guard, micros
# (24 h picked by measurement: matched/unmatched mixes are non-trivial at
# ALL THREE mirror SFs — 11/4, 118/32, 1149/351 — so the gate row can
# actually catch a broken stage join; 2 h matched almost nobody, 72 h
# matched almost everybody)


@register(
    "seq_match_view_click_purchase",
    oracle=f"""
    WITH c1 AS MATERIALIZED (
      SELECT DISTINCT user_id, epoch_us(ts) AS us FROM events
      WHERE event_type = 'view'
    ),
    c2 AS MATERIALIZED (
      SELECT DISTINCT e.user_id, epoch_us(e.ts) AS us
      FROM events e JOIN c1 ON c1.user_id = e.user_id
        AND epoch_us(e.ts) > c1.us
        AND epoch_us(e.ts) <= c1.us + {_SEQ_GAP_US}
      WHERE e.event_type = 'click'
    ),
    c3 AS MATERIALIZED (
      SELECT DISTINCT e.user_id
      FROM events e JOIN c2 ON c2.user_id = e.user_id
        AND epoch_us(e.ts) > c2.us
        AND epoch_us(e.ts) <= c2.us + {_SEQ_GAP_US}
      WHERE e.event_type = 'purchase'
    )
    SELECT u.user_id,
           CAST(CASE WHEN c3.user_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
             AS matched
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN c3 ON c3.user_id = u.user_id
    """,
    tags=("batch", "sequence-match", "pattern", "range-join", "numeric-axis"),
)
def seq_match_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceMatch('(?1)(?t<=86400)(?2)(?t<=86400)(?3)')``:
    per user, does ANY view -> click -> purchase chain exist with each
    hop at most 24 hours after the previous event? Unlike the
    fixed-anchor ``window_funnel`` family, every candidate anchor
    competes — the exact semantics the funnel's documented deviation
    points at, now covered by its own operator
    (:func:`operators.aggregates.sequence_match`). Each stage is a
    bucketized range SEMI-join on the numeric epoch-microsecond axis —
    the r8-generalized :func:`operators.joins.range_join` consumed on
    its third axis — so no greedy chain choice and no per-user arrays;
    the oracle states the same forward closure as chained EXISTS CTEs."""
    from ..operators.aggregates import sequence_match

    ev = catalog(spark, sf_dir).events
    return sequence_match(
        ev,
        steps=[
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        gaps=[86_400, 86_400],
    )


_SEQ_QB_GAP_US = 21_600 * 1_000_000  # 6-hour click->purchase guard


@register(
    "seq_match_signup_then_quick_buy",
    oracle=f"""
    WITH c1 AS MATERIALIZED (
      SELECT user_id, min(epoch_us(ts)) AS us FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    c2 AS MATERIALIZED (
      SELECT DISTINCT e.user_id, epoch_us(e.ts) AS us
      FROM events e JOIN c1 ON c1.user_id = e.user_id
        AND epoch_us(e.ts) > c1.us
      WHERE e.event_type = 'click'
    ),
    c3 AS MATERIALIZED (
      SELECT DISTINCT e.user_id
      FROM events e JOIN c2 ON c2.user_id = e.user_id
        AND epoch_us(e.ts) > c2.us
        AND epoch_us(e.ts) <= c2.us + {_SEQ_QB_GAP_US}
      WHERE e.event_type = 'purchase'
    )
    SELECT u.user_id,
           CAST(CASE WHEN c3.user_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
             AS matched
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN c3 ON c3.user_id = u.user_id
    """,
    tags=("batch", "sequence-match", "pattern", "mixed-gaps"),
)
def seq_match_signup_then_quick_buy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sequenceMatch('(?1).*(?2)(?t<=21600)(?3)')`` — MIXED
    separators: an UNBOUNDED ``.*`` hop (signup -> any later click) then
    a bounded 6-hour hop (click -> purchase). Exercises
    :func:`operators.aggregates.sequence_match`'s min-predecessor branch
    (no range join at all for the unbounded stage — for existence, only
    each key's EARLIEST predecessor matters, one aggregate + equi-join)
    composed with the bucketized numeric-axis stage, with its own
    external hash row. The oracle mirrors both branches: c1 keeps only
    min(ts) per user, exactly the operator's reduction. 6 h picked by
    measurement: matched/unmatched mixes 12/3, 107/43, 1071/429 at the
    three mirror SFs."""
    from ..operators.aggregates import sequence_match

    ev = catalog(spark, sf_dir).events
    return sequence_match(
        ev,
        steps=[
            F.col("event_type") == "signup",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        gaps=[None, 21_600],
    )


_SEQ_CNT_GAP_US = 21_600 * 1_000_000  # 6-hour error->purchase guard


@register(
    "seq_count_error_purchase_bursts",
    oracle=f"""
    WITH RECURSIVE
    e AS MATERIALIZED (
      SELECT DISTINCT user_id, epoch_us(ts) AS us FROM events
      WHERE event_type = 'error'
    ),
    p AS MATERIALIZED (
      SELECT DISTINCT user_id, epoch_us(ts) AS us FROM events
      WHERE event_type = 'purchase'
    ),
    feas AS MATERIALIZED (
      SELECT user_id, us, pe FROM (
        SELECT p.user_id, p.us,
               (SELECT max(e.us) FROM e
                WHERE e.user_id = p.user_id AND e.us < p.us) AS pe
        FROM p
      ) WHERE pe IS NOT NULL AND pe >= us - {_SEQ_CNT_GAP_US}
    ),
    succ AS MATERIALIZED (
      SELECT f.user_id, f.us AS floor_us, min(n.us) AS comp
      FROM feas f JOIN feas n
        ON n.user_id = f.user_id AND n.pe > f.us
      GROUP BY f.user_id, f.us
    ),
    seed AS MATERIALIZED (
      SELECT user_id, min(us) AS comp FROM feas GROUP BY user_id
    ),
    walk AS (
      SELECT user_id, comp, 1 AS cnt FROM seed
      UNION ALL
      SELECT w.user_id, s.comp, w.cnt + 1
      FROM walk w JOIN succ s
        ON s.user_id = w.user_id AND s.floor_us = w.comp
    )
    SELECT u.user_id, CAST(coalesce(m.n, 0) AS INTEGER) AS n_matches
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN (SELECT user_id, max(cnt) AS n FROM walk GROUP BY user_id) m
      ON m.user_id = u.user_id
    """,
    tags=("batch", "sequence-count", "pattern", "arrow-udf"),
)
def seq_count_error_purchase_bursts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ClickHouse ``sequenceCount('(?1)(?t<=21600)(?2)')``: per user, how
    many NON-OVERLAPPING error -> purchase-within-6-hours chains occur —
    :func:`operators.aggregates.sequence_count`'s greedy
    earliest-completion scan (optimal by exchange argument; per-key
    state is O(k) timestamps, the shuffle carries only matching events
    as (key, epoch_us, bitmask)). The oracle states the SAME greedy
    through independent machinery: a purchase is a feasible completion
    iff its LATEST strictly-earlier error ``pe`` is in-gap, and it stays
    feasible under floor *f* iff ``pe > f`` — so the greedy walk is
    pointer-chasing over a PRECOMPUTED successor table (floor -> min
    feasible purchase with ``pe > floor``), a pure equi-join recursion
    whose depth is the per-user count itself (0..6 across the mirror
    SFs, mean ~1.3 — non-trivial everywhere). Deliberately NOT the
    correlated-subquery form: DuckDB 1.0 silently mis-decorrelates
    LATERAL/scalar subqueries inside recursive CTEs at sf0.1
    cardinality (returns 0 for ~75% of users; verified against both the
    operator and a hand greedy model). 6 h reuses the measured
    signup-quick-buy guard."""
    from ..operators.aggregates import sequence_count

    ev = catalog(spark, sf_dir).events
    return sequence_count(
        ev,
        steps=[
            F.col("event_type") == "error",
            F.col("event_type") == "purchase",
        ],
        gaps=[21_600],
    )


# ------------------------------------------- Markov removal-effect attribution

_MK_STATES = {"click": 1, "error": 2, "signup": 3, "view": 4}  # 0=START
_MK_CONV, _MK_NULL, _MK_N = 5, 6, 7  # purchase -> CONV; journey end -> NULL
_MK_ROUNDS = 12

_MK_STATE_CASE = (
    "CASE event_type WHEN 'purchase' THEN 5 "
    + " ".join(f"WHEN '{n}' THEN {i}" for n, i in _MK_STATES.items())
    + " END"
)


def _mk_fold_expr(mat: str) -> str:
    """K-round truncated absorption iteration as ONE nested fold over the
    collected (f, t, p_micro) matrix — identical text for the base and
    removal variants; absorbing states (CONV, NULL) retain their mass."""
    return f"""
    aggregate(sequence(1, {_MK_ROUNDS}),
      array(CAST(1000000 AS BIGINT), 0L, 0L, 0L, 0L, 0L, 0L),
      (v, _k) -> transform(sequence(0, {_MK_N - 1}), s ->
        (CASE WHEN s >= {_MK_CONV} THEN element_at(v, s + 1)
              ELSE CAST(0 AS BIGINT) END)
        + aggregate(filter({mat}, e -> e.t = s), CAST(0 AS BIGINT),
                    (acc, e) -> acc + element_at(v, e.f + 1) * e.p
                                div 1000000)))
    """


def _mk_oracle() -> str:
    base = f"""
    WITH pos0 AS MATERIALIZED (
      SELECT user_id, {_MK_STATE_CASE} AS st,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS pos
      FROM events
    ),
    seq AS MATERIALIZED (
      SELECT user_id, st, pos,
             min(CASE WHEN st = {_MK_CONV} THEN pos END)
               OVER (PARTITION BY user_id) AS cut
      FROM pos0
    ),
    kept AS MATERIALIZED (
      SELECT * FROM seq WHERE cut IS NULL OR pos <= cut
    ),
    trans AS MATERIALIZED (
      SELECT coalesce(lag(st) OVER (PARTITION BY user_id ORDER BY pos), 0)
               AS f, st AS t
      FROM kept
      UNION ALL
      SELECT st AS f, {_MK_NULL} AS t FROM kept
      WHERE cut IS NULL
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY pos DESC) = 1
    ),
    cnt AS MATERIALIZED (
      SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM trans GROUP BY f, t
    ),
    mat_base AS MATERIALIZED (
      SELECT f, t, CAST(1000000 * n // sum(n) OVER (PARTITION BY f)
                   AS BIGINT) AS p
      FROM cnt
    )"""
    parts = [base]
    variants = [("base", None)] + [(n, i) for n, i in _MK_STATES.items()]
    for name, c in variants:
        if c is not None:
            parts.append(f""",
    mat_{name} AS MATERIALIZED (
      SELECT f, t, p FROM mat_base WHERE f != {c}
      UNION ALL SELECT {c}, {_MK_NULL}, CAST(1000000 AS BIGINT)
    )""")
        parts.append(f""",
    v_{name}_0 AS MATERIALIZED (
      SELECT s, CAST(CASE WHEN s = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS v
      FROM range({_MK_N}) t(s)
    )""")
        for k in range(1, _MK_ROUNDS + 1):
            parts.append(f""",
    v_{name}_{k} AS MATERIALIZED (
      SELECT st.s,
             CAST(CASE WHEN st.s >= {_MK_CONV}
               THEN (SELECT v FROM v_{name}_{k - 1} pv WHERE pv.s = st.s)
               ELSE 0 END
             + coalesce((SELECT sum(pv.v * m.p // 1000000)
                         FROM mat_{name} m
                         JOIN v_{name}_{k - 1} pv ON pv.s = m.f
                         WHERE m.t = st.s), 0) AS BIGINT) AS v
      FROM range({_MK_N}) st(s)
    )""")
    convs = {
        name: f"(SELECT v FROM v_{name}_{_MK_ROUNDS} WHERE s = {_MK_CONV})"
        for name, _ in variants
    }
    rows = ", ".join(
        f"('{n}', {convs[n]})" for n, _ in variants if n != "base"
    )
    parts.append(f""",
    ch(channel, conv_without_micro) AS (VALUES {rows}),
    tot AS (
      SELECT CAST(sum({convs['base']} - conv_without_micro) AS BIGINT)
               AS removal_total
      FROM ch
    )
    SELECT channel,
           CAST({convs['base']} AS BIGINT) AS base_conv_micro,
           CAST(conv_without_micro AS BIGINT) AS conv_without_micro,
           CAST({convs['base']} - conv_without_micro AS BIGINT)
             AS removal_micro,
           CAST(CASE WHEN tot.removal_total = 0 THEN NULL
                ELSE 1000 * ({convs['base']} - conv_without_micro)
                     // tot.removal_total END AS BIGINT)
             AS attribution_permille
    FROM ch, tot
    ORDER BY channel""")
    return "".join(parts)


@register(
    "markov_removal_attribution",
    oracle=_mk_oracle(),
    tags=("batch", "attribution", "markov", "iterative", "exact-arithmetic"),
)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV-CHAIN ATTRIBUTION by removal effect — the data-driven
    alternative to last-click: build the user-journey transition matrix
    (START -> channels -> CONVERSION/NULL absorbing states, journeys
    truncated at first purchase), compute the chain's conversion
    probability, then re-compute it with each channel REMOVED (its
    outgoing mass redirected to NULL) — a channel's credit is the
    conversion it would take with it. Absorption probabilities come from
    a 12-round truncated power iteration in integer micro-units, run as
    ONE nested fold over the collected <= 7x7 matrix (bounded by the
    type domain — the KM-fold discipline), identical per-term truncation
    in the unrolled MATERIALIZED-CTE oracle.

    Scale shape: the ONLY corpus-sized work is one user-partitioned
    window pass and a map-side-combined count at (from, to) grain — the
    matrix is 7x7 whatever the event volume; all five chain solves are
    expression-level arithmetic on one collected row. At 100 TB the
    attribution report costs one shuffle."""
    from pyspark.sql import Window

    ev = catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id")
    seq = ev.select(
        "user_id",
        F.expr(_MK_STATE_CASE).alias("st"),
        F.row_number().over(w).alias("pos"),
    ).withColumn(
        "cut",
        F.min(F.when(F.col("st") == _MK_CONV, F.col("pos"))).over(wu),
    )
    kept = seq.filter(F.col("cut").isNull() | (F.col("pos") <= F.col("cut")))
    w2 = Window.partitionBy("user_id").orderBy("pos")
    steps = kept.select(
        F.coalesce(F.lag("st").over(w2), F.lit(0)).alias("f"),
        F.col("st").alias("t"),
    )
    tails = (
        kept.filter(F.col("cut").isNull())
        .groupBy("user_id")
        .agg(F.max_by("st", "pos").alias("f"))
        .select("f", F.lit(_MK_NULL).alias("t"))
    )
    cnt = steps.unionByName(tails).groupBy("f", "t").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = Window.partitionBy("f")
    mat = cnt.select(
        "f", "t", F.expr("1000000 * n div sum(n) OVER (PARTITION BY f)")
        .cast("long")
        .alias("p"),
    )
    m_row = mat.agg(
        F.expr("collect_list(named_struct('f', f, 't', t, 'p', p))").alias("m")
    ).select(F.array_sort("m").alias("m"))

    removal_mat = (
        f"concat(filter(m, e -> e.f != ch.c), "
        f"array(named_struct('f', ch.c, 't', {_MK_NULL}, "
        f"'p', CAST(1000000 AS BIGINT))))"
    )
    channels = ", ".join(
        f"named_struct('channel', '{n}', 'c', {i})"
        for n, i in sorted(_MK_STATES.items())
    )
    per_channel = m_row.select(
        "m",
        F.expr(
            f"element_at({_mk_fold_expr('m')}, {_MK_CONV + 1})"
        ).alias("base_conv_micro"),
        F.explode(F.expr(f"array({channels})")).alias("ch"),
    ).select(
        F.col("ch.channel").alias("channel"),
        "base_conv_micro",
        F.expr(
            "element_at("
            + _mk_fold_expr(removal_mat)
            + f", {_MK_CONV + 1})"
        ).alias("conv_without_micro"),
    )
    wall = Window.partitionBy()  # 4-row frame: bounded by the channel domain
    return (
        per_channel.select(
            "channel",
            "base_conv_micro",
            "conv_without_micro",
            (F.col("base_conv_micro") - F.col("conv_without_micro")).alias(
                "removal_micro"
            ),
        )
        .withColumn(
            "attribution_permille",
            F.expr(
                "CASE WHEN sum(removal_micro) OVER () = 0 THEN NULL"
                " ELSE 1000 * removal_micro div sum(removal_micro) OVER ()"
                " END"
            ),
        )
        .orderBy("channel")
    )


# -------------------------------------------------- chi-square independence

@register(
    "chisq_type_hour_independence",
    oracle="""
    WITH o AS (
      SELECT event_type, extract(hour FROM ts) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT o.*,
             sum(n) OVER (PARTITION BY event_type) AS row_n,
             sum(n) OVER (PARTITION BY hr) AS col_n,
             sum(n) OVER () AS tot
      FROM o
    ),
    cell AS (
      SELECT event_type, hr,
             ((1000000 * abs(n * tot - row_n * col_n))
                // (row_n * col_n))
              * abs(n * tot - row_n * col_n) // tot AS chi2_micro
      FROM m
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(chi2_micro) AS BIGINT) AS chi2_micro,
           CAST(max(chi2_micro) AS BIGINT) AS max_cell_micro
    FROM cell GROUP BY event_type ORDER BY event_type
    """,
    tags=("batch", "statistics", "chi-square", "independence", "exact-arithmetic"),
)
def chisq_type_hour_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE independence audit of event_type x hour-of-day — "does
    traffic mix shift by hour", the contingency test behind seasonality
    and bot-detection checks. The textbook statistic sums (O-E)^2/E with
    the rational expectation E = row*col/total; multiplying through keeps
    every cell term exact integer arithmetic:
    cell = (1e6*|d| // (row*col)) * |d| // tot with d = n*tot - row*col,
    STAGED so no intermediate squares d (the single-truncation form
    overflowed int64 at sf0.1 — d^2 alone is ~1e18 there; staging costs
    one extra truncation, applied identically in both engines). Reported
    per event type (the marginal rows a dashboard drills into) with each
    type's worst-hour contribution. Scale shape: one map-side-combined
    count at (type, hour) grain (<= 5x24 cells — bounded domain), three
    marginal windows on that bounded table, zero corpus re-scans.
    Headroom: 1e6*|d| <= 1e6*n*tot caps tot at ~9e12/1e6/n — past ~1e9
    fact rows move the cell math to DECIMAL(38,0) (the tv_permille
    recipe)."""
    ev = catalog(spark, sf_dir).events
    o = ev.groupBy(
        "event_type", F.expr("extract(hour FROM ts)").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = o.select(
        "event_type",
        "hr",
        "n",
        F.expr("sum(n) OVER (PARTITION BY event_type)").alias("row_n"),
        F.expr("sum(n) OVER (PARTITION BY hr)").alias("col_n"),
        F.expr("sum(n) OVER ()").alias("tot"),
    )
    cell = m.select(
        "event_type",
        F.expr(
            "((1000000 * abs(n * tot - row_n * col_n))"
            " div (row_n * col_n))"
            " * abs(n * tot - row_n * col_n) div tot"
        ).alias("chi2_micro"),
    )
    return (
        cell.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("chi2_micro").cast("long").alias("chi2_micro"),
            F.max("chi2_micro").cast("long").alias("max_cell_micro"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- two-sample Kolmogorov–Smirnov

@register(
    "ks_doclen_source_drift",
    oracle="""
    WITH a AS (
      SELECT n_chars FROM documents WHERE source = 'src0'
    ),
    b AS (
      SELECT n_chars FROM documents WHERE source = 'src1'
    ),
    na AS (SELECT CAST(count(*) AS BIGINT) AS na FROM a),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM b),
    g AS (
      SELECT n_chars AS v,
             CAST(count(*) FILTER (WHERE src = 0) AS BIGINT) AS ca,
             CAST(count(*) FILTER (WHERE src = 1) AS BIGINT) AS cb
      FROM (
        SELECT n_chars, 0 AS src FROM a
        UNION ALL SELECT n_chars, 1 FROM b
      ) GROUP BY n_chars
    ),
    cum AS (
      SELECT v,
             sum(ca) OVER (ORDER BY v) AS cuma,
             sum(cb) OVER (ORDER BY v) AS cumb
      FROM g
    )
    SELECT max(na.na) AS n_src0, max(nb.nb) AS n_src1,
           CAST(max(abs(cuma * nb.nb - cumb * na.na) * 1000000
                    // (na.na * nb.nb)) AS BIGINT) AS ks_micro,
           min(CASE WHEN abs(cuma * nb.nb - cumb * na.na) = (
                 SELECT max(abs(c2.cuma * nb2.nb - c2.cumb * na2.na))
                 FROM cum c2, na na2, nb nb2
               ) THEN v END) AS ks_at_value
    FROM cum, na, nb
    """,
    tags=("batch", "statistics", "kolmogorov-smirnov", "drift", "exact-arithmetic"),
)
def ks_doclen_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV–SMIRNOV drift test between two sources'
    document-length distributions — the distribution-shift alarm a
    training pipeline runs when a crawl source changes its rendering (a
    mean/variance check misses shape changes; KS is the max CDF gap, so
    it catches them all). Cross-multiplied to exact integers: the gap at
    value v is |cumA*nB - cumB*nA| / (nA*nB), so the statistic is an
    integer max — no float CDFs anywhere; the report includes the value
    at which the maximum gap occurs (the natural threshold for a length
    filter). INT64 HEADROOM (same bound as chisq_type_hour_independence):
    ``gap * 1000000`` with gap <= na*nb overflows int64 past
    na*nb ~ 9.2e12 (e.g. two ~3M-doc sources) — Spark non-ANSI wraps
    silently while DuckDB errors, so past that bound switch both engines
    to DECIMAL(38,0) (``F.col("gap").cast("decimal(38,0)")`` and
    ``CAST(... AS DECIMAL(38,0))``) or divide by nb before scaling.
    Scale shape: one collapse to value grain (bounded by the
    length domain), one cumulative window on that bounded table,
    broadcast 1-row sample sizes."""
    from pyspark.sql import Window

    docs = catalog(spark, sf_dir).documents
    ab = docs.filter(F.col("source").isin("src0", "src1")).select(
        F.col("n_chars").alias("v"),
        F.when(F.col("source") == "src0", 0).otherwise(1).alias("src"),
    )
    g = ab.groupBy("v").agg(
        F.sum(F.when(F.col("src") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("src") == 1, 1).otherwise(0)).alias("cb"),
    )
    tot = g.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "v",
        F.sum("ca").over(wc).alias("cuma"),
        F.sum("cb").over(wc).alias("cumb"),
    ).crossJoin(F.broadcast(tot))
    gap = cum.select(
        "v",
        "na",
        "nb",
        F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")).alias(
            "gap"
        ),
    )
    mx = gap.agg(F.max("gap").alias("gmax"))
    return (
        gap.crossJoin(F.broadcast(mx))
        .groupBy()
        .agg(
            F.max("na").alias("n_src0"),
            F.max("nb").alias("n_src1"),
            F.expr("CAST(max(gap * 1000000 div (na * nb)) AS BIGINT)").alias(
                "ks_micro"
            ),
            F.min(F.when(F.col("gap") == F.col("gmax"), F.col("v"))).alias(
                "ks_at_value"
            ),
        )
    )


# ------------------------------------------------ SAX time-series similarity

_SAX_SEGS = 6   # PAA segments per user series
_SAX_CARD = 3   # alphabet size. (6, 3) tuned so the index produces
                # collision buckets AT FIXTURE SCALE (VERDICT r6 #2: the
                # original (8, 4) gave 150 distinct words for 150 users at
                # sf0.01 — a trivially-green 0-row gate result); measured
                # word/pair profile: sf0.01 = 137 words / 16 candidate
                # pairs, sf0.1 = 638 words / 1573 pairs, max bucket 7 —
                # selective enough that the cap stays a no-op, dense
                # enough that every SF exercises the rerank
_SAX_TOPK = 20
_SAX_BUCKET_CAP = 64  # users per word entering the pair join (hot-bucket
                      # guard: a degenerate corpus where many users share
                      # one word would otherwise emit C(|bucket|,2) pairs;
                      # deterministic user_id-ordered truncation, replayed
                      # in the oracle — a no-op on the fixtures, biggest
                      # bucket observed is 2)


def _sax_common_sql() -> str:
    """Shared oracle CTEs: per-(user, segment) quantized PAA values,
    rank-based breakpoints, symbols, words, per-user PAA arrays."""
    return f"""
    WITH dd AS (
      SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day_idx, user_id
      FROM events
    ),
    dspan AS (SELECT max(day_idx) + 1 AS d FROM dd),
    w AS (SELECT (d + {_SAX_SEGS - 1}) // {_SAX_SEGS} AS w, d FROM dspan),
    seg AS (
      SELECT user_id, least(day_idx // w.w, {_SAX_SEGS - 1}) AS s,
             CAST(count(*) AS BIGINT) AS n, max(w.w) AS w, max(w.d) AS d
      FROM dd, w GROUP BY 1, 2
    ),
    paa0 AS (
      SELECT user_id, s,
             CAST(100 * n // (least((s + 1) * w, d) - s * w) AS BIGINT)
               AS paa
      FROM seg
    ),
    -- absent (user, segment) cells are zero-activity: paa = 0
    users AS (SELECT DISTINCT user_id FROM dd),
    grid AS (
      SELECT u.user_id, gs.s FROM users u,
           (SELECT unnest(range({_SAX_SEGS})) AS s) gs
    ),
    paa AS (
      SELECT g.user_id, g.s, coalesce(p.paa, 0) AS paa
      FROM grid g LEFT JOIN paa0 p
        ON p.user_id = g.user_id AND p.s = g.s
    ),
    vg AS (SELECT paa AS v, CAST(count(*) AS BIGINT) AS n FROM paa GROUP BY paa),
    cum AS (
      SELECT v, sum(n) OVER (ORDER BY v) AS cu, sum(n) OVER () AS tot FROM vg
    ),
    bp AS (
      SELECT {", ".join(
          f"min(CASE WHEN cu >= (tot * {q} + {_SAX_CARD - 1}) // {_SAX_CARD}"
          f" THEN v END) AS b{q}"
          for q in range(1, _SAX_CARD)
      )}
      FROM cum
    ),
    sym AS (
      SELECT user_id, s, paa,
             CASE {" ".join(
                 f"WHEN paa <= bp.b{q} THEN {q - 1}"
                 for q in range(1, _SAX_CARD)
             )} ELSE {_SAX_CARD - 1} END AS sy
      FROM paa, bp
    ),
    word AS (
      SELECT user_id,
             CAST(sum(sy * power({_SAX_CARD}, s)) AS BIGINT) AS word,
             list_transform(list_sort(list(struct_pack(s := s, p := paa))),
                            e -> e.p) AS pv
      FROM sym GROUP BY user_id
    )"""


@register(
    "ts_sax_similar_users",
    oracle=f"""{_sax_common_sql()}
    , wcap AS (
      SELECT * FROM word
      QUALIFY row_number() OVER (PARTITION BY word ORDER BY user_id)
        <= {_SAX_BUCKET_CAP}
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b, a.word,
           CAST(list_sum(list_transform(range(1, {_SAX_SEGS} + 1),
                i -> abs(a.pv[i] - b.pv[i]))) AS BIGINT) AS l1_paa_centi
    FROM wcap a JOIN wcap b
      ON a.word = b.word AND a.user_id < b.user_id
    ORDER BY l1_paa_centi, user_a, user_b
    LIMIT {_SAX_TOPK}
    """,
    tags=("batch", "time-series", "sax", "similarity", "exact-arithmetic"),
)
def ts_sax_similar_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SERIES similarity search via SAX indexing: each user's daily
    activity series is PAA-compressed to 6 segment means (integer
    centi-events, absent segments = 0), discretized into a 3-symbol SAX
    word by RANK-based breakpoints (exact terciles off the bounded
    value-grain cumulative walk — the Gaussian breakpoints of the SAX
    paper assume z-normalized data and need libm; rank breakpoints give
    the same equiprobable-symbol property in exact integers), and
    candidate pairs are generated ONLY within identical words — the SAX
    index property that makes whole-series similarity search feasible at
    scale: the word join touches |bucket|-bounded pairs, never all user
    pairs (buckets themselves capped at 64 users by deterministic id
    order — the hot-band guard, a no-op here), and word equality
    lower-bounds series closeness. Candidates
    rank by exact L1 distance between PAA vectors (zip of the per-user
    6-slot arrays). Scale shape: one collapse to (user, segment) grain,
    one bounded value-grain walk for breakpoints, and the word-blocked
    self-join — the LSH-bucket discipline applied to time series."""
    from pyspark.sql import Window

    ev = catalog(spark, sf_dir).events
    dd = ev.select(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("long")
        .alias("day_idx"),
        "user_id",
    )
    span = dd.agg(
        (F.max("day_idx") + 1).alias("d"),
        F.expr(f"(max(day_idx) + {_SAX_SEGS}) div {_SAX_SEGS}").alias("w"),
    )
    seg = (
        dd.crossJoin(F.broadcast(span))
        .groupBy(
            "user_id",
            F.expr(f"least(day_idx div w, {_SAX_SEGS - 1})").alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.max("w").alias("w"), F.max("d").alias("d"))
    )
    paa0 = seg.select(
        "user_id",
        "s",
        F.expr("100 * n div (least((s + 1) * w, d) - s * w)").alias("paa"),
    )
    grid = (
        dd.select("user_id")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(_SAX_SEGS).select(F.col("id").cast("long").alias("s"))
            )
        )
    )
    paa = grid.join(paa0, ["user_id", "s"], "left").select(
        "user_id", "s", F.coalesce("paa", F.lit(0)).alias("paa")
    )
    vg = paa.groupBy("paa").agg(F.count(F.lit(1)).alias("n"))
    wc = Window.orderBy("paa").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = vg.select(
        F.col("paa").alias("v"),
        F.sum("n").over(wc).alias("cu"),
        F.sum("n").over(wt).alias("tot"),
    )
    bp = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cu")
                    >= F.expr(f"(tot * {q} + {_SAX_CARD - 1}) div {_SAX_CARD}"),
                    F.col("v"),
                )
            ).alias(f"b{q}")
            for q in range(1, _SAX_CARD)
        ]
    )
    sym = paa.crossJoin(F.broadcast(bp)).select(
        "user_id",
        "s",
        "paa",
        F.expr(
            "CASE "
            + " ".join(
                f"WHEN paa <= b{q} THEN {q - 1}" for q in range(1, _SAX_CARD)
            )
            + f" ELSE {_SAX_CARD - 1} END"
        ).alias("sy"),
    )
    word = sym.groupBy("user_id").agg(
        F.expr(f"CAST(sum(sy * power({_SAX_CARD}, s)) AS BIGINT)").alias("word"),
        F.expr(
            "transform(array_sort(collect_list(named_struct('s', s, 'p', paa))),"
            " e -> e.p)"
        ).alias("pv"),
    )
    wcapw = Window.partitionBy("word").orderBy("user_id")
    word = (
        word.withColumn("rn_", F.row_number().over(wcapw))
        .filter(F.col("rn_") <= _SAX_BUCKET_CAP)
        .drop("rn_")
    )
    a = word.select(
        F.col("user_id").alias("user_a"), "word", F.col("pv").alias("pa")
    )
    b = word.select(
        F.col("user_id").alias("user_b"),
        F.col("word").alias("wb"),
        F.col("pv").alias("pb"),
    )
    return (
        a.join(b, (F.col("word") == F.col("wb")) & (F.col("user_a") < F.col("user_b")))
        .select(
            "user_a",
            "user_b",
            "word",
            F.aggregate(
                F.zip_with("pa", "pb", lambda x, y: F.abs(x - y)),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ).alias("l1_paa_centi"),
        )
        .orderBy("l1_paa_centi", "user_a", "user_b")
        .limit(_SAX_TOPK)
    )


# --------------------------------------------------- revenue attribution

_ATTR_LB = 604_800  # 7-day lookback, seconds

# Integer U-shaped credit split (order: touches by (ts, event_id) asc).
# All-integer so the allocation is value-hash portable; remainders are
# assigned by fixed rule (n=2: odd cent to the first touch; n>=3: the
# middle remainder to the earliest middle), and every purchase's credits
# sum EXACTLY to its cents (asserted in tests).
_ATTR_CREDIT = """
CASE WHEN n = 0 THEN v
     WHEN n = 1 THEN v
     WHEN n = 2 THEN CASE WHEN rn = 1 THEN v - v {div} 2
                          ELSE v {div} 2 END
     ELSE CASE WHEN rn = 1 THEN (2 * v) {div} 5
               WHEN rn = n THEN (2 * v) {div} 5
               WHEN rn = 2 THEN (v - 2 * ((2 * v) {div} 5)) {div} (n - 2)
                              + (v - 2 * ((2 * v) {div} 5)) % (n - 2)
               ELSE (v - 2 * ((2 * v) {div} 5)) {div} (n - 2) END
END"""


@register(
    "revenue_attribution_ushaped",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, floor(epoch(ts)) AS pt,
             {cents_sql('value')} AS v
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, event_id AS tid, event_type AS ch,
             floor(epoch(ts)) AS tt
      FROM events WHERE event_type IN ('view', 'click')
    ),
    j AS (
      SELECT p.pid, p.v, t.tid, t.ch, t.tt
      FROM p LEFT JOIN t
        ON t.user_id = p.user_id
           AND t.tt >= p.pt - {_ATTR_LB} AND t.tt < p.pt
    ),
    w AS (
      SELECT pid, v, tid, ch,
             CAST(count(tid) OVER (PARTITION BY pid) AS BIGINT) AS n,
             CAST(row_number() OVER (PARTITION BY pid ORDER BY tt, tid)
                  AS BIGINT) AS rn
      FROM j
    ),
    c AS (
      SELECT COALESCE(ch, 'direct') AS channel, pid, tid,
             {_ATTR_CREDIT.format(div='//')} AS credit
      FROM w
    )
    SELECT channel,
           CAST(sum(credit) AS BIGINT) AS credited_cents,
           CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
           CAST(count(tid) AS BIGINT) AS n_touches
    FROM c GROUP BY channel
    """,
    tags=("batch", "attribution", "range-join", "bucketized", "marketing",
          "window-function"),
)
def revenue_attribution_ushaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch revenue attribution, U-shaped (40/20/40): every
    purchase's value is split across the user's view/click touches in the
    7 days before it — first and last touch get 40% each, the middles
    share 20% — and rolls up to channel grain; purchases with no touch
    window credit a synthetic 'direct' channel. The split is EXACT
    integer cents with fixed remainder rules (see ``_ATTR_CREDIT``), so
    per-purchase credits always sum to the purchase amount and the whole
    allocation is value-hash verifiable — float shares would diverge
    across engines and leak cents.

    Scale shape: the touch-window join is the bucketized range-join
    pattern (``recent_errors_before_purchase``): touches explode into the
    two 7-day buckets their matches can live in and join EQUI on
    (user_id, bucket) with the exact range as a residual — per-task work
    is bounded by bucket population, never corpus size. Position and
    count come from one window over the purchase id (join output grain);
    the channel rollup shuffles 3 partial rows."""
    ev = catalog(spark, sf_dir).events
    sec = F.col("ts").cast("timestamp").cast("long")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        sec.alias("pt"),
        cents("value").alias("v"),
    )
    b = F.floor(F.col("tt") / _ATTR_LB)
    t = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .select(
            F.col("user_id").alias("t_user"),
            F.col("event_id").alias("tid"),
            F.col("event_type").alias("ch"),
            sec.alias("tt"),
        )
        .select("t_user", "tid", "ch", "tt",
                F.explode(F.array(b, b + 1)).alias("bkt"))
    )
    cond = (
        (F.col("user_id") == F.col("t_user"))
        & (F.floor(F.col("pt") / _ATTR_LB) == F.col("bkt"))
        & (F.col("tt") >= F.col("pt") - _ATTR_LB)
        & (F.col("tt") < F.col("pt"))
    )
    j = p.join(t, cond, "left").select("pid", "v", "tid", "ch", "tt")
    w_n = Window.partitionBy("pid")
    w_rn = Window.partitionBy("pid").orderBy("tt", "tid")
    w = j.select(
        "pid",
        "v",
        "tid",
        "ch",
        F.count("tid").over(w_n).alias("n"),
        F.row_number().over(w_rn).cast("long").alias("rn"),
    )
    c = w.select(
        F.coalesce("ch", F.lit("direct")).alias("channel"),
        "pid",
        "tid",
        F.expr(_ATTR_CREDIT.format(div="div")).alias("credit"),
    )
    return c.groupBy("channel").agg(
        F.sum("credit").alias("credited_cents"),
        F.countDistinct("pid").alias("n_purchases"),
        F.count("tid").alias("n_touches"),
    )


# ------------------------------------------------------- session paths

_SP_GAP = 1800   # 30-min inactivity gap
_SP_DEPTH = 5    # path prefix depth
_SP_TOPK = 20


@register(
    "session_paths_topk",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                     > {_SP_GAP}
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_type, ts, event_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM e
    ),
    r AS (
      SELECT user_id, sid, event_type,
             row_number() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id, sid) AS n_ev
      FROM s
    ),
    p AS (
      SELECT user_id, sid, max(n_ev) AS n_ev,
             string_agg(CASE WHEN rn <= {_SP_DEPTH} THEN event_type END,
                        '>' ORDER BY rn) AS path
      FROM r GROUP BY user_id, sid
    )
    SELECT path,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN n_ev > {_SP_DEPTH} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated
    FROM p GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {_SP_TOPK}
    """,
    tags=("batch", "path-mining", "sessionized", "window", "top-k"),
)
def session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session paths — the product-analytics staple
    (GA/Amplitude "behavior flow"): gap-sessionize every user's events
    (30-min inactivity breaks a session), take each session's first five
    event types as its path string, and rank the 20 most-traveled paths
    with session/user counts and how many sessions continued past the
    prefix. Complements ``user_event_trigrams`` (fixed 3-grams, no
    session boundaries) and ``event_transition_matrix`` (first-order
    only) with variable-length session-anchored paths.

    Scale shape: ONE per-user sort serves the gap flags, the running
    session id, and the per-session ranks (three window passes on the
    same (user, ts, id) ordering — no re-shuffle between them);
    per-session rollup shuffles (user, sid, 5-type path) rows; the final
    path-grain count is bounded by |event_types|^depth and TakeOrdered
    emits the head. No text, no arrays past depth 5, nothing
    user-unbounded."""
    ev = catalog(spark, sf_dir).events
    sec = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id", "event_type", "ts", "event_id", sec.alias("sec")
    ).withColumn(
        "brk",
        F.when(
            F.lag("sec").over(w).isNull()
            | (F.col("sec") - F.lag("sec").over(w) > _SP_GAP),
            1,
        ).otherwise(0),
    )
    s = e.withColumn(
        "sid",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    wr = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    wc = Window.partitionBy("user_id", "sid")
    r = s.select(
        "user_id",
        "sid",
        "event_type",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_ev"),
    )
    p = r.groupBy("user_id", "sid").agg(
        F.max("n_ev").alias("n_ev"),
        F.array_join(
            F.expr(
                f"transform(array_sort(collect_list(CASE WHEN rn <= {_SP_DEPTH}"
                " THEN struct(rn, event_type) END)), x -> x.event_type)"
            ),
            ">",
        ).alias("path"),
    )
    return (
        p.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(
                F.when(F.col("n_ev") > _SP_DEPTH, 1).otherwise(0)
            ).cast("long").alias("n_truncated"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_SP_TOPK)
    )


@register(
    "cohort_ltv_curves",
    oracle=f"""
    WITH fe AS (
      SELECT user_id,
             min(year(ts) * 12 + month(ts)) AS cohort_m
      FROM events GROUP BY user_id
    ),
    rev AS (
      SELECT e.user_id,
             year(e.ts) * 12 + month(e.ts) AS m,
             CAST(sum({cents_sql('e.value')}) AS BIGINT) AS cents
      FROM events e WHERE e.event_type = 'purchase'
      GROUP BY e.user_id, year(e.ts) * 12 + month(e.ts)
    ),
    cohort_sizes AS (
      SELECT cohort_m, CAST(count(*) AS BIGINT) AS n_users
      FROM fe GROUP BY cohort_m
    ),
    by_age AS (
      SELECT fe.cohort_m, rev.m - fe.cohort_m AS age_m,
             CAST(sum(rev.cents) AS BIGINT) AS cents
      FROM rev JOIN fe ON fe.user_id = rev.user_id
      GROUP BY fe.cohort_m, rev.m - fe.cohort_m
    )
    SELECT b.cohort_m, b.age_m, s.n_users,
           CAST(sum(b.cents) OVER (PARTITION BY b.cohort_m ORDER BY b.age_m
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_revenue_cents,
           CAST((1000 * sum(b.cents) OVER (PARTITION BY b.cohort_m
                                           ORDER BY b.age_m
                                           ROWS UNBOUNDED PRECEDING))
                // s.n_users AS BIGINT) AS cum_millicents_per_user
    FROM by_age b JOIN cohort_sizes s ON s.cohort_m = b.cohort_m
    """,
    tags=("batch", "cohort", "ltv", "window-function", "retention"),
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves — the growth-analytics companion to
    ``user_retention_cohorts``: users cohorted by the calendar month of
    their FIRST event (any type), each cohort's purchase revenue rolled
    up by months-since-cohort, and the cumulative curve emitted both as
    exact cents and as millicents-per-cohort-user (the per-capita curve
    cohort comparisons actually use). Month indexes use the portable
    ``year*12 + month`` rule (Spark ``months_between`` is fractional and
    unsafe cross-engine); money stays exact integer cents; the per-user
    ratio is integer millicents via ``div``.

    Scale shape: one user-grain min (first event) and one
    (user, month) revenue rollup share the events scan; the cohort join
    keys on user_id (hash-partitioned, no broadcast of the
    sf-proportional first-event side); the cumulative window runs at
    (cohort, age) grain — bounded by months^2, not users."""
    ev = catalog(spark, sf_dir).events
    mcol = (F.year("ts") * 12 + F.month("ts")).cast("long")
    fe = ev.groupBy("user_id").agg(F.min(mcol).alias("cohort_m"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", mcol.alias("m"))
        .agg(F.sum(cents("value")).alias("cents"))
    )
    sizes = fe.groupBy("cohort_m").agg(F.count(F.lit(1)).alias("n_users"))
    by_age = (
        rev.join(fe, "user_id")
        .groupBy("cohort_m", (F.col("m") - F.col("cohort_m")).alias("age_m"))
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("cohort_m").orderBy("age_m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        by_age.join(sizes, "cohort_m")
        .select(
            "cohort_m",
            "age_m",
            "n_users",
            F.sum("cents").over(w).alias("cum_revenue_cents"),
            F.expr(
                "(1000 * sum(cents) OVER (PARTITION BY cohort_m ORDER BY age_m"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
                " div n_users"
            ).alias("cum_millicents_per_user"),
        )
    )


@register(
    "kanon_user_signatures",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type
    ),
    sig AS (
      SELECT user_id,
             array_to_string(list_sort(list(
               event_type || ':' || CAST(length(bin(c)) AS VARCHAR)
             )), '|') AS signature
      FROM per GROUP BY user_id
    )
    SELECT signature,
           CAST(count(*) AS BIGINT) AS n_users,
           count(*) < 5 AS at_risk
    FROM sig GROUP BY signature
    """,
    tags=("batch", "privacy", "k-anonymity", "governance",
          "exact-arithmetic"),
)
def kanon_user_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over behavioral quasi-identifiers — the
    governance op a training-data pipeline runs before shipping user-
    derived features: each user's quasi-identifier is their event-type
    activity signature (per-type counts at FLOOR-LOG2 resolution —
    ``length(bin(count))``, the repo's exact integer frequency class, so
    the signature is coarse enough to be an honest quasi-identifier and
    deterministic enough to hash), and every signature class with fewer
    than k = 5 members is flagged ``at_risk``: those users are
    re-identifiable from their activity shape alone.

    Shape: per-(user, type) count partials combine map-side; ONE
    user-grain exchange assembles signatures (sorted-array join —
    deterministic); the signature-grain rollup is bounded by the
    signature domain (|types| x log2 count classes), never by users. At
    100 TB the at-risk report is the small tail of that bounded
    domain."""
    ev = catalog(spark, sf_dir).events
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    sig = (
        per.select(
            "user_id",
            F.concat(
                F.col("event_type"),
                F.lit(":"),
                F.length(F.bin("c")).cast("string"),
            ).alias("p"),
        )
        .groupBy("user_id")
        .agg(F.array_join(F.array_sort(F.collect_list("p")), "|").alias("signature"))
    )
    return sig.groupBy("signature").agg(
        F.count(F.lit(1)).alias("n_users"),
        (F.count(F.lit(1)) < 5).alias("at_risk"),
    )
