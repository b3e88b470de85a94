"""Scale-technique queries: join-shuffle reduction and skew mitigation.

Two techniques a 100 TB join pipeline leans on constantly, expressed as
operators whose RESULTS are provably identical to the naive plan (both
queries verify against the plain-join oracle — the technique changes the
physical shape only):

- **Bloom-prefiltered semi-join** (:mod:`..operators.bloom`): broadcast an
  8 KiB bitmap of the key set and drop non-matching rows BEFORE the join
  shuffle. False positives ride to the exact join; false negatives cannot
  happen; the shuffle shrinks from |big| to ~|matching| rows.
- **Salted join** (:func:`..operators.joins.salted_join`): split each hot
  join key over ``n_salt`` reducers (deterministic per-row salt on the big
  side, replicated small side) so one celebrity key cannot serialize the
  stage. ``events.event_type`` has 5 values — an extreme hot-key join that
  unsalted would run on 5 effective tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions.money import cents, cents_sql
from ..operators import text as T
from ..operators.bloom import bloom_bitmap, bloom_prefilter
from ..operators.joins import salted_join
from ..operators.scale import write_bucketed, write_partitioned
from .common import catalog
from .registry import register


@register(
    "bloom_semijoin_nation_suppliers",
    oracle=f"""
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum({cents_sql('l.l_extendedprice')}) AS BIGINT)
             AS total_price_cents
    FROM lineitem l
    WHERE l.l_suppkey IN (
      SELECT s.s_suppkey FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_9'
    )
    GROUP BY l.l_returnflag
    """,
    tags=("batch", "semi-join", "bloom", "shuffle-reduction"),
)
def bloom_semijoin_nation_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitems supplied from one nation (4% of rows at sf0.1), via Bloom
    prefilter + exact semi-join: the 8 KiB bitmap of the nation's supplier
    keys prunes the lineitem scan BEFORE the join shuffle (measured 96% of
    rows dropped pre-shuffle at sf0.1), the left-semi join then removes
    Bloom false positives, so the result is exact — the oracle is the plain
    semi-join. At 100 TB the bitmap roundtrip is still n_bits/8 bytes,
    independent of key count; this is the explicit form of what runtime
    row-level bloom filtering does opportunistically, usable where the
    optimizer won't inject it (streaming, pre-computed key sets,
    cross-job reuse)."""
    cat = catalog(spark, sf_dir)
    keys = (
        cat.supplier.join(
            F.broadcast(cat.nation.filter(F.col("n_name") == "NATION_9")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
        .distinct()
    )
    words = bloom_bitmap(keys, "s_suppkey")
    pre = bloom_prefilter(cat.lineitem, words, "l_suppkey")
    matched = pre.join(
        keys, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    return matched.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(cents("l_extendedprice")).alias("total_price_cents"),
    )


@register(
    "salted_join_type_stats",
    oracle=f"""
    WITH stats AS (
      SELECT event_type,
             (CAST(sum({cents_sql('value')}) AS BIGINT)
              // CAST(count(*) AS BIGINT)) AS mean_cents
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN {cents_sql('e.value')} > s.mean_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_above_mean
    FROM events e JOIN stats s ON s.event_type = e.event_type
    GROUP BY e.event_type
    """,
    tags=("batch", "join", "skew", "salted"),
)
def salted_join_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events joined to per-type mean stats THROUGH the salted join — the
    5-value event_type key is the worst-case hot key (an unsalted shuffle
    join runs on 5 effective reducers regardless of cluster size; salting
    by event_id spreads each type over n_salt tasks). The oracle is the
    plain join: a green row proves salting changed the physical plan only.
    The integer floor-mean keeps the threshold engine-exact. The sort-merge
    hint forces the shuffle-join shape salting exists for — with a 5-row
    right side Spark would otherwise broadcast, which is the correct
    UNSKEWED choice; real salted joins have dimension-sized right sides
    that exceed the broadcast threshold."""
    ev = catalog(spark, sf_dir).events
    stats = ev.groupBy("event_type").agg(
        F.floor(
            F.sum(cents("value")) / F.count(F.lit(1))
        ).cast("long").alias("mean_cents")
    )
    joined = salted_join(
        ev.withColumn("c", cents("value")),
        stats.hint("merge"),
        on=["event_type"],
        salt_src="event_id",
        n_salt=8,
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("c") > F.col("mean_cents"), 1).otherwise(0)
        ).alias("n_above_mean"),
    )


# ------------------------------------------------------------ heavy hitters

_HH_PHI_DEN = 30  # heavy hitter := count * 30 >= total token count
_TOK_SQL = T.tokens_sql(T.normalize_text_sql("text"))


@register(
    "heavy_hitters_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOK_SQL}) AS token FROM documents
    ), kept AS (
      SELECT token FROM tok WHERE token <> ''
    ), c AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n FROM kept GROUP BY token
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS total FROM kept
    )
    SELECT token, n FROM c WHERE n * {_HH_PHI_DEN} >= (SELECT total FROM tot)
    """,
    tags=("scale", "sketch", "heavy-hitters", "misra-gries", "pandas-udf"),
)
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens carrying >= 1/30 of all token occurrences, found via the
    two-phase Misra-Gries pipeline (:mod:`..operators.sketch`): bounded
    64-counter per-partition sketches nominate candidates (<= 64 rows per
    partition move, never the key space), then an exact recount over
    candidate rows only — semi-join-pruned BEFORE the aggregation shuffle —
    applies the integer threshold ``n * 30 >= total``. The oracle is the
    naive full aggregation: a green row proves the sketch changed the
    physical plan, not the answer. The relative (not absolute) threshold
    keeps the definition scale-invariant: the same query means the same
    thing at sf0.001 and at 100 TB."""
    from ..operators.sketch import heavy_hitters_exact

    docs = catalog(spark, sf_dir).documents
    toks = docs.select(
        F.explode(T.tokens(T.normalize_text("text"))).alias("token")
    ).filter(F.col("token") != "")
    return heavy_hitters_exact(toks, "token", phi_den=_HH_PHI_DEN, k=64)


# --------------------------------------------------------- Count-Min sketch

_CMS_DEPTH = 4
_CMS_WIDTH = 256


def _cms_oracle() -> str:
    from ..operators.sketch import cms_counters_sql, cms_probe_rows_sql

    cms = cms_counters_sql("kept", "token", _CMS_DEPTH, _CMS_WIDTH)
    probe = cms_probe_rows_sql("cand", "token", _CMS_DEPTH, _CMS_WIDTH)
    return f"""
    WITH tok AS (
      SELECT unnest({_TOK_SQL}) AS token FROM documents
    ), kept AS (
      SELECT token FROM tok WHERE token <> ''
    ), cms AS (
      {cms}
    ), cand AS (
      SELECT token, CAST(count(*) AS BIGINT) AS exact_n
      FROM kept GROUP BY token ORDER BY exact_n DESC, token LIMIT 20
    ), probe AS (
      {probe}
    )
    SELECT p.token, p.exact_n, CAST(min(m.n) AS BIGINT) AS cms_n
    FROM probe p JOIN cms m USING (row, bucket)
    GROUP BY p.token, p.exact_n
    """


@register(
    "cms_token_freq",
    oracle=_cms_oracle(),
    tags=("scale", "sketch", "count-min", "frequency"),
)
def cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates for the corpus's top-20 tokens,
    next to their exact counts: build the 4x256 counter grid in one
    map-side-combined pass (:func:`..operators.sketch.cms_counters` — the
    shuffle carries at most depth*width partial rows per task, never the
    vocabulary), then point-query it for the head tokens
    (:func:`..operators.sketch.cms_estimate`). ``cms_n >= exact_n`` always
    (counters only gain mass; pinned by test); the md5-derived bucket ids
    make the sketch cell-identical in the SQL oracle, so even the collision
    noise is value-hash-verified. At 100 TB the grid is the merge unit:
    per-shard sketches add cell-wise into a 4 KiB summary that answers any
    frequency probe, where the exact-count twin must shuffle the full key
    space. The exact candidate counts here are the verification harness,
    not the technique — a production probe reads the sketch alone."""
    from ..operators.sketch import cms_counters, cms_estimate

    docs = catalog(spark, sf_dir).documents
    kept = docs.select(
        F.explode(T.tokens(T.normalize_text("text"))).alias("token")
    ).filter(F.col("token") != "")
    counters = cms_counters(kept, "token", _CMS_DEPTH, _CMS_WIDTH)
    cand = (
        kept.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "token")
        .limit(20)
    )
    return cms_estimate(counters, cand, "token", _CMS_DEPTH, _CMS_WIDTH)


# -------------------------------------------------------------- z-ordering

_Z_BITS = 5  # 5 bits per dimension -> 10-bit code, 1024 cells
_Z_RANGE_SHIFT = 6  # file = 64 consecutive codes = an aligned 8x8 rectangle
_ZX_SQL = "(user_id % 32)"
_ZY_SQL = "CAST(extract(hour FROM ts) AS BIGINT)"


def _zorder_oracle() -> str:
    from ..operators.sketch import morton_sql

    return f"""
    WITH coded AS (
      SELECT {_ZX_SQL} AS x, {_ZY_SQL} AS y,
             {morton_sql(_ZX_SQL, _ZY_SQL, _Z_BITS)} AS zcode
      FROM events
    )
    SELECT (zcode >> {_Z_RANGE_SHIFT}) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS min_x, max(x) AS max_x,
           min(y) AS min_y, max(y) AS max_y
    FROM coded GROUP BY file_id
    """


@register(
    "layout_zorder_stats",
    oracle=_zorder_oracle(),
    tags=("scale", "layout", "z-order", "data-skipping"),
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout planning: Morton-interleave (user bucket, hour) into a
    10-bit code, group rows into 64-code files (the write path sorts by
    ``zcode`` and cuts every 64 codes — :func:`tests` pin the written file
    stats), and emit exactly the min/max footer stats a reader would prune
    on. Every file's span is an aligned 8x8 rectangle in (x, y) — so a
    predicate on EITHER dimension skips ~7/8 of files, where a single-column
    sort layout prunes only its own column and a hash layout prunes nothing.
    The code is pure shift/mask integer algebra
    (:func:`..operators.sketch.morton_interleave`), identical in the SQL
    oracle; ``extract(hour ...)`` matches Spark's ``hour(ts)`` under the
    session UTC contract."""
    from ..operators.sketch import morton_interleave

    ev = catalog(spark, sf_dir).events
    x = (F.col("user_id") % 32).cast("long")
    y = F.hour("ts").cast("long")
    coded = ev.select(
        x.alias("x"), y.alias("y"),
        morton_interleave(x, y, _Z_BITS).alias("zcode"),
    )
    return coded.groupBy(
        F.shiftright("zcode", _Z_RANGE_SHIFT).cast("long").alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"), F.max("x").alias("max_x"),
        F.min("y").alias("min_y"), F.max("y").alias("max_y"),
    )


# ----------------------------------------------- weighted priority sampling

_WPS_K = 100
_WPS_W_SQL = f"CAST({T.token_count_sql('text')} AS BIGINT)"
_WPS_H_SQL = H.h60_sql("concat('wps:', CAST(doc_id AS VARCHAR))")


@register(
    "weighted_priority_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, {_WPS_W_SQL} AS n_tokens,
             {_WPS_H_SQL} // {_WPS_W_SQL} AS priority
      FROM documents
    )
    SELECT doc_id, source, n_tokens, priority
    FROM w ORDER BY priority, doc_id LIMIT {_WPS_K}
    """,
    tags=("scale", "sampling", "weighted", "top-k"),
)
def weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sample without replacement: priority =
    ``hash(doc_id) div weight`` (weight = token count, so longer documents
    get proportionally smaller priorities and better selection odds), keep
    the k = 100 smallest. Complements the sampling family's other members —
    Bernoulli (``quality_weighted_sample``) gives random SIZE, this gives
    exact size; the hash makes the sample a pure function of the row,
    reproducible across engines and partition layouts. Integer division
    keeps it engine-exact (no float pow as in textbook A-ES — same selection
    shape, zero cross-engine ulp risk; Spark ``div`` truncation equals
    DuckDB ``//`` flooring on these non-negative operands). Physically a
    TakeOrderedAndProject: per-partition top-k partials, k rows per
    partition to the merge, never a global sort."""
    docs = catalog(spark, sf_dir).documents
    keyed = docs.select(
        "doc_id",
        "source",
        T.token_count("text").cast("long").alias("n_tokens"),
        H.h60(F.concat(F.lit("wps:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    return (
        keyed.select(
            "doc_id", "source", "n_tokens",
            F.expr("h div n_tokens").alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(_WPS_K)
    )


# ------------------------------------------------------------- bucketing

_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write ``orders`` and ``lineitem`` ONCE per (session, fixture) as
    bucket-sorted tables on the join key, one file per bucket
    (``operators.scale.write_bucketed``), so the bucketed scan reports both
    distribution AND sort order and the join needs neither Exchange nor
    Sort. The in-memory session catalog holds the table metadata; the data
    lands in the fixture catalog's work directory. This is the offline half
    of the bucketed-join contract: pay the shuffle once at write time, then
    every subsequent join on the bucket key is shuffle-free forever — at
    100 TB the difference between a nightly pipeline that re-shuffles 6 TB
    per join and one that never does."""
    import re

    cat = catalog(spark, sf_dir)

    def build() -> tuple[str, str]:
        tag = re.sub(r"\W", "_", sf_dir).strip("_")
        o_name, l_name = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
        base = cat.work_dir()
        write_bucketed(
            cat.orders, o_name, os.path.join(base, o_name), "o_orderkey", _BUCKETS
        )
        write_bucketed(
            cat.lineitem, l_name, os.path.join(base, l_name), "l_orderkey", _BUCKETS
        )
        return o_name, l_name

    return cat.memo("scalex.bucketed_tables", build)


@register(
    "bucketed_join_revenue",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum({cents_sql('l_extendedprice * (1 - l_discount)', 4)})
             AS BIGINT) AS revenue_u4
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("scale", "bucketing", "join", "shuffle-free"),
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders⋈lineitem fact join executed over BUCKETED table copies:
    both sides bucket-sorted by the join key, so the sort-merge join reads
    co-located buckets with zero Exchange and zero Sort
    (``test_bucketed_join_has_no_exchange`` pins the plan; the only
    shuffle left in the whole query is the 5-group aggregation). The
    oracle is the plain join on the raw parquet — bucketing must change
    the physical plan and nothing else. Revenue stays integer
    (10^-4-unit cents), engine-exact."""
    o_name, l_name = _bucketed_tables(spark, sf_dir)
    joined = spark.table(o_name).join(
        spark.table(l_name), F.col("l_orderkey") == F.col("o_orderkey")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(cents(disc_price, 4)).alias("revenue_u4"),
    )


# ------------------------------------------------------ partition pruning

def _date_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write ``events`` ONCE per (session, fixture), into the fixture
    catalog's work directory, as a parquet table partitioned by event date
    — the standard time-series layout whose whole point is that a
    date-filtered read never LISTS, let alone scans, out-of-range
    partitions. Completes the physical-layout trio: bucketing
    (shuffle-free joins), z-order (2-D row-group skipping), date
    partitioning (file-listing-level pruning)."""
    cat = catalog(spark, sf_dir)

    def build() -> str:
        path = os.path.join(cat.work_dir(), "events_by_date")
        write_partitioned(
            cat.events.withColumn("event_date", F.col("ts").cast("date")),
            path,
            "event_date",
        )
        return path

    return cat.memo("scalex.date_partitioned_events", build)


@register(
    "partition_pruned_daily_stats",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum({cents_sql('value')}) AS BIGINT) AS total_cents
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
      AND CAST(ts AS DATE) < DATE '2024-01-13'
    GROUP BY 1, 2
    """,
    tags=("scale", "layout", "partition-pruning", "time-series"),
)
def partition_pruned_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type stats over a 3-day slice of the DATE-PARTITIONED
    event store: the filter binds to the partition column, so pruning
    happens at file-listing time — the scan never opens out-of-range
    files (``test_partition_pruned_scan_lists_only_range`` pins
    ``PartitionFilters`` and partition count in the plan; at 100 TB this
    is the difference between reading 3 days and reading 3 years). The
    oracle recomputes from the raw unpartitioned parquet, proving the
    layout changes the physical plan and nothing else. The first call per
    session pays the one-time partitioned write — exactly how a real
    event store amortizes layout cost across every later query."""
    path = _date_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.filter(
            (F.col("event_date") >= F.lit("2024-01-10").cast("date"))
            & (F.col("event_date") < F.lit("2024-01-13").cast("date"))
        )
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("total_cents"),
        )
    )


@register(
    "dpp_promo_day_revenue",
    oracle=f"""
    WITH promo AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS np
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY np DESC, d LIMIT 3
    )
    SELECT CAST(e.ts AS DATE) AS event_date, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum({cents_sql('e.value')}) AS BIGINT) AS total_cents
    FROM events e JOIN promo p ON CAST(e.ts AS DATE) = p.d
    GROUP BY 1, 2
    """,
    tags=("scale", "layout", "dynamic-partition-pruning", "join"),
)
def dpp_promo_day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the runtime half of the pruning story:
    the filter (the 3 busiest purchase days) is computed at RUN TIME from
    the data, so no static predicate can prune the date-partitioned store.
    Spark's DPP injects the broadcast dim's key set into the partitioned
    scan as a runtime partition filter (``dynamicpruningexpression`` —
    plan-pinned by test), so only the 3 matching date directories are
    read, out of ~30. The oracle recomputes from the raw unpartitioned
    parquet: layout + DPP change IO, never the answer. At 100 TB this is
    the difference between 'join the promo calendar against 3 years of
    events' reading 3 years or reading 3 days — and it composes with
    static pruning (:func:`partition_pruned_daily_stats`) and the
    broadcast that carries the dim."""
    path = _date_partitioned_events(spark, sf_dir)
    store = spark.read.parquet(path)
    raw = catalog(spark, sf_dir).events
    promo = (
        raw.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("np"))
        .orderBy(F.col("np").desc(), "d")
        .limit(3)
    )
    joined = store.join(
        F.broadcast(promo), store["event_date"] == promo["d"]
    )
    return joined.groupBy("event_date", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents("value")).alias("total_cents"),
    )


# ------------------------------------------ materialized Bloom filter audit

_BF_BITS = 4096   # 128 x 32-bit words (32-bit words: shifts stay overflow-
_BF_WORD = 32     # safe and engine-identical; 64-bit words would hit the
_BF_K = 3         # 1<<63 signed-overflow divergence)
_BF_TARGET = "src0"


def _bf_oracle() -> str:
    from ..operators.bloom import portable_positions_sql

    pos = portable_positions_sql("h", _BF_BITS, _BF_K)
    pos_union = " UNION ALL ".join(
        f"SELECT source, h, {p} AS p FROM base" for p in pos
    )
    return f"""
    WITH base AS (
      SELECT DISTINCT source, {H.h60_sql(T.normalize_text_sql('text'))} AS h
      FROM documents
    ),
    tgt AS (SELECT DISTINCT h FROM base WHERE source = '{_BF_TARGET}'),
    tpos AS (
      SELECT DISTINCT p FROM ({pos_union.replace('FROM base', 'FROM (SELECT h, h AS source FROM tgt) base')})
    ),
    words AS (
      SELECT p // {_BF_WORD} AS w,
             bit_or(CAST(1 AS BIGINT) << (p % {_BF_WORD})) AS word
      FROM tpos GROUP BY 1
    ),
    probe AS ({pos_union.replace('FROM base', "FROM base WHERE source <> '" + _BF_TARGET + "'")}),
    hits AS (
      SELECT pr.source, pr.h,
             CASE WHEN (wd.word >> (pr.p % {_BF_WORD})) & 1 = 1
                  THEN 1 ELSE 0 END AS hit
      FROM probe pr LEFT JOIN words wd ON wd.w = pr.p // {_BF_WORD}
    ),
    per_h AS (
      SELECT source, h,
             CASE WHEN sum(hit) = {_BF_K} THEN 1 ELSE 0 END AS maybe
      FROM hits GROUP BY source, h
    )
    SELECT p.source,
           CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(p.maybe) AS BIGINT) AS n_maybe,
           CAST(sum(CASE WHEN p.maybe = 1 AND t.h IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos
    FROM per_h p LEFT JOIN tgt t ON t.h = p.h
    GROUP BY p.source
    """


@register(
    "bloom_source_membership_audit",
    oracle=_bf_oracle(),
    tags=("scale", "sketch", "bloom", "membership", "fp-audit"),
)
def bloom_source_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-shard membership exchange, audited: build one source's
    content-hash Bloom filter DISTRIBUTED (explode k md5-portable bit
    positions, pack into 32-bit words with a ``bit_or`` aggregate — the
    mergeable form: filters of disjoint shards OR together), probe every
    other source's distinct content hashes through it, and report per
    source exact membership, filter hits, and FALSE POSITIVES — the
    numbers that size a production filter (fp = maybe - exact; with m/n
    ~= 8 bits/key and k=3 expect ~3% fp). At 100 TB this is the pattern
    that replaces shipping key lists between shards with shipping
    n_bits/8 bytes; the md5-derived positions (unlike the xxhash64 fast
    path in :mod:`..operators.bloom`, which only ever prunes) make the
    packed words themselves engine-identical, so the whole audit —
    bitmap, probes, fp counts — is value-hash-verified."""
    from ..operators.bloom import portable_positions

    docs = catalog(spark, sf_dir).documents
    base = docs.select(
        "source", H.h60(T.normalize_text("text")).alias("h")
    ).distinct()
    pos = portable_positions(F.col("h"), _BF_BITS, _BF_K)

    tgt = base.filter(F.col("source") == _BF_TARGET).select("h").distinct()
    words = (
        tgt.select(F.explode(F.array(*pos)).alias("p"))
        .distinct()
        .groupBy(F.expr(f"p div {_BF_WORD}").alias("w"))
        .agg(
            F.bit_or(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_BF_WORD} AS INT))")
            ).alias("word")
        )
    )
    probe = base.filter(F.col("source") != _BF_TARGET).select(
        "source", "h", F.explode(F.array(*pos)).alias("p")
    )
    hits = probe.join(
        F.broadcast(words), F.expr(f"p div {_BF_WORD}") == F.col("w"), "left"
    ).select(
        "source",
        "h",
        F.expr(
            f"CASE WHEN (shiftright(word, CAST(p % {_BF_WORD} AS INT)) & 1) = 1 "
            "THEN 1 ELSE 0 END"
        ).alias("hit"),
    )
    per_h = hits.groupBy("source", "h").agg(
        (F.sum("hit") == _BF_K).cast("long").alias("maybe")
    )
    # tgt is one source's hash set — sf-proportional, so the exact-overlap
    # check is a shuffled equi-join on h, not a broadcast (the bitmap words
    # above ARE the bounded structure; this join only scores the audit).
    ex = tgt.withColumn("ex", F.lit(1))
    return (
        per_h.join(ex, "h", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum(F.coalesce(F.col("ex"), F.lit(0))).alias("n_exact"),
            F.sum("maybe").alias("n_maybe"),
            F.sum(
                F.when((F.col("maybe") == 1) & F.col("ex").isNull(), 1).otherwise(0)
            ).alias("n_false_pos"),
        )
    )


# ------------------------------------------------- data-layout planning

_Z_FILE_W = 134_217_728  # 2^27: 32-bit interleaved key space -> 32 "files"
_Z_SLICE_LO, _Z_SLICE_HI = 24_576, 28_672  # a 1/16 slice of the 16-bit domain


def _zorder_audit_oracle() -> str:
    from ..operators.sketch import morton_sql

    z = morton_sql("dq", "pq", 16)
    slice_p = (
        f"CASE WHEN mnp < {_Z_SLICE_HI} AND mxp >= {_Z_SLICE_LO} "
        "THEN 1 ELSE 0 END"
    )
    slice_d = (
        f"CASE WHEN mnd < {_Z_SLICE_HI} AND mxd >= {_Z_SLICE_LO} "
        "THEN 1 ELSE 0 END"
    )
    return f"""
    WITH bounds AS (
      SELECT CAST(max(date_diff('day', DATE '1995-01-01',
                                CAST(l_shipdate AS DATE))) AS BIGINT) AS dmax,
             CAST(max(l_partkey) AS BIGINT) AS pmax
      FROM lineitem
    ),
    q AS (
      SELECT (CAST(date_diff('day', DATE '1995-01-01',
                             CAST(l_shipdate AS DATE)) AS BIGINT) * 65536)
               // (dmax + 1) AS dq,
             (CAST(l_partkey AS BIGINT) * 65536) // (pmax + 1) AS pq
      FROM lineitem CROSS JOIN bounds
    ),
    zk AS (
      SELECT {z} // {_Z_FILE_W} AS zf,
             (dq * 65536 + pq) // {_Z_FILE_W} AS lf,
             dq, pq
      FROM q
    ),
    pair AS (
      SELECT zf, lf, min(dq) AS mnd, max(dq) AS mxd,
             min(pq) AS mnp, max(pq) AS mxp
      FROM zk GROUP BY zf, lf
    ),
    files AS (
      SELECT 'zorder' AS layout, zf AS f, min(mnd) AS mnd, max(mxd) AS mxd,
             min(mnp) AS mnp, max(mxp) AS mxp
      FROM pair GROUP BY zf
      UNION ALL
      SELECT 'linear', lf, min(mnd), max(mxd), min(mnp), max(mxp)
      FROM pair GROUP BY lf
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(mxd - mnd) AS BIGINT) // CAST(count(*) AS BIGINT)
             AS avg_day_span,
           CAST(sum(mxp - mnp) AS BIGINT) // CAST(count(*) AS BIGINT)
             AS avg_part_span,
           CAST(sum({slice_p}) AS BIGINT) AS files_hit_part_slice,
           CAST(sum({slice_d}) AS BIGINT) AS files_hit_day_slice
    FROM files GROUP BY layout
    """


@register(
    "zorder_layout_audit",
    oracle=_zorder_audit_oracle(),
    tags=("batch", "scale", "layout", "zorder", "clustering"),
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-layout planning artifact behind an OPTIMIZE ZORDER
    decision: cluster lineitem into 32 equal-width "files" two ways — a
    32-bit Morton (z-order) interleave of (ship-day, partkey), both
    quantized to 16 bits via :func:`..operators.sketch.morton_interleave`,
    vs the linear day-major sort — and report, per layout, the file count,
    the average per-file min-max span of each dimension (what min-max zone
    maps / parquet footers can prune on), and how many files a 1/16-domain
    slice predicate on EACH dimension actually touches. The comparative
    twin of :func:`layout_zorder_stats` (which pins one layout's aligned
    file rectangles on events): this one puts BOTH layouts on one table so
    the trade reads off directly — linear clusters one dimension perfectly
    (day slice -> 2 files) and the other not at all (part slice -> all 32),
    z-order makes BOTH prunable at ~sqrt efficiency (measured: part slice
    4 of 32 files, day slice 8 of 32 — the asymmetry is the interleave's
    bit order) — exactly why multi-dimensional layouts win for
    multi-predicate scan workloads at 100 TB, and when they don't.

    Scale shape: quantization bounds ride a broadcast 1-row aggregate;
    the ONLY fact-sized operation is one aggregation to (z-file, linear-
    file) PAIR grain (<= 1024 rows — value-range bucketing, ``z div 2^27``,
    needs no global sort, unlike row_number-based file assignment); both
    per-layout rollups re-aggregate that bounded pair table. The bit
    interleave is shift/mask integer algebra inside whole-stage codegen,
    identical in both engines, so the audit is value-hash-verified."""
    from ..operators.sketch import morton_interleave

    li = catalog(spark, sf_dir).lineitem
    bounds = li.agg(
        F.datediff(
            F.max(F.col("l_shipdate").cast("date")),
            F.lit("1995-01-01").cast("date"),
        )
        .cast("long")
        .alias("dmax"),
        F.max("l_partkey").cast("long").alias("pmax"),
    )
    q = li.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            "(CAST(datediff(CAST(l_shipdate AS DATE), DATE '1995-01-01')"
            " AS BIGINT) * 65536) div (dmax + 1)"
        ).alias("dq"),
        F.expr("(CAST(l_partkey AS BIGINT) * 65536) div (pmax + 1)").alias(
            "pq"
        ),
    )
    zk = q.select(
        (morton_interleave(F.col("dq"), F.col("pq"), 16) / F.lit(_Z_FILE_W))
        .cast("long")
        .alias("zf"),
        F.expr(f"(dq * 65536 + pq) div {_Z_FILE_W}").alias("lf"),
        "dq",
        "pq",
    )
    pair = zk.groupBy("zf", "lf").agg(
        F.min("dq").alias("mnd"),
        F.max("dq").alias("mxd"),
        F.min("pq").alias("mnp"),
        F.max("pq").alias("mxp"),
    )

    def rollup(col: str, label: str) -> DataFrame:
        return pair.groupBy(F.col(col).alias("f")).agg(
            F.lit(label).alias("layout"),
            F.min("mnd").alias("mnd"),
            F.max("mxd").alias("mxd"),
            F.min("mnp").alias("mnp"),
            F.max("mxp").alias("mxp"),
        )

    files = rollup("zf", "zorder").unionByName(rollup("lf", "linear"))
    hit_p = F.when(
        (F.col("mnp") < _Z_SLICE_HI) & (F.col("mxp") >= _Z_SLICE_LO), 1
    ).otherwise(0)
    hit_d = F.when(
        (F.col("mnd") < _Z_SLICE_HI) & (F.col("mxd") >= _Z_SLICE_LO), 1
    ).otherwise(0)
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.expr("sum(mxd - mnd) div count(1)").alias("avg_day_span"),
        F.expr("sum(mxp - mnp) div count(1)").alias("avg_part_span"),
        F.sum(hit_p).alias("files_hit_part_slice"),
        F.sum(hit_d).alias("files_hit_day_slice"),
    )


# --------------------------------------------------- range-partition planner

_RP_PARTS = 16  # target write partitions


def _rp_oracle() -> str:
    bcols = ", ".join(
        f"min(CASE WHEN cum >= (n * {i} + {_RP_PARTS - 1}) // {_RP_PARTS}"
        f" THEN c END) AS b{i}"
        for i in range(1, _RP_PARTS)
    )
    pid = " + ".join(
        f"(CASE WHEN g.c >= b.b{i} THEN 1 ELSE 0 END)"
        for i in range(1, _RP_PARTS)
    )
    return f"""
    WITH g AS (
      SELECT {cents_sql('value')} AS c FROM events WHERE value IS NOT NULL
    ),
    h AS (SELECT c, count(*) AS n FROM g GROUP BY c),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
    cc AS (
      SELECT h.c, sum(h.n) OVER (ORDER BY h.c) AS cum, t.n AS n
      FROM h, t
    ),
    b AS (SELECT {bcols} FROM cc),
    p AS (SELECT g.c, CAST({pid} AS INTEGER) AS pid FROM g, b)
    SELECT pid,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(p.c) AS min_cents,
           max(p.c) AS max_cents,
           CAST(1000 * count(*) * {_RP_PARTS} // max(t.n) AS BIGINT)
             AS fill_permille
    FROM p, t GROUP BY pid ORDER BY pid
    """


@register(
    "range_partition_plan",
    oracle=_rp_oracle(),
    tags=("scale", "layout", "range-partition", "exact-arithmetic"),
)
def range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced range-partition boundary planner — the write-path twin of
    the z-order audit: derive 16-way split points as exact quantiles of
    the value distribution (what ``repartitionByRange`` estimates by
    SAMPLING, here computed exactly from a value-grain histogram), assign
    every row to its partition, and audit per-partition fill against the
    ideal 1/16 share in integer permille. The fill column is the skew
    answer a 100 TB sorted-write job needs BEFORE launching: a boundary
    set computed from a bad sample shows up as a 3000-permille partition
    and a straggler task. Scale shape: the corpus collapses once to cents
    grain (bounded domain — the histogram-family invariant); the
    cumulative walk runs on that bounded grain; boundaries come back as
    ONE broadcast row of 15 split points and assignment is a 15-compare
    map — no sort, no sampling pass, no per-row shuffle beyond the final
    16-group aggregation."""
    from pyspark.sql import Window

    ev = catalog(spark, sf_dir).events
    g = ev.filter(F.col("value").isNotNull()).select(cents("value").alias("c"))
    h = g.groupBy("c").agg(F.count(F.lit(1)).alias("n"))
    tot = g.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    # cents-grain cumulative walk: bounded domain, same invariant as histq
    wc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cc = h.select("c", F.sum("n").over(wc).alias("cum")).crossJoin(
        F.broadcast(tot)
    )
    bnd = cc.agg(
        *[
            F.min(
                F.when(
                    F.col("cum")
                    >= F.expr(f"(n_total * {i} + {_RP_PARTS - 1}) div {_RP_PARTS}"),
                    F.col("c"),
                )
            ).alias(f"b{i}")
            for i in range(1, _RP_PARTS)
        ]
    )
    pid = sum(
        F.when(F.col("c") >= F.col(f"b{i}"), 1).otherwise(0)
        for i in range(1, _RP_PARTS)
    )
    p = g.crossJoin(F.broadcast(bnd)).select(
        "c", pid.cast("int").alias("pid")
    )
    return (
        p.crossJoin(F.broadcast(tot))
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
            F.expr(f"1000 * count(1) * {_RP_PARTS} div max(n_total)").alias(
                "fill_permille"
            ),
        )
        .orderBy("pid")
    )


# ------------------------------------------------------- bitmap user index

_BM_WORD = 32  # bits per bitmap word (kept inside int64's positive range)


@register(
    "bitmap_user_type_index",
    oracle=f"""
    WITH w AS (
      SELECT event_type, user_id // {_BM_WORD} AS word_idx,
             bit_or(1::BIGINT << CAST(user_id % {_BM_WORD} AS INTEGER))
               AS bits
      FROM events GROUP BY 1, 2
    ),
    card AS (
      SELECT event_type, CAST(sum(bit_count(bits)) AS BIGINT) AS n_users
      FROM w GROUP BY event_type
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           ca.n_users AS n_a, cb.n_users AS n_b,
           CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_both,
           ca.n_users + cb.n_users
             - CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_either,
           CAST(1000 * CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT)
                // (ca.n_users + cb.n_users
                    - CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT))
             AS BIGINT) AS jaccard_permille
    FROM w a
    JOIN w b ON a.word_idx = b.word_idx AND a.event_type < b.event_type
    JOIN card ca ON ca.event_type = a.event_type
    JOIN card cb ON cb.event_type = b.event_type
    GROUP BY 1, 2, ca.n_users, cb.n_users
    ORDER BY 1, 2
    """,
    tags=("scale", "bitmap-index", "set-ops", "exact-arithmetic"),
)
def bitmap_user_type_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP-INDEX set algebra — the roaring-bitmap idea in engine
    primitives: compress each event type's user set into 32-bit words
    (``bit_or`` of one-hot bits over ``user_id`` buckets), then answer
    every pairwise audience-overlap question with word-aligned AND +
    popcount instead of distinct-joins over raw events. The exact
    mergeable structure OLAP engines use for segment membership: the
    bitmap build is one map-side-combined aggregation at (type, word)
    grain, each word summarizing up to 32 users in 8 bytes; intersections
    join word-to-word (co-partitioned on word_idx), so the set operation
    cost is |user domain|/32 words per type regardless of event volume.
    Reports overlap cardinality and Jaccard in integer permille for every
    type pair — same answers as a distinct-join, at index cost. One
    caveat stated plainly: positional bitmaps fit dense integer key
    domains (user_id here); sparse domains need the roaring-style
    container mix this query's word grain stands in for."""
    ev = catalog(spark, sf_dir).events
    w = (
        ev.groupBy(
            "event_type", F.expr(f"user_id div {_BM_WORD}").alias("word_idx")
        )
        .agg(
            F.expr(
                f"bit_or(shiftleft(1L, CAST(user_id % {_BM_WORD} AS INT)))"
            ).alias("bits")
        )
    )
    card = w.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_users")
    )
    a = w.select(
        F.col("event_type").alias("type_a"),
        "word_idx",
        F.col("bits").alias("bits_a"),
    )
    b = w.select(
        F.col("event_type").alias("type_b"),
        F.col("word_idx").alias("word_b"),
        F.col("bits").alias("bits_b"),
    )
    inter = (
        a.join(
            b,
            (F.col("word_idx") == F.col("word_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("bits_a").bitwiseAND(F.col("bits_b")))).alias(
                "n_both"
            )
        )
    )
    return (
        inter.join(
            card.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")),
            "type_a",
        )
        .join(
            card.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (F.col("n_a") + F.col("n_b") - F.col("n_both")).alias("n_either"),
            F.expr("1000 * n_both div (n_a + n_b - n_both)").alias(
                "jaccard_permille"
            ),
        )
        .orderBy("type_a", "type_b")
    )


# ------------------------------------------------------ Hilbert-curve layout

_H_BITS = 8            # 8-bit quantization per dimension: 256x256 cells
_H_N = 1 << _H_BITS
_H_FILE_W = (_H_N * _H_N) // 32          # 32 equal-width "files"
_H_SLICE_LO, _H_SLICE_HI = 96, 112       # a 1/16 slice of the 8-bit domain


def _hilbert_level_exprs() -> list[tuple[str, str, str]]:
    """Per-level (d, x, y) update expressions for the Hilbert walk —
    plain CASE/bit-mask SQL, engine-portable verbatim (the quadrant digit
    ``(3*rx) XOR ry`` is folded into CASE arms so no xor spelling is
    needed). Verified bijective with unit-step adjacency for the full
    256x256 grid in tests."""
    out = []
    for k in range(_H_BITS):
        s = 1 << (_H_BITS - 1 - k)
        a = f"((x & {s}) > 0)"   # rx
        b = f"((y & {s}) > 0)"   # ry
        digit = (
            f"CASE WHEN {b} THEN (CASE WHEN {a} THEN 2 ELSE 1 END)"
            f" ELSE (CASE WHEN {a} THEN 3 ELSE 0 END) END"
        )
        d = f"d + {s * s} * ({digit})"
        x = (
            f"CASE WHEN {b} THEN x WHEN {a} THEN {_H_N - 1} - y"
            " ELSE y END"
        )
        y = (
            f"CASE WHEN {b} THEN y WHEN {a} THEN {_H_N - 1} - x"
            " ELSE x END"
        )
        out.append((d, x, y))
    return out


def _hilbert_audit_oracle() -> str:
    from ..operators.sketch import morton_sql

    levels = _hilbert_level_exprs()
    ctes = [f"""
    WITH b AS (
      SELECT CAST(date_diff('day', DATE '1995-01-01',
                   max(CAST(l_shipdate AS DATE))) AS BIGINT) AS dmax,
             CAST(max(l_partkey) AS BIGINT) AS pmax
      FROM lineitem
    ),
    cells AS (
      SELECT DISTINCT
        (CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))
          AS BIGINT) * {_H_N}) // (b.dmax + 1) AS dq,
        (CAST(l_partkey AS BIGINT) * {_H_N}) // (b.pmax + 1) AS pq
      FROM lineitem, b
    ),
    h0 AS (SELECT dq, pq, dq AS x, pq AS y, 0 AS d FROM cells)"""]
    for k, (d, x, y) in enumerate(levels):
        ctes.append(f""",
    h{k + 1} AS (SELECT dq, pq, {x} AS x, {y} AS y, {d} AS d FROM h{k})""")
    ctes.append(f""",
    keyed AS (
      SELECT dq, pq,
             d // {_H_FILE_W} AS hf,
             {morton_sql('dq', 'pq', _H_BITS)} // {_H_FILE_W} AS zf,
             (dq * {_H_N} + pq) // {_H_FILE_W} AS lf
      FROM h{_H_BITS}
    ),
    files AS (
      SELECT 'hilbert' AS layout, hf AS f, min(dq) AS mnd, max(dq) AS mxd,
             min(pq) AS mnp, max(pq) AS mxp FROM keyed GROUP BY hf
      UNION ALL
      SELECT 'zorder', zf, min(dq), max(dq), min(pq), max(pq)
      FROM keyed GROUP BY zf
      UNION ALL
      SELECT 'linear', lf, min(dq), max(dq), min(pq), max(pq)
      FROM keyed GROUP BY lf
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(mxd - mnd) // count(*) AS BIGINT) AS avg_day_span,
           CAST(sum(mxp - mnp) // count(*) AS BIGINT) AS avg_part_span,
           CAST(sum(CASE WHEN mnp < {_H_SLICE_HI} AND mxp >= {_H_SLICE_LO}
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_part_slice,
           CAST(sum(CASE WHEN mnd < {_H_SLICE_HI} AND mxd >= {_H_SLICE_LO}
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_hit_day_slice
    FROM files GROUP BY layout ORDER BY layout""")
    return "".join(ctes)


@register(
    "hilbert_layout_audit",
    oracle=_hilbert_audit_oracle(),
    tags=("batch", "scale", "layout", "hilbert", "zorder", "clustering"),
)
def hilbert_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way data-layout audit — HILBERT curve vs Morton (z-order) vs
    linear sort — on the same (ship-day, partkey) grid: cluster into 32
    equal-width files per layout and report per-file min-max spans and
    how many files a 1/16-domain slice on each dimension touches. The
    Hilbert curve is the stronger space-filling curve (every unit step is
    axis-adjacent, no Morton 'seams'), which shows up as tighter per-file
    rectangles at the same file count — the measurement behind choosing
    CLUSTER BY (hilbert) over ZORDER when both are on the menu. The walk
    is 8 chained integer CASE projections (one per bit level, linear plan
    growth, no state machine), identical SQL text in both engines, and is
    pinned bijective + unit-step-adjacent over the full 256x256 grid by a
    property test.

    Scale shape: the ONLY corpus-sized operation is one DISTINCT to the
    quantized 8-bit cell grid (<= 65,536 rows whatever the fact size —
    the bounded-domain invariant); the Hilbert chain, Morton interleave
    and all three rollups run on that bounded cell table. Quantization
    bounds ride a broadcast 1-row aggregate."""
    from ..operators.sketch import morton_interleave

    li = catalog(spark, sf_dir).lineitem
    bounds = li.agg(
        F.datediff(
            F.max(F.col("l_shipdate").cast("date")),
            F.lit("1995-01-01").cast("date"),
        )
        .cast("long")
        .alias("dmax"),
        F.max("l_partkey").cast("long").alias("pmax"),
    )
    cells = (
        li.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                "(CAST(datediff(CAST(l_shipdate AS DATE), DATE '1995-01-01')"
                f" AS BIGINT) * {_H_N}) div (dmax + 1)"
            ).alias("dq"),
            F.expr(
                f"(CAST(l_partkey AS BIGINT) * {_H_N}) div (pmax + 1)"
            ).alias("pq"),
        )
        .distinct()
    )
    cur = cells.selectExpr("dq", "pq", "dq AS x", "pq AS y", "0 AS d")
    for d, x, y in _hilbert_level_exprs():
        cur = cur.selectExpr("dq", "pq", f"{x} AS x", f"{y} AS y", f"{d} AS d")
    keyed = cur.select(
        "dq",
        "pq",
        F.expr(f"d div {_H_FILE_W}").alias("hf"),
        (morton_interleave(F.col("dq"), F.col("pq"), _H_BITS) / F.lit(_H_FILE_W))
        .cast("long")
        .alias("zf"),
        F.expr(f"(dq * {_H_N} + pq) div {_H_FILE_W}").alias("lf"),
    )

    def rollup(col: str, label: str) -> DataFrame:
        return keyed.groupBy(F.col(col).alias("f")).agg(
            F.lit(label).alias("layout"),
            F.min("dq").alias("mnd"),
            F.max("dq").alias("mxd"),
            F.min("pq").alias("mnp"),
            F.max("pq").alias("mxp"),
        )

    files = (
        rollup("hf", "hilbert")
        .unionByName(rollup("zf", "zorder"))
        .unionByName(rollup("lf", "linear"))
    )
    hit_p = F.when(
        (F.col("mnp") < _H_SLICE_HI) & (F.col("mxp") >= _H_SLICE_LO), 1
    ).otherwise(0)
    hit_d = F.when(
        (F.col("mnd") < _H_SLICE_HI) & (F.col("mxd") >= _H_SLICE_LO), 1
    ).otherwise(0)
    return (
        files.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.expr("sum(mxd - mnd) div count(1)").alias("avg_day_span"),
            F.expr("sum(mxp - mnp) div count(1)").alias("avg_part_span"),
            F.sum(hit_p).alias("files_hit_part_slice"),
            F.sum(hit_d).alias("files_hit_day_slice"),
        )
        .orderBy("layout")
    )
