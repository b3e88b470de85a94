"""Streaming-operator query suite beyond the reference's tumbling windows.

The reference uses only 60-minute tumbling windows (SURVEY.md §2.7: no
sliding/session windows, no arbitrary state). A complete streaming engine
needs the rest. Five queries here register batch forms (sliding and
session windows, as-of joins); the other fourteen execute a real
Structured Streaming query inside the query call — custom stateful
operators (``applyInPandasWithState``), stream-stream joins, watermarked
dedup, session and tumbling windows, a stream-static temporal join and the
``foreachBatch`` corpus ingests — and stay oracle-checked because an
availableNow run over fixed input files is deterministic.

Bounded-run contract. Every one of the fourteen drains its input through
``_bounded_run``, i.e. ``streaming.runner.run_available_now``: the run
processes everything available and stops, or is stopped and raises
``TimeoutError`` after five minutes, so a partial result is never
returned. Each call owns one temp work directory (the checkpoint plus any
landing or state directories), removed on exit whether the run succeeds
or fails. The shuffle partition count is 8 for the run (the session's
batch-sized count would give each stateful operator that many tiny tasks
per micro-batch), and the session's value is back afterwards. A
memory-sink run (``_memory_run``) writes to a uniquely named table and
drops its view once the frame is taken; the frame keeps the rows. A
``foreachBatch`` run materializes its result (``localCheckpoint``) before
its work directory goes. So a call leaves nothing in the temp directory,
the session conf or the session catalog.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.money import cents, cents_sql
from ..streaming.runner import run_available_now
from ..streaming.stateful import IVM_LOW, IVM_MID
from ..functions.windows import flatten_window
from .common import catalog
from .registry import register


@contextmanager
def _bounded_run(spark: SparkSession) -> Iterator[tuple[str, Callable]]:
    """Yield ``(work, run)`` under the module's bounded-run contract:
    ``run(df, sink, output_mode="append")`` drains ``df`` into ``sink`` on
    the one checkpoint ``<work>/ckpt``; ``work`` is removed on exit."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    work = tempfile.mkdtemp(prefix="streamq_")

    def run(df: DataFrame, sink, output_mode: str = "append") -> None:
        run_available_now(df, sink, f"{work}/ckpt", output_mode, timeout_sec=300)

    try:
        spark.conf.set(key, "8")
        yield work, run
    finally:
        spark.conf.set(key, prev)
        shutil.rmtree(work, ignore_errors=True)


def _memory_run(
    spark: SparkSession, df: DataFrame, output_mode: str = "append"
) -> DataFrame:
    """Drain ``df`` into a fresh memory table; return its frame, view dropped."""
    name = f"streamq_{uuid.uuid4().hex}"
    try:
        with _bounded_run(spark) as (_, run):
            run(df, name, output_mode)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def _fixture_stream(
    spark: SparkSession, sf_dir: str, table: str = "events"
) -> DataFrame:
    """Stream one fixture file with its raw schema. The file source wants a
    directory, so glob-filter to the one file inside ``sf_dir``."""
    raw_schema = spark.read.parquet(catalog(spark, sf_dir).path(table)).schema
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def _ts_micros(stream: DataFrame) -> Column:
    """Event time as integer microseconds, whichever way the source surfaces
    the ns-parquet ``ts``: a LongType of nanoseconds under nanosAsLong (a
    straight cast to TIMESTAMP would saturate), a TIMESTAMP_NTZ otherwise
    (via TIMESTAMP, the identity under UTC). Microseconds are the oracle
    engine's precision, and (ts_us, event_id) stays a total order."""
    if isinstance(stream.schema["ts"].dataType, LongType):
        return F.expr("ts div 1000")
    return F.unix_micros(F.col("ts").cast("timestamp"))


@register(
    "sliding_window_counts",
    oracle="""
    WITH c AS (
      SELECT date_trunc('hour', ts) AS ws FROM events
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws FROM events
    )
    SELECT CAST(ws AS DATE) AS date,
           strftime(ws, '%H:%M:%S') AS start_time,
           strftime(ws + INTERVAL 2 HOUR, '%H:%M:%S') AS end_time,
           count(*) AS total_events
    FROM c GROUP BY ws
    """,
    tags=("streaming-op", "sliding-window"),
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding by 1 hour: each event lands in two windows
    (Spark's Expand under the hood — state doubles, shuffle key count
    doubles; size slide/duration accordingly at scale)."""
    ev = catalog(spark, sf_dir).events
    agg = ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("window")).agg(
        F.count(F.lit(1)).alias("total_events")
    )
    return flatten_window(agg)


@register(
    "session_windows",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           sum({cents_sql('value')}) / 100.0 AS total_value
    FROM s GROUP BY user_id, sid
    """,
    tags=("streaming-op", "session-window"),
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute inactivity gap): Spark's
    ``session_window`` merges events closer than the gap; window end =
    last event + gap. In streaming mode the same expression runs with a
    watermark and merging state. Oracle: the classic gaps-and-islands SQL."""
    ev = catalog(spark, sf_dir).events
    # session_window requires TIMESTAMP (LTZ); identity cast under UTC.
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents("value")) / 100.0).alias("total_value"),
    )
    return agg.select(
        "user_id",
        F.col("w.start").cast("timestamp_ntz").alias("session_start"),
        F.col("w.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        "total_value",
    )


@register(
    "asof_last_click_before_purchase",
    oracle="""
    SELECT event_id, user_id, ts, last_click_ts FROM (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_ts
      FROM events
    ) WHERE event_type = 'purchase'
    """,
    tags=("streaming-op", "asof-join"),
)
def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of lookup: for each purchase, the user's most recent prior click
    in (ts, event_id) order — expressed through the library
    :func:`operators.joins.asof_join` (pandas ``merge_asof`` semantics as
    one union + one analytic window, single shuffle on user_id; VERDICT
    r6 #5's library-first discipline applied to the as-of idiom). The
    unique event_id tie-break gives a total order, so "prior" is exact
    even for same-timestamp click/purchase pairs — identical to the
    original single-table window form, hash-verified unchanged."""
    from ..operators.joins import asof_join

    ev = catalog(spark, sf_dir).events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.col("ts").alias("last_click_ts")
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        order_by=["ts", "event_id"],
        payload=["last_click_ts"],
    )


@register(
    "asof_next_purchase_after_error",
    oracle="""
    SELECT event_id, user_id, ts, next_purchase_ts FROM (
      SELECT event_id, user_id, ts, event_type,
             first_value(CASE WHEN event_type = 'purchase' THEN ts END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purchase_ts
      FROM events
    ) WHERE event_type = 'error'
    """,
    tags=("streaming-op", "asof-join", "forward"),
)
def asof_next_purchase_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of lookup ("did the user recover?"): for each error,
    the same user's next purchase in (ts, event_id) order — the
    operator-library :func:`operators.joins.asof_join` run in
    ``direction="forward"``, giving that mode a registered, externally
    hash-pinned consumer (backward already has one:
    ``asof_last_click_before_purchase``; the other modes stay pinned by
    the 4-mode merge_asof cross-check tests). The unique event_id
    tie-break makes the total order exact, so exact-tuple matches cannot
    occur and the oracle's 1-FOLLOWING window frame is the precise
    mirror. Same scale shape as backward: one union + one analytic
    window, single user_id shuffle, no inequality join."""
    from ..operators.joins import asof_join

    ev = catalog(spark, sf_dir).events
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.col("ts").alias("next_purchase_ts")
    )
    return asof_join(
        errors,
        purchases,
        on=["user_id"],
        order_by=["ts", "event_id"],
        payload=["next_purchase_ts"],
        direction="forward",
    )


@register(
    "stream_user_stats",
    oracle=f"""
    SELECT user_id, count(*) AS n_events,
           sum({cents_sql('value')}) / 100.0 AS total_value
    FROM events GROUP BY user_id
    """,
    tags=("streaming-op", "stateful", "applyInPandasWithState"),
)
def stream_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user running (count, cents)
    kept in explicit GroupState via ``applyInPandasWithState``, executed
    here as a real availableNow streaming query over the fixture file.

    One input file -> one micro-batch -> one emission per user, so the
    result is deterministic and equals the batch grouping (the oracle).
    With multiple batches the operator emits cumulative snapshots per batch
    — the pattern for live per-key counters at scale (state is per-key,
    shuffle is one row per key per batch).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructField, StructType

    from ..streaming.stateful import USER_STATS_SCHEMA

    # ts stays raw: this operator only needs user_id/value.
    narrow = _fixture_stream(spark, sf_dir).select(
        "user_id", cents("value").alias("c")
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("c", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        n, c = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            c += int(pdf["c"].sum())
        state.update((n, c))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [c]}
        )

    stats = narrow.groupBy("user_id").applyInPandasWithState(
        update, USER_STATS_SCHEMA, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )
    return _memory_run(spark, stats).select(
        "user_id",
        "n_events",
        (F.col("total_cents") / 100.0).alias("total_value"),
    )


@register(
    "asof_cogrouped_pandas",
    oracle="""
    SELECT event_id, user_id, ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = e.user_id AND c.event_type = 'click'
              AND c.ts < e.ts) AS last_click_ts
    FROM events e WHERE event_type = 'purchase'
    """,
    tags=("streaming-op", "asof-join", "pandas-udf", "cogrouped-map"),
)
def asof_cogrouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cogrouped-map pandas showcase: per-user as-of merge of two event
    streams via ``groupBy().cogroup().applyInPandas`` (pandas ``merge_asof``
    inside, strict strictly-before semantics) — the sixth and last Arrow UDF
    flavor (scalar, grouped-map, cogrouped-map, mapInPandas, mapInArrow,
    stateful), value-verified against a correlated-subquery oracle. This is
    the slot for two-sided per-key Python logic (feature backfills, custom
    event alignment) that the JVM window form can't express; for plain as-of
    semantics prefer the window plan (``asof_last_click_before_purchase``).
    Scale shape: one shuffle of each side on user_id, Arrow-batched per-key
    frames, output rows only. The keyed ``repartition(16)`` before the
    cogroup is a parallelism FLOOR for the Python stage: AQE coalesces
    shuffles by byte size, and a pandas stage's per-byte cost is ~100x a
    JVM stage's, so byte-based coalescing collapsed this to ONE task
    (measured 6.8s -> 0.9s at sf0.1 with the floor; the explicit-N
    repartition is exempt from AQE coalescing and the cogroup reuses its
    partitioning — still one Exchange per side)."""
    import pandas as pd

    ev = catalog(spark, sf_dir).events
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .repartition(16, "user_id")
    )
    # The click side gets RENAMED columns: both inputs derive from the same
    # scan, and with shared attribute ids Catalyst prunes the right side's
    # ts away under the engine session's optimizer settings (observed: right
    # frames arrive with only [user_id]). Distinct names keep both lineages
    # intact under any optimizer configuration.
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user_id"), F.col("ts").alias("c_ts"))
        .repartition(16, "c_user_id")
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                columns=["event_id", "user_id", "ts", "last_click_ts"]
            )
        out = left.sort_values("ts", kind="mergesort")
        if right.empty:
            out = out.assign(last_click_ts=pd.NaT)
        else:
            out = pd.merge_asof(
                out,
                right.sort_values("c_ts", kind="mergesort")[["c_ts"]].assign(
                    last_click_ts=lambda d: d["c_ts"]
                ),
                left_on="ts",
                right_on="c_ts",
                direction="backward",
                allow_exact_matches=False,
            )
        return out[["event_id", "user_id", "ts", "last_click_ts"]]

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("c_user_id"))
        .applyInPandas(
            merge,
            "event_id long, user_id long, ts timestamp_ntz, last_click_ts timestamp_ntz",
        )
    )


def _join_side(spark: SparkSession, sf_dir: str, etype: str) -> DataFrame:
    """One side of the stream-stream interval joins: the ``etype`` events
    as ``<etype>_id``/``_user``/``_ts`` (LTZ event time), 60-minute
    watermark. Each side gets its own reader of the fixture file: a real
    stream-stream join needs two sources, each with its own offsets."""
    s = _fixture_stream(spark, sf_dir)
    return (
        s.filter(F.col("event_type") == etype)
        .select(
            F.col("event_id").alias(f"{etype}_id"),
            F.col("user_id").alias(f"{etype}_user"),
            F.timestamp_micros(_ts_micros(s)).alias(f"{etype}_ts"),
        )
        .withWatermark(f"{etype}_ts", "60 minutes")
    )


@register(
    "stream_click_purchase_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           p.ts AS purchase_ts, c.ts AS click_ts
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
    """,
    tags=("streaming-op", "stream-stream-join", "interval-join", "watermark"),
)
def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join, executed as a real
    Structured Streaming query: purchases joined to the same user's clicks
    from the strictly-prior hour. The one surface none of the other
    streaming queries cover — two unbounded sides, each buffering rows in
    state until the other side's watermark passes the interval.

    Scale shape: both watermarks are 60 minutes and the join interval is
    one hour, so each side's state holds at most ~2 hours of events per
    user regardless of stream length — the interval condition is what
    makes unbounded-join state bounded (without it Spark rejects the plan
    outright in append mode). One availableNow batch over the fixture file
    is deterministic and drops nothing (late-row eviction applies from the
    second batch on), so the result equals the batch range join — the
    DuckDB oracle."""
    purchases = _join_side(spark, sf_dir, "purchase")
    clicks = _join_side(spark, sf_dir, "click")
    joined = purchases.join(
        clicks,
        F.expr(
            """
            purchase_user = click_user
            AND click_ts >= purchase_ts - INTERVAL 1 HOUR
            AND click_ts < purchase_ts
            """
        ),
        "inner",
    ).select(
        F.col("purchase_id"),
        F.col("click_id"),
        F.col("purchase_user").alias("user_id"),
        F.col("purchase_ts").cast("timestamp_ntz"),
        F.col("click_ts").cast("timestamp_ntz"),
    )

    return _memory_run(spark, joined)


@register(
    "stream_click_purchase_outer",
    oracle="""
    WITH w AS (
      SELECT least(
               max(CASE WHEN event_type = 'click' THEN ts END),
               max(CASE WHEN event_type = 'purchase' THEN ts END)
             ) - INTERVAL 60 MINUTE AS wm
      FROM events
    ),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
          FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
          FROM events WHERE event_type = 'purchase')
    SELECT c.click_id, c.user_id, c.click_ts, p.purchase_id, p.purchase_ts
    FROM c JOIN p ON p.user_id = c.user_id
      AND p.purchase_ts > c.click_ts
      AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT c.click_id, c.user_id, c.click_ts,
           CAST(NULL AS BIGINT) AS purchase_id,
           CAST(NULL AS TIMESTAMP) AS purchase_ts
    FROM c, w
    WHERE c.click_ts + INTERVAL 1 HOUR < w.wm
      AND NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = c.user_id
          AND p.purchase_ts > c.click_ts
          AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
      )
    """,
    tags=(
        "streaming-op",
        "stream-stream-join",
        "outer-join",
        "interval-join",
        "watermark",
        "state-eviction",
    ),
)
def stream_click_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join, executed as a
    real Structured Streaming query: every click joined to the same user's
    purchases in the FOLLOWING hour; clicks that convert emit matched rows
    immediately, clicks that don't emit exactly one NULL-joined row — but
    only once the watermark proves no match can still arrive. That
    NULL-row emission contract is the whole point of the outer variant
    (the inner join is ``stream_click_purchase_join``): a row leaves state
    when its entire match window (click_ts, click_ts + 1h] falls below
    the GLOBAL watermark — the MIN of the two sides' watermarks (each =
    that side's max event time - 60 min), which is why the oracle's ``w``
    CTE takes ``least()`` over per-type maxima. Clicks near the end of the
    fixture stay pending forever (their window never closes), and the
    oracle encodes exactly that: this verifies the emission semantics
    themselves, not just the join math. State stays bounded at ~2 h of
    events per side regardless of stream length, same as the inner
    variant."""
    clicks = _join_side(spark, sf_dir, "click")
    purchases = _join_side(spark, sf_dir, "purchase")
    joined = clicks.join(
        purchases,
        F.expr(
            """
            click_user = purchase_user
            AND purchase_ts > click_ts
            AND purchase_ts <= click_ts + INTERVAL 1 HOUR
            """
        ),
        "left_outer",
    ).select(
        F.col("click_id"),
        F.col("click_user").alias("user_id"),
        F.col("click_ts").cast("timestamp_ntz"),
        F.col("purchase_id"),
        F.col("purchase_ts").cast("timestamp_ntz"),
    )

    return _memory_run(spark, joined)


@register(
    "stream_dedup_events",
    oracle="""
    SELECT DISTINCT user_id, event_type,
           date_trunc('minute', ts) AS minute_ts
    FROM events
    """,
    tags=("streaming-op", "dedup", "watermark", "dropDuplicatesWithinWatermark"),
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with BOUNDED state, executed as a real
    Structured Streaming query: ``dropDuplicatesWithinWatermark`` keeps the
    first row per (user, type, minute) and — unlike plain
    ``dropDuplicates``, whose key state lives forever — evicts each key's
    state once the 30-minute watermark passes it. That eviction is what
    makes exactly-once-style dedup of an at-least-once source (Kafka
    redelivery, replayed files) runnable indefinitely: state size is keys
    per watermark horizon, not keys per stream lifetime.

    Only the key columns are emitted: which duplicate arrives first within
    a micro-batch is execution-order-dependent, the key set is not — so the
    one-file availableNow run is deterministic and equals the batch
    ``SELECT DISTINCT`` (the oracle)."""
    stream = _fixture_stream(spark, sf_dir)
    ts_expr = F.timestamp_micros(_ts_micros(stream))
    deduped = (
        stream.select(
            "user_id",
            "event_type",
            F.date_trunc("minute", ts_expr).alias("minute_ts"),
        )
        .withWatermark("minute_ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_ts"])
        .select(
            "user_id", "event_type", F.col("minute_ts").cast("timestamp_ntz")
        )
    )

    return _memory_run(spark, deduped)


@register(
    "stream_session_windows",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           sum({cents_sql('value')}) / 100.0 AS total_value
    FROM s GROUP BY user_id, sid
    HAVING max(ts) + INTERVAL 30 MINUTE
           <= (SELECT max(ts) FROM events) - INTERVAL 30 MINUTE
    """,
    tags=("streaming-op", "session-window", "watermark", "append-finalization"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows executed as a REAL streaming query — the merging-
    window stateful operator (``session_window`` + watermark, append mode),
    where ``session_windows`` registers the batch form. Append mode emits a
    session only once the 30-minute watermark passes its end, so the
    availableNow run yields exactly the FINALIZED sessions: every session
    whose end precedes (max event time - 30 min). The oracle is the batch
    gaps-and-islands SQL with that finalization predicate — pinning not
    just the session math but the watermark emission contract itself (the
    13 tail sessions at sf0.01 stay in state, exactly as a live stream
    would hold them awaiting more data). State per user is one open-session
    row, merged on arrival, evicted on emission — bounded by active users
    per horizon at any scale."""
    stream = _fixture_stream(spark, sf_dir)
    ts_expr = F.timestamp_micros(_ts_micros(stream))
    agg = (
        stream.select("user_id", ts_expr.alias("ts"), cents("value").alias("c"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("c") / 100.0).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "total_value",
        )
    )

    return _memory_run(spark, agg)


@register(
    "stream_hourly_topk_users",
    oracle=f"""
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS ws, user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum({cents_sql('value')}) AS BIGINT) AS total_cents
      FROM events
      GROUP BY 1, 2
      HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
             <= (SELECT max(ts) FROM events) - INTERVAL 30 MINUTE
    )
    SELECT ws AS window_start, user_id, n_events, total_cents,
           CAST(row_number() OVER (
             PARTITION BY ws ORDER BY n_events DESC, user_id
           ) AS INTEGER) AS rank
    FROM agg QUALIFY rank <= 3
    """,
    tags=("streaming-op", "tumbling-window", "topk", "watermark",
          "append-finalization"),
)
def stream_hourly_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the 3 most active users of each FINALIZED hour.
    The windowed per-(hour, user) counts run as a real watermarked
    streaming aggregation in append mode; the rank runs as a batch window
    over the sink table — deliberately, because a top-k can only be
    correct over windows the watermark has finalized, so ranking belongs
    in the serving layer (or a foreachBatch) where complete windows land.
    This is the standard production split: unbounded state stays in the
    streaming agg (bounded per watermark horizon), the ranking reads
    closed windows only. The oracle is the batch hourly aggregation under
    the same finalization predicate (window_end <= max ts - 30 min delay)
    with the same (count desc, user_id) tie-broken rank."""
    stream = _fixture_stream(spark, sf_dir)
    ts_expr = F.timestamp_micros(_ts_micros(stream))
    agg = (
        stream.select("user_id", ts_expr.alias("ts"), cents("value").alias("c"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("c").alias("total_cents"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "user_id",
            "n_events",
            "total_cents",
        )
    )

    wr = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "user_id"
    )
    return (
        _memory_run(spark, agg)
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 3)
    )


@register(
    "stream_cdc_apply",
    oracle=f"""
    WITH ops AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'signup' THEN 'I'
                  WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             {cents_sql('value')} AS value_cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_ops
      FROM events
    )
    SELECT user_id, op AS last_op, ts AS last_ts,
           event_id AS last_event_id, value_cents AS last_value_cents,
           CAST(n_ops AS BIGINT) AS n_ops
    FROM ops WHERE rn = 1 AND op <> 'D'
    """,
    tags=("streaming-op", "stateful", "cdc", "applyInPandasWithState"),
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC upsert (:func:`..batch.cdc_apply_snapshot`) maintained as a
    STREAMING materialized view — the Kappa-architecture claim made
    checkable: replaying the log through a stateful streaming operator
    must land on byte-identical state to the batch aggregation, and the
    oracle here IS the batch query's oracle. Per-key state is one champion
    tuple (the max (ts, event_id) op) plus an op counter, held in explicit
    GroupState via ``applyInPandasWithState`` and updated with a
    vectorized per-batch argmax — O(1) state per key, one emission per
    key per batch, so a 100 TB/day log keeps state proportional to LIVE
    KEYS, not log length. Delete-terminated keys stay in state (a later
    upsert must revive them — tombstone compaction is a retention policy,
    not the operator's job) and are filtered at emission, exactly like the
    batch form. Executed as a real availableNow run over the fixture file:
    one file -> one micro-batch -> deterministic final snapshot."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _fixture_stream(spark, sf_dir)
    ops = stream.select(
        "user_id",
        _ts_micros(stream).alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        cents("value").alias("vc"),
    )

    from ..streaming.stateful import (
        CDC_OUT_SCHEMA,
        CDC_STATE_SCHEMA,
        cdc_champion_update,
    )

    snap = ops.groupBy("user_id").applyInPandasWithState(
        cdc_champion_update, CDC_OUT_SCHEMA, CDC_STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout,
    )

    # Append mode emits one row per (key, micro-batch); with a single
    # fixture file that is one batch, but under maxFilesPerTrigger (or a
    # future multi-file fixture) a key may appear once per batch. The
    # per-key op counter is cumulative and strictly increasing, so the
    # max-n_ops emission IS the final state — reduce before the delete
    # filter instead of assuming one batch.
    final = (
        _memory_run(spark, snap)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("op", "ts_us", "event_id", "vc"), F.col("n_ops")
            ).alias("s"),
            F.max("n_ops").alias("n_ops"),
        )
    )
    return (
        final.filter(F.col("s.op") != "D")
        .select(
            "user_id",
            F.col("s.op").alias("last_op"),
            F.timestamp_micros(F.col("s.ts_us"))
            .cast("timestamp_ntz")
            .alias("last_ts"),
            F.col("s.event_id").alias("last_event_id"),
            F.col("s.vc").alias("last_value_cents"),
            "n_ops",
        )
    )


from ..streaming.stateful import RATE_LIMIT_K as _RK  # noqa: E402
from ..streaming.stateful import RATE_WIN_US as _RW  # noqa: E402


@register(
    "stream_rate_limited_users",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             epoch_us(ts) // {_RW} AS win
      FROM events
    ),
    r AS (
      SELECT user_id, win,
             row_number() OVER (PARTITION BY user_id, win
                                ORDER BY ts_us, event_id) AS rn
      FROM e
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (rn <= {_RK}) AS BIGINT) AS n_admitted,
           CAST(count(*) FILTER (rn > {_RK}) AS BIGINT) AS n_suppressed,
           CAST(max(win) AS BIGINT) AS last_win
    FROM r GROUP BY user_id
    """,
    tags=("streaming-op", "stateful", "rate-limit", "applyInPandasWithState"),
)
def stream_rate_limited_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key FIXED-WINDOW rate limiting as a stateful streaming operator
    (``streaming.stateful.rate_limit_update``): admit the first 5 events
    of each (user, event-time minute), suppress the rest — the admission
    primitive behind API quotas, alert throttling, and abuse damping.
    Fixed windows are the limiter variant with a CLOSED FORM over the
    event log (admission = rank within window), so the streaming run is
    verified against the batch oracle the same way ``stream_cdc_apply``
    is: replaying the log through O(1)-per-key GroupState must land on
    the identical per-user admit/suppress totals the one-pass SQL
    computes. At 100 TB/day state is (window, count, totals) per LIVE
    key — independent of log length; the cross-batch exactness contract
    (batches respect event-time window order) is stated on the update
    function. Executed as a real availableNow run over the fixture."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming.stateful import (
        RATE_OUT_SCHEMA,
        RATE_STATE_SCHEMA,
        rate_limit_update,
    )

    stream = _fixture_stream(spark, sf_dir)
    ev = stream.select("user_id", _ts_micros(stream).alias("ts_us"), "event_id")

    limited = ev.groupBy("user_id").applyInPandasWithState(
        rate_limit_update, RATE_OUT_SCHEMA, RATE_STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout,
    )

    # Cumulative totals are strictly increasing per key; the max-n_events
    # emission is the final state (same multi-batch-safe reduce as
    # stream_cdc_apply).
    return (
        _memory_run(spark, limited)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_admitted", "n_suppressed", "last_win"),
                F.col("n_events"),
            ).alias("s"),
            F.max("n_events").alias("n_events"),
        )
        .select(
            "user_id",
            "n_events",
            F.col("s.n_admitted").alias("n_admitted"),
            F.col("s.n_suppressed").alias("n_suppressed"),
            F.col("s.last_win").alias("last_win"),
        )
    )


@register(
    "stream_scd2_temporal_join",
    oracle=f"""
    WITH banded AS (
      SELECT user_id, ts, event_id,
             CASE WHEN value IS NULL THEN 'unknown'
                  WHEN value < 20 THEN 'low'
                  WHEN value < 100 THEN 'mid'
                  ELSE 'high' END AS band
      FROM events
    ), changes AS (
      SELECT user_id, ts, event_id, band,
             lag(band) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_band
      FROM banded
    ), spans AS (
      SELECT user_id, band, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM changes WHERE prev_band IS NULL OR band <> prev_band
    )
    SELECT s.band,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum({cents_sql('e.value')}) AS BIGINT) AS revenue_cents
    FROM events e
    JOIN spans s
      ON s.user_id = e.user_id
     AND e.ts >= s.valid_from
     AND (s.valid_to IS NULL OR e.ts < s.valid_to)
    WHERE e.event_type = 'purchase'
    GROUP BY s.band
    """,
    tags=("streaming", "temporal-join", "scd2", "stream-static", "executed"),
)
def stream_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL TABLE JOIN, actually executed as Structured Streaming: a
    stream of purchase facts is enriched, per micro-batch, with the SCD2
    dimension version valid AT each fact's event time — the operator
    Flink ships as `FOR SYSTEM_TIME AS OF` and Spark expresses as a
    stream-static join with an entity-key equi-condition plus a validity
    range predicate. The static side is the change-compressed span table
    (dozens of spans per key, never per-event grain), so per-batch join
    fan-out is bounded by span count per key; the streaming aggregation
    runs in complete mode at band grain (4 groups — state is O(bands),
    not O(facts)). Run bounded with availableNow over the fixture file,
    so the stream result is deterministic and equals the batch point-in-
    time join the oracle states (the stream/batch equivalence contract of
    scd2_point_in_time_join, now on the streaming engine itself). Note
    count(DISTINCT) is structurally absent: distinct aggregation is
    unsupported on streams, which is exactly why this variant reports
    purchases and revenue only."""
    cat = catalog(spark, sf_dir)
    ev = cat.events
    band = (
        F.when(F.col("value").isNull(), "unknown")
        .when(F.col("value") < 20, "low")
        .when(F.col("value") < 100, "mid")
        .otherwise("high")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    banded = ev.select("user_id", "ts", "event_id", band.alias("band"))
    changes = banded.withColumn("prev_band", F.lag("band").over(w)).filter(
        F.col("prev_band").isNull() | (F.col("band") != F.col("prev_band"))
    )
    spans = changes.select(
        F.col("user_id").alias("s_user"),
        "band",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )

    # the microsecond TIMESTAMP_NTZ the catalog gives the batch side, so
    # the range predicate compares like types
    stream = _fixture_stream(spark, sf_dir)
    facts = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.timestamp_micros(_ts_micros(stream)).cast("timestamp_ntz").alias("ts"),
            cents("value").alias("v"),
        )
    )
    joined = facts.join(
        spans,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    agg = joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("v").alias("revenue_cents"),
    )

    return _memory_run(spark, agg, "complete").orderBy("band")


@register(
    "stream_ivm_retract_deltas",
    oracle=f"""
    WITH log AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_id % 7 = 3 THEN 'D' ELSE 'U' END AS op,
             {cents_sql('value')} AS c
      FROM events WHERE value IS NOT NULL
    ),
    last AS (
      SELECT user_id, op, c FROM log
      QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ) = 1
    ),
    state AS (SELECT user_id, c FROM last WHERE op = 'U')
    SELECT CASE WHEN c < {IVM_LOW} THEN 'low'
                WHEN c < {IVM_MID} THEN 'mid' ELSE 'high' END AS band,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS total_cents
    FROM state GROUP BY 1 ORDER BY 1
    """,
    tags=("streaming", "ivm", "retraction", "stateful", "executed"),
)
def stream_ivm_retract_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACT STREAM, actually executed: a stateful operator
    (``applyInPandasWithState``, O(1) state per live key = the key's
    current value) consumes the upsert/delete log and EMITS the
    retraction/addition delta rows a downstream view consumes — the
    Flink retract-channel contract, where the batch twin
    (ivm_retractable_rollup) derives the same deltas with a window. The
    emitted delta stream aggregates to the banded rollup, drops emptied
    groups, and must equal the oracle's direct final-state recomputation
    — the IVM theorem verified through the streaming engine's own state
    machinery. Cross-batch contract (same as stream_rate_limited_users):
    batches deliver a key's rows in event-time order; the state row
    carries the key's last value across micro-batches so a retraction in
    batch N+1 correctly references the state written in batch N."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming.stateful import (
        IVM_OUT_SCHEMA,
        IVM_STATE_SCHEMA,
        ivm_retract_update,
    )

    stream = _fixture_stream(spark, sf_dir)
    narrow = stream.filter(F.col("value").isNotNull()).select(
        "user_id",
        _ts_micros(stream).alias("ord_ts"),
        "event_id",
        F.expr("CASE WHEN event_id % 7 = 3 THEN 'D' ELSE 'U' END").alias("op"),
        cents("value").alias("c"),
    )

    deltas = narrow.groupBy("user_id").applyInPandasWithState(
        ivm_retract_update,
        IVM_OUT_SCHEMA,
        IVM_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )

    return (
        _memory_run(spark, deltas)
        .groupBy("band")
        .agg(
            F.sum("dk").cast("long").alias("n_keys"),
            F.sum("dc").cast("long").alias("total_cents"),
        )
        .filter(F.col("n_keys") > 0)  # emptied groups leave the view
        .orderBy("band")
    )


# ------------------------------------------------- streaming corpus ingest

_INGEST_QUALITY_MIN = 0.55  # same gate as corpus_clean_train_sample
#: Near-dup admission: a new doc is rejected when its bands collide with a
#: prior survivor AND their MinHash signatures agree on >= this many of 16
#: positions (Broder's estimator: agreement/16 ~ Jaccard, so 8 ~ J>=0.5).
#: Collision alone would over-drop — a single shared band is 4 matching
#: hashes, reachable at J~0.2 (measured: 1 of 4 sf0.01 candidates fails
#: verification and is correctly admitted).
_INGEST_MIN_AGREEMENT = 8
_INGEST_SNAPSHOT_EVERY = 8  # epoch-compaction cadence (EpochTable)


def corpus_ingest_batch(
    bdf: DataFrame,
    epoch_id: int,
    index_dir: str,
    seen_dir: str,
    quality_min: float = _INGEST_QUALITY_MIN,
    min_sig_agreement: int | None = _INGEST_MIN_AGREEMENT,
    snapshot_every: int = _INGEST_SNAPSHOT_EVERY,
    inbatch_neardup: bool = False,
) -> None:
    """ONE micro-batch of the streaming LLM-corpus ingest (the
    ``foreachBatch`` body of :func:`stream_corpus_ingest`, factored out so
    the multi-batch carryover test drives the exact production code):

    1. quality gate (blended score >= ``quality_min``);
    2. in-batch exact dedup on the normalized-content hash (keeper = the
       min-id surviving doc, attributes ride the exchange via ``min_by``);
    3. cross-batch EXACT dedup: anti-join against the persisted seen-hash
       table — first-crawl-wins, the ingest-order semantics a rolling
       crawl pipeline actually has;
    4. cross-batch NEAR-dup admission (review finding r8): probe the
       persisted MinHash index — band collision proposes a prior-survivor
       candidate, >= ``min_sig_agreement``/16 signature agreement confirms
       it (the streaming twin of ``dedup_incremental``'s probe plus the
       verify step the batch near-dup family uses). By DEFAULT in-batch
       near-dups are NOT checked — same scope as the batch composition,
       whose increment is only probed against the EXISTING corpus, and
       the scope the registered oracles recompute. Pass
       ``min_sig_agreement=None`` to disable the probe (r7-shape ingest),
       or ``inbatch_neardup=True`` (VERDICT r9 #6) to ALSO self-probe the
       batch's own survivors: a doc is rejected when a band collision
       with a SMALLER-id same-batch survivor is confirmed by the same
       >= ``min_sig_agreement``/16 agreement rule (min-id keeper — the
       deterministic greedy the batch pair families use). The self-probe
       runs AFTER the cross-batch rejection so a doc evicted by the
       existing corpus can never act as an in-batch keeper;
    5. persist the admitted survivors: wide signature+band rows
       (doc_id, mh0..15, band0..3) into the index — bands are paid once at
       write time, never re-derived over the index on later probes — and
       (text_hash, doc_id) into the seen table.

    STATE LAYOUT + CRASH SAFETY: both tables are
    :class:`~...streaming.epochstate.EpochTable`\\ s — every write lands in
    the batch's own ``kind=delta/epoch=N`` partition with overwrite (a
    replay rewrites it identically; plain appends duplicated rows through
    the index-committed/seen-torn crash window, review finding r8), reads
    see strictly-prior epochs only (a replay cannot anti-join the batch
    against its own half-committed hashes — the data-loss dual), and every
    ``snapshot_every``-th batch compacts all state into one snapshot
    partition so batch N's read cost is bounded by ``snapshot_every``
    directories — it grows with unique content, never with stream age
    (the r8 small-files finding). The survivor frame is
    ``localCheckpoint``-ed so both sinks write one materialization.

    At 100 TB: every stage is a hash-partitioned join on a 60-bit key; the
    probe joins the BATCH's band rows (small) against the index (bucketed
    by band hash at scale); hot bands are the one fan-out risk — the batch
    dedup family's ``cap_posting_lists`` is the guard to splice in ahead
    of the candidate join if a corpus develops boilerplate-heavy bands.
    """
    from functools import reduce
    from operator import add

    from ..operators import text as _T
    from ..operators.dedup import band_rows, minhash_table, with_lsh_band_cols
    from ..functions.hashing import h60
    from ..streaming.epochstate import EpochTable

    spark = bdf.sparkSession
    seen_tbl = EpochTable(seen_dir, snapshot_every)
    idx_tbl = EpochTable(index_dir, snapshot_every)

    # r13 NEGATIVE RESULT (VERDICT r12 #1/#8): spreading the one-file
    # micro-batch (spread_small_scan on bdf) before the quality gate was
    # tried and measured 1.8x SLOWER on stream_corpus_ingest (median-of-3
    # alternating A/B at sf0.1: 6.57 vs 3.69 s; inbatch 1.09x, two-phase
    # 1.07x worse). Inside foreachBatch the frame has no file lineage, so
    # the guard falls back to the df.rdd partition probe — one full
    # physical-plan build PER MICRO-BATCH — and the repartition moves the
    # text for a regex pass that is minutes-per-TB but sub-second at any
    # single batch's volume. The right production lever is micro-batch
    # sizing (maxFilesPerTrigger), not an in-body shuffle; see
    # OPTIMIZATION_r13.md.
    gated = bdf.filter(
        _T.quality_metrics(F.col("text"))["quality"] >= quality_min
    )
    hashed = gated.select(
        "doc_id",
        h60(_T.normalize_text("text")).alias("text_hash"),
        F.struct("lang", "text").alias("kv"),
    )
    surv = (
        hashed.groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("kv", F.col("doc_id")).alias("kv"),
        )
        .select(
            "doc_id", "text_hash",
            F.col("kv.lang").alias("lang"), F.col("kv.text").alias("text"),
        )
    )
    prior_seen = seen_tbl.read_before(spark, epoch_id)
    if prior_seen is not None:
        surv = surv.join(
            prior_seen.select("text_hash"), "text_hash", "left_anti"
        )
    surv = surv.localCheckpoint()
    sig = with_lsh_band_cols(minhash_table(surv)).localCheckpoint()

    agreement = reduce(
        add,
        [
            F.when(F.col(f"a.mh{j}") == F.col(f"b.mh{j}"), 1).otherwise(0)
            for j in range(16)
        ],
    )
    prior_idx = idx_tbl.read_before(spark, epoch_id)
    if prior_idx is not None and min_sig_agreement is not None:
        cand = (
            band_rows(sig).alias("n")
            .join(band_rows(prior_idx).alias("o"), ["band_idx", "band_hash"])
            .select(
                F.col("n.doc_id").alias("new_id"),
                F.col("o.doc_id").alias("old_id"),
            )
            .distinct()
        )
        rejected = (
            cand.join(sig.alias("a"), F.col("a.doc_id") == F.col("new_id"))
            .join(prior_idx.alias("b"), F.col("b.doc_id") == F.col("old_id"))
            .filter(agreement >= min_sig_agreement)
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
            .localCheckpoint()
        )
        sig = sig.join(rejected, "doc_id", "left_anti")
        surv = surv.join(rejected, "doc_id", "left_anti")

    if inbatch_neardup and min_sig_agreement is not None:
        # optional same-batch self-probe (VERDICT r9 #6): band collision
        # with a smaller-id surviving batch-mate proposes, the same
        # signature-agreement rule confirms, min-id keeper wins. Runs on
        # the post-cross-batch survivors so an evicted doc never keeps.
        nb = band_rows(sig)
        cand_ib = (
            nb.alias("n")
            .join(nb.alias("o"), ["band_idx", "band_hash"])
            .filter(F.col("n.doc_id") > F.col("o.doc_id"))
            .select(
                F.col("n.doc_id").alias("new_id"),
                F.col("o.doc_id").alias("old_id"),
            )
            .distinct()
        )
        rejected_ib = (
            cand_ib.join(sig.alias("a"), F.col("a.doc_id") == F.col("new_id"))
            .join(sig.alias("b"), F.col("b.doc_id") == F.col("old_id"))
            .filter(agreement >= min_sig_agreement)
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
            .localCheckpoint()
        )
        sig = sig.join(rejected_ib, "doc_id", "left_anti")
        surv = surv.join(rejected_ib, "doc_id", "left_anti")

    idx_tbl.write_delta(sig, epoch_id)
    seen_tbl.write_delta(surv.select("text_hash", "doc_id"), epoch_id)
    idx_tbl.maybe_snapshot(spark, epoch_id)
    seen_tbl.maybe_snapshot(spark, epoch_id)
    # drop deltas/snapshots no replay can reach (bounded disk + listing)
    idx_tbl.prune_covered(epoch_id)
    seen_tbl.prune_covered(epoch_id)


# The oracle reuses dedupq's shared band CTE and textq's quality
# expression — the batch composition IS those already-verified pieces.
# (Imported here, after this module's other registrations, so the
# plans.__init__ registration order of earlier queries is untouched.)
from ..functions.hashing import h60_sql as _h60_sql  # noqa: E402
from ..operators import text as _TXT  # noqa: E402
from .dedupq import _BANDS_CTE, _NORM  # noqa: E402

_QUALITY_SQL_INGEST = _TXT.quality_metrics_sql("text")["quality"]


@register(
    "stream_corpus_ingest",
    oracle=f"""{_BANDS_CTE},
    q AS (
      SELECT doc_id, {_h60_sql(_NORM)} AS text_hash
      FROM documents WHERE {_QUALITY_SQL_INGEST} >= {_INGEST_QUALITY_MIN}
    ),
    surv AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text_hash)
    SELECT b.band_idx, b.band_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(b.doc_id) AS min_doc
    FROM bands b JOIN surv s ON s.doc_id = b.doc_id
    GROUP BY b.band_idx, b.band_hash
    """,
    tags=("streaming-op", "pipeline", "dedup", "quality", "minhash",
          "foreachBatch", "kappa"),
)
def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming LLM-corpus ingest COMPOSITION (VERDICT r7 #6) —
    quality gate -> exact dedup -> cross-batch seen-hash carryover ->
    MinHash band-index append, run as a REAL availableNow Structured
    Streaming query whose ``foreachBatch`` body is
    :func:`corpus_ingest_batch`, then summarized from the persisted index
    at bucket grain (entries + canonical doc per bucket). This is the
    Kappa-equivalence story on the repo's north-star domain: replaying
    the corpus through the streaming ingest must land the index on
    byte-identical state to the one-shot batch composition, and the
    oracle here IS that batch composition (the fixture is one file ->
    one micro-batch, so keeper choice is deterministic; the multi-batch
    first-crawl-wins semantics are pinned by the 2-micro-batch carryover
    test, which replays a split corpus through this same batch body and
    checks both the union invariant and that re-delivered duplicates
    never re-enter the index). State at 100 TB: the seen-hash table and
    band index are bucket-partitioned parquet appends that grow with
    UNIQUE content, never rescanned corpus; each batch touches its own
    survivors only."""
    from ..operators.dedup import band_rows
    from ..streaming.epochstate import EpochTable

    stream = _fixture_stream(spark, sf_dir, "documents")
    with _bounded_run(spark) as (work, run):
        index_dir = f"{work}/band_index"
        seen_dir = f"{work}/seen_hashes"
        run(
            stream,
            lambda bdf, eid: corpus_ingest_batch(bdf, eid, index_dir, seen_dir),
        )
        # the index stores wide signature+band rows per epoch (EpochTable
        # layout); read_all yields every committed row exactly once, and
        # the summary is epoch-agnostic by construction (each doc enters
        # exactly one epoch — pinned by the carryover test's invariant)
        idx = band_rows(EpochTable(index_dir).read_all(spark))
        return (
            idx.groupBy("band_idx", "band_hash")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("min_doc"),
            )
            .localCheckpoint()
        )


_AGREE_SQL = " + ".join(
    f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END" for j in range(16)
)
_THR_SQL = "SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS t FROM documents"


@register(
    "stream_corpus_ingest_two_phase",
    oracle=f"""{_BANDS_CTE},
    q AS (
      SELECT doc_id, {_h60_sql(_NORM)} AS text_hash
      FROM documents WHERE {_QUALITY_SQL_INGEST} >= {_INGEST_QUALITY_MIN}
    ),
    thr AS ({_THR_SQL}),
    k0 AS (
      SELECT text_hash, min(doc_id) AS doc_id FROM q, thr
      WHERE doc_id < t GROUP BY text_hash
    ),
    k1 AS (
      SELECT text_hash, min(doc_id) AS doc_id FROM q, thr
      WHERE doc_id >= t GROUP BY text_hash
    ),
    k1x AS (
      SELECT k1.doc_id, k1.text_hash FROM k1 LEFT JOIN k0 USING (text_hash)
      WHERE k0.doc_id IS NULL
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
      FROM bands bn JOIN k1x n ON bn.doc_id = n.doc_id
      JOIN bands bo ON bo.band_idx = bn.band_idx
                   AND bo.band_hash = bn.band_hash
      JOIN k0 o ON bo.doc_id = o.doc_id
    ),
    rej AS (
      SELECT DISTINCT c.new_id AS doc_id
      FROM cand c JOIN mh a ON a.doc_id = c.new_id
      JOIN mh b ON b.doc_id = c.old_id
      WHERE ({_AGREE_SQL}) >= {_INGEST_MIN_AGREEMENT}
    )
    SELECT doc_id, text_hash, 0 AS epoch FROM k0
    UNION ALL
    SELECT k1x.doc_id, k1x.text_hash, 1 AS epoch
    FROM k1x LEFT JOIN rej ON rej.doc_id = k1x.doc_id
    WHERE rej.doc_id IS NULL
    """,
    tags=("streaming-op", "pipeline", "dedup", "minhash", "near-dup",
          "foreachBatch", "kappa"),
)
def stream_corpus_ingest_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ingest's CROSS-BATCH semantics under the value hash
    (VERDICT r8 #3): the corpus is split 80/20 by doc id and replayed as
    two separate ``availableNow`` runs over one checkpoint — a restart
    between crawls, exactly how a rolling ingest redeploys. Epoch 0
    admits the first crawl (quality gate -> exact keepers). Epoch 1 must
    (a) exact-anti-join epoch 0's seen hashes, and (b) probe the
    PERSISTED MinHash index: band collision proposes a prior survivor,
    >=8/16 signature agreement (Jaccard ~ 0.5, Broder's estimator)
    confirms the near-dup and rejects the doc. The fixtures carry organic
    cross-split near-dups at every SF (sf0.01: 4 candidates, 3 confirmed,
    1 correctly admitted — the verify step does real work vs
    collision-only). Output is the full per-doc admission ledger
    (doc_id, text_hash, epoch) read back from the seen table's delta
    partitions; the oracle recomputes both phases in SQL from the same
    md5-backed MinHash family. In-batch near-dups are out of scope on
    both sides — the probe checks the increment against the EXISTING
    corpus, the same contract as ``dedup_incremental``."""
    import os

    from ..streaming.epochstate import EpochTable

    cat = catalog(spark, sf_dir)
    docs = spark.read.parquet(cat.path("documents"))
    thr = int(docs.agg(F.floor(F.max("doc_id") * 0.8)).first()[0])
    with _bounded_run(spark) as (work, run):
        incoming = f"{work}/incoming"
        os.makedirs(incoming)
        index_dir = f"{work}/band_index"
        seen_dir = f"{work}/seen_hashes"
        # Each phase lands as ONE parquet file the file-stream source picks
        # up as one new file (= one micro-batch per run).
        for phase, keep in enumerate(
            (F.col("doc_id") < thr, F.col("doc_id") >= thr)
        ):
            tmp = f"{work}/tmp_phase{phase}"
            docs.filter(keep).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            os.replace(f"{tmp}/{part}", f"{incoming}/phase{phase}.parquet")
            shutil.rmtree(tmp)
            run(
                spark.readStream.schema(docs.schema).parquet(incoming),
                lambda bdf, eid: corpus_ingest_batch(bdf, eid, index_dir, seen_dir),
            )
        seen = EpochTable(seen_dir)
        out = None
        for e in (0, 1):
            part = seen.read_delta(spark, e).select(
                "doc_id", "text_hash", F.lit(e).alias("epoch")
            )
            out = part if out is None else out.unionByName(part)
        return out.localCheckpoint()


@register(
    "stream_corpus_ingest_inbatch",
    oracle=f"""{_BANDS_CTE},
    q AS (
      SELECT doc_id, {_h60_sql(_NORM)} AS text_hash
      FROM documents WHERE {_QUALITY_SQL_INGEST} >= {_INGEST_QUALITY_MIN}
    ),
    k AS (
      SELECT text_hash, min(doc_id) AS doc_id FROM q GROUP BY text_hash
    ),
    cand AS (
      SELECT DISTINCT bn.doc_id AS new_id, bo.doc_id AS old_id
      FROM bands bn JOIN k n ON bn.doc_id = n.doc_id
      JOIN bands bo ON bo.band_idx = bn.band_idx
                   AND bo.band_hash = bn.band_hash
      JOIN k o ON bo.doc_id = o.doc_id
      WHERE bo.doc_id < bn.doc_id
    ),
    rej AS (
      SELECT DISTINCT c.new_id AS doc_id
      FROM cand c JOIN mh a ON a.doc_id = c.new_id
      JOIN mh b ON b.doc_id = c.old_id
      WHERE ({_AGREE_SQL}) >= {_INGEST_MIN_AGREEMENT}
    )
    SELECT k.doc_id, k.text_hash, (rej.doc_id IS NULL) AS admitted
    FROM k LEFT JOIN rej ON rej.doc_id = k.doc_id
    """,
    tags=("streaming-op", "pipeline", "dedup", "minhash", "near-dup",
          "in-batch", "foreachBatch", "kappa"),
)
def stream_corpus_ingest_inbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The in-batch near-dup admission option under the value hash
    (VERDICT r9 #6): the WHOLE corpus arrives as ONE micro-batch and the
    production ingest body runs with ``inbatch_neardup=True`` — after the
    quality gate and the exact min-id dedup, the batch's own survivors
    self-probe: a band collision with a SMALLER-id batch-mate, confirmed
    by >= {_INGEST_MIN_AGREEMENT}/16 signature agreement, rejects the doc
    (min-id keeper, the pairwise greedy the batch pair families use).
    Output is the full exact-keeper ledger with the admission verdict —
    the flag's work is IN the hash: every organically near-duplicate
    keeper pair (present at every SF) flips its larger id to
    ``admitted = false``, while the default-scope ingest admits both.
    The oracle recomputes gate -> exact keepers -> self-probe from the
    same md5-backed MinHash family in SQL."""
    from ..operators import text as _T
    from ..functions.hashing import h60
    from ..streaming.epochstate import EpochTable

    cat = catalog(spark, sf_dir)
    docs = spark.read.parquet(cat.path("documents"))
    with _bounded_run(spark) as (work, run):
        incoming = f"{work}/incoming"
        index_dir = f"{work}/band_index"
        seen_dir = f"{work}/seen_hashes"
        docs.coalesce(1).write.mode("overwrite").parquet(incoming)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(incoming)
        )
        run(
            stream,
            lambda bdf, eid: corpus_ingest_batch(
                bdf, eid, index_dir, seen_dir, inbatch_neardup=True
            ),
        )
        admitted = EpochTable(seen_dir).read_all(spark).select("doc_id")
        # the keeper recomputation is a second full quality+normalize pass
        # over the one-file fixture scan — spread it too (r13, guide §2.5)
        from ..operators.dedup import spread_small_scan

        keepers = (
            spread_small_scan(docs, "doc_id")
            .filter(
                _T.quality_metrics(F.col("text"))["quality"]
                >= _INGEST_QUALITY_MIN
            )
            .select("doc_id", h60(_T.normalize_text("text")).alias("text_hash"))
            .groupBy("text_hash")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        return (
            keepers.join(
                admitted.withColumn("admitted", F.lit(True)), "doc_id", "left"
            )
            .select(
                "doc_id", "text_hash",
                F.coalesce("admitted", F.lit(False)).alias("admitted"),
            )
            .localCheckpoint()
        )


# --------------------------------------------- streaming WET-shard ingest

_WET_QUALITY_MIN = 0.40  # 32-word docs (0.417) pass; 16-word (0.371) fail

_WET_TEXT_SQL = """array_to_string(list_transform(range(0, nw),
      w -> chr(CAST(97 + ((b + 4*w + 0) % 26) AS INTEGER)) ||
           chr(CAST(97 + ((b + 4*w + 1) % 26) AS INTEGER)) ||
           chr(CAST(97 + ((b + 4*w + 2) % 26) AS INTEGER)) ||
           chr(CAST(97 + ((b + 4*w + 3) % 26) AS INTEGER))), ' ')"""

from .dedupq import _band_sql as _wet_band_sql  # noqa: E402
from ..operators.dedup import minhash_sql_exprs as _wet_mh_exprs  # noqa: E402
from ..operators.dedup import shingles_sql as _wet_shingles_sql  # noqa: E402

_WET_MH_COLS = ",\n             ".join(
    f"{e} AS mh{j}" for j, e in enumerate(_wet_mh_exprs("sgl", 16))
)
_WET_BANDS = "\n      UNION ALL ".join(
    f"SELECT doc_id, {i} AS band_idx, {_wet_band_sql(i)} AS band_hash FROM mh2"
    for i in range(4)
)


def wet_ingest_batch(
    bdf: DataFrame, epoch_id: int, index_dir: str, seen_dir: str
) -> None:
    """foreachBatch body of :func:`stream_wet_corpus_ingest`: raw WET
    shards in, cleaned deduped corpus state out — gunzip + WARC record
    split + text extraction (one mapInArrow hop), then the EXACT
    production ingest body (:func:`corpus_ingest_batch`: quality gate,
    exact + near-dup dedup, EpochTable state)."""
    from ..operators.multimodal import extract_wet_records_arrow

    rows = extract_wet_records_arrow(bdf)
    corpus_ingest_batch(
        rows, epoch_id, index_dir, seen_dir, quality_min=_WET_QUALITY_MIN
    )


@register(
    "stream_wet_corpus_ingest",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, doc_id % 64 AS b,
             CASE WHEN doc_id % 3 = 0 THEN 32 ELSE 16 END AS nw
      FROM documents
    ),
    t AS (SELECT doc_id, {_WET_TEXT_SQL} AS text FROM s),
    q AS (SELECT doc_id, text FROM t
          WHERE {_QUALITY_SQL_INGEST} >= {_WET_QUALITY_MIN}),
    hk AS (SELECT {_h60_sql(_NORM)} AS th, min(doc_id) AS doc_id
           FROM q GROUP BY 1),
    kt AS (SELECT hk.doc_id, t.text FROM hk JOIN t ON t.doc_id = hk.doc_id),
    sh2 AS (SELECT doc_id, {_wet_shingles_sql('text')} AS sgl FROM kt),
    mh2 AS (SELECT doc_id, {_WET_MH_COLS} FROM sh2),
    bands2 AS ({_WET_BANDS})
    SELECT band_idx, band_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_doc
    FROM bands2 GROUP BY band_idx, band_hash
    """,
    tags=("streaming-op", "pipeline", "warc", "wet", "gzip", "dedup",
          "quality", "minhash", "foreachBatch", "common-crawl", "kappa"),
)
def stream_wet_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE 100 TB story in one query: raw Common Crawl-style WET shards
    stream in, a cleaned deduped corpus index comes out. Each document
    becomes a genuine gzip shard (stored-block member, JVM-crc32
    handshake) holding one WARC ``conversion`` record whose text length
    varies per doc (32 words for ``doc_id % 3 == 0``, else 16 — so the
    quality gate at {_WET_QUALITY_MIN} does REAL discriminating work:
    long docs pass at 0.417, short fail at 0.371); a real availableNow
    Structured Streaming query then runs gunzip -> WARC split -> text
    extraction (one mapInArrow hop) into the EXACT production ingest
    body — quality gate, exact dedup, near-dup band probe, EpochTable
    state — and the result is summarized from the persisted index at
    band grain. The oracle recomputes the whole path in SQL from the
    generative formula: synthesized text -> quality -> keepers ->
    shingles -> MinHash -> bands. Composes this round's WARC/gzip read
    path with the hardened ingest; shard bytes never shuffle, extracted
    text moves once at keeper grain."""
    from ..streaming.epochstate import EpochTable
    from ..operators.dedup import band_rows

    cat = catalog(spark, sf_dir)
    ids = spark.read.parquet(cat.path("documents")).select("doc_id")
    text_expr = (
        "array_join(transform(sequence(0, "
        "(CASE WHEN doc_id % 3 = 0 THEN 32 ELSE 16 END) - 1), "
        "w -> concat("
        "char(97 + ((doc_id % 64 + 4*w) % 26)), "
        "char(97 + ((doc_id % 64 + 4*w + 1) % 26)), "
        "char(97 + ((doc_id % 64 + 4*w + 2) % 26)), "
        "char(97 + ((doc_id % 64 + 4*w + 3) % 26)))), ' ')"
    )
    rec1 = (
        "WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        f"Content-Length: {len('software: spark-graft-wet/1.0') + 2}\r\n\r\n"
        "software: spark-graft-wet/1.0\r\n\r\n\r\n"
    )
    member = F.encode(
        F.concat(
            F.lit(rec1),
            F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: urn:doc:"),
            F.col("doc_id").cast("string"),
            F.lit("\r\nContent-Length: "),
            F.length(F.col("text")).cast("string"),
            F.lit("\r\n\r\n"),
            F.col("text"),
            F.lit("\r\n\r\n"),
        ),
        "utf-8",
    )

    def le(col, digits):
        h = F.lpad(F.hex(col), digits, "0")
        pairs = [
            F.substring(h, i, 2) for i in range(digits - 1, 0, -2)
        ]
        return F.unhex(F.concat(*pairs))

    shards = (
        ids.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.expr(text_expr).alias("text"))
        .select("doc_id", member.alias("member"))
        .select(
            "doc_id",
            "member",
            F.length("member").alias("mlen"),
            F.crc32("member").alias("crc"),
        )
        .select(
            "doc_id",
            F.concat(
                F.unhex(F.lit("1f8b08000000000000ff01")),
                le(F.col("mlen"), 4),
                le(F.lit(65535) - F.col("mlen"), 4),
                F.col("member"),
                le(F.col("crc"), 8),
                le(F.col("mlen"), 8),
            ).alias("payload"),
        )
    )
    with _bounded_run(spark) as (work, run):
        incoming = f"{work}/incoming"
        index_dir = f"{work}/band_index"
        seen_dir = f"{work}/seen_hashes"
        shards.coalesce(1).write.parquet(incoming)
        stream = (
            spark.readStream.schema(shards.schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(incoming)
        )
        run(
            stream,
            lambda bdf, eid: wet_ingest_batch(bdf, eid, index_dir, seen_dir),
        )
        idx = band_rows(EpochTable(index_dir).read_all(spark))
        return (
            idx.groupBy("band_idx", "band_hash")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("min_doc"),
            )
            .localCheckpoint()
        )
