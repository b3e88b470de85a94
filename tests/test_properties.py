"""Property-based tests (hypothesis): the cross-engine portability kernel.

These are the load-bearing invariants of the whole oracle methodology —
if h60/pround/cents ever diverge between Spark, Python, and DuckDB on any
input, every hash-verified query result is suspect. Hypothesis hunts the
corners (unicode, signed zeros, huge magnitudes, sentinel collisions).

Strategy note: Spark round-trips per example would be minutes-slow, so the
properties run the Python/DuckDB pair exhaustively and pin the Spark side on
a fixed batch of adversarial examples collected from the strategies.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
from hypothesis import example, given, settings
from hypothesis import strategies as st

from stream_processing_pipeline_spark.functions.hashing import h60_sql
from stream_processing_pipeline_spark.functions.rounding import pround_sql

_CON = duckdb.connect()


def _py_h60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _py_pround(x: float, scale: int = 2) -> float:
    m = float(10**scale)
    return math.floor(x * m + 0.5) / m


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_h60_python_equals_duckdb(s):
    duck = _CON.execute(f"SELECT {h60_sql('$s')}", {"s": s}).fetchone()[0]
    assert duck == _py_h60(s)


@settings(max_examples=300, deadline=None)
@given(
    st.floats(
        min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
    ),
    st.integers(min_value=0, max_value=6),
)
def test_pround_python_equals_duckdb(x, scale):
    duck = _CON.execute(
        f"SELECT {pround_sql('$x', scale)}", {"x": x}
    ).fetchone()[0]
    assert duck == _py_pround(x, scale), (x, scale)


@settings(max_examples=200, deadline=None)
@given(st.decimals(min_value=-10**9, max_value=10**9, places=2))
def test_cents_roundtrip_exact(d):
    """round(x*100) recovers the exact cent count of any 2-decimal value
    that survives the double round-trip."""
    x = float(d)
    cents = round(x * 100)
    duck = _CON.execute(
        "SELECT CAST(round($x * 100) AS BIGINT)", {"x": x}
    ).fetchone()[0]
    assert duck == cents
    assert abs(cents / 100.0 - x) < 1e-6


def test_spark_h60_and_pround_on_adversarial_batch(spark):
    """Pin the Spark side against Python on a fixed adversarial batch
    (unicode planes, quotes, backslashes; tie-rounding values)."""
    from pyspark.sql import functions as F

    from stream_processing_pipeline_spark.functions.hashing import h60
    from stream_processing_pipeline_spark.functions.rounding import pround

    strings = [
        "", " ", "''", '"', "\\", "\\n", "a'b''c", "ünïcode ✓ 漢字 🚀",
        "\t\r\n", "0", "NaN", "null", "x" * 500,
    ]
    sdf = spark.createDataFrame([(s,) for s in strings], ["s"])
    got = {r.s: r.h for r in sdf.select("s", h60("s").alias("h")).collect()}
    for s in strings:
        assert got[s] == _py_h60(s), repr(s)

    floats = [0.005, -0.005, 2.675, 1.0000000000000002, 123456789.555,
              -99.995, 0.0, -0.0, 1e-9, 123.456]
    fdf = spark.createDataFrame([(x,) for x in floats], ["x"])
    for scale in (0, 2, 4, 6):
        rows = fdf.select("x", pround(F.col("x"), scale).alias("p")).collect()
        for r in rows:
            assert r.p == _py_pround(r.x, scale), (r.x, scale)


# --------------------------------------------------------------- SCD2 spans

def _py_scd2(events):
    """Reference SCD2 in plain Python: events = [(user, ts, event_id, band)]."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, ts, eid, band in events:
        by_user[u].append((ts, eid, band))
    out = []
    for u, rows in by_user.items():
        rows.sort()
        spans = []
        for ts, eid, band in rows:
            if not spans or spans[-1][1] != band:
                spans.append([ts, band])
        for i, (ts, band) in enumerate(spans):
            valid_to = spans[i + 1][0] if i + 1 < len(spans) else None
            out.append((u, band, ts, valid_to, valid_to is None))
    return sorted(out, key=lambda r: (r[0], r[2]))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),      # user
            st.integers(min_value=0, max_value=50),     # ts (minutes)
            st.sampled_from(["low", "mid", "high", "unknown"]),
        ),
        min_size=0,
        max_size=40,
    )
)
def test_scd2_spans_partition_the_timeline(raw):
    """Pure-Python SCD2 invariants on arbitrary event streams: per user,
    spans are change-compressed (no two adjacent spans share a band), cover
    [first_event, open) with no gaps or overlaps, and exactly the last span
    is current. (The Spark plan is value-hash-verified against the SQL
    oracle at fixture scale; this pins the SEMANTICS on adversarial inputs
    — duplicate timestamps, single-event users, constant bands.)"""
    events = [
        (u, ts, i, band) for i, (u, ts, band) in enumerate(raw)
    ]
    spans = _py_scd2(events)
    from collections import defaultdict

    per_user = defaultdict(list)
    for u, band, vf, vt, cur in spans:
        per_user[u].append((vf, vt, band, cur))
    users_with_events = {u for u, *_ in events}
    assert set(per_user) == users_with_events
    for u, ss in per_user.items():
        ss.sort(key=lambda s: s[0])
        # exactly one open span, and it is the last
        assert [s[3] for s in ss] == [False] * (len(ss) - 1) + [True]
        for i, (vf, vt, band, cur) in enumerate(ss):
            if i + 1 < len(ss):
                assert vt == ss[i + 1][0]          # no gap, no overlap
                assert band != ss[i + 1][2]        # change-compressed
            else:
                assert vt is None
        user_events = sorted(ts for uu, ts, _, _ in events if uu == u)
        assert ss[0][0] == user_events[0]          # first span starts at first event


# ------------------------------------------------- BPE greedy-merge encoding

def _wrap(syms):
    return "".join(f" {s} " for s in syms)


def _unwrap(seq):
    return seq.split("  ") and [t for t in seq.strip(" ").split("  ")]


def _greedy_merge_ref(syms, l, r):
    """Reference greedy leftmost non-overlapping pair fusion."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


_sym = st.text(
    alphabet=st.characters(
        blacklist_characters=" ", min_codepoint=33, max_codepoint=0x2FFF
    ),
    min_size=1,
    max_size=4,
)


@given(st.lists(_sym, min_size=1, max_size=12), st.data())
@settings(max_examples=300, deadline=None)
def test_bpe_wrapped_replace_is_greedy_fusion(syms, data):
    """The double-space-wrapped string encoding used by bpe_train_merges:
    a plain leftmost-non-overlapping str.replace on ' l  r ' -> ' lr '
    must equal the reference greedy pair fusion for ANY symbol sequence
    and ANY pair drawn from it — including overlap runs (aaa), adjacent
    repeats (abab), and symbols that are substrings of other symbols."""
    l = data.draw(st.sampled_from(syms))
    r = data.draw(st.sampled_from(syms))
    seq = _wrap(syms)
    merged_str = seq.replace(f" {l}  {r} ", f" {l}{r} ")
    assert _unwrap(merged_str) == _greedy_merge_ref(syms, l, r)


# --------------------------------------------------- Count-Min sketch maths

def _py_bucket(s: str, width: int, salt: str) -> int:
    return _py_h60(f"{salt}{s}") % width


@given(
    st.lists(st.text(alphabet="abcdef", min_size=1, max_size=3),
             min_size=1, max_size=60),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=2, max_value=32),
)
@settings(max_examples=200, deadline=None)
def test_cms_dominates_and_merges(keys, depth, width):
    """Pure-Python twin of cms_counters/cms_estimate (same md5 buckets):
    estimates dominate exact counts on arbitrary multisets, and sketching
    two halves then adding cells equals sketching the union."""
    from collections import Counter

    def sketch(ks):
        cells = Counter()
        for k in ks:
            for r in range(depth):
                cells[(r, _py_bucket(k, width, f"cms{r}"))] += 1
        return cells

    whole = sketch(keys)
    exact = Counter(keys)
    for k, n in exact.items():
        est = min(
            whole[(r, _py_bucket(k, width, f"cms{r}"))] for r in range(depth)
        )
        assert est >= n
    half = len(keys) // 2
    merged = sketch(keys[:half])
    for cell, n in sketch(keys[half:]).items():
        merged[cell] += n
    assert merged == whole


# ---------------------------------------- r4: session merge + butterflies


def _py_sessions(times: list[int], gap: int) -> list[tuple[int, int, int]]:
    """Reference gaps-and-islands: (start, last, n) per closed+open session."""
    out = []
    start = last = times[0]
    n = 0
    for t in times:
        if t - last > gap:
            out.append((start, last, n))
            start, n = t, 0
        last = t
        n += 1
    out.append((start, last, n))
    return out


class _FakeState:
    """Minimal GroupState double for driving session_timeout_update."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v, self.removed = None, True

    def getCurrentWatermarkMs(self):
        return 0

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**7), min_size=1, max_size=40
    ),
    st.integers(min_value=1, max_value=10**6),
)
def test_session_update_matches_gaps_and_islands(times, gap):
    """Feeding ANY event multiset through the stateful session operator in
    one batch must emit exactly the reference gaps-and-islands closed
    sessions, leave the trailing open session in state, and arm its timer
    at last+gap, rounded UP to the next millisecond (ADVICE r4: a
    floor-truncated timer could fire up to 999 us before the inclusive
    gap boundary)."""
    import importlib

    import pandas as pd

    import stream_processing_pipeline_spark.streaming.stateful as sf

    importlib.reload  # no-op; keeps linters quiet about the module alias
    orig_gap = sf.SESSION_GAP_US
    sf.SESSION_GAP_US = gap
    try:
        state = _FakeState()
        pdf = pd.DataFrame({"ts_us": times})
        emitted = list(sf.session_timeout_update((42,), [pdf], state))
    finally:
        sf.SESSION_GAP_US = orig_gap
    ref = _py_sessions(sorted(times), gap)
    got = [
        (int(r.session_start_us[0]), int(r.session_last_us[0]),
         int(r.n_events[0]))
        for r in emitted
    ]
    assert got == ref[:-1]  # all but the trailing session emitted (gap-closed)
    assert state.get == ref[-1]  # trailing session carried in state
    assert state.timeout_ms == max(-(-(ref[-1][1] + gap) // 1000), 1)
    assert all(r.closed_by[0] == "gap" for r in emitted)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),   # supplier
            st.integers(min_value=1, max_value=10),  # customer
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=12),
)
def test_butterfly_pairs_equal_bruteforce_under_cap(spark, edges, max_degree):
    """butterfly_pairs on ANY small bipartite edge multiset equals the
    brute-force pair count computed in Python after dropping customers
    whose distinct-supplier degree exceeds the cap."""
    from collections import defaultdict
    from itertools import combinations

    from stream_processing_pipeline_spark.plans.batch import butterfly_pairs

    e = sorted(set(edges))
    by_c = defaultdict(set)
    for s, c in e:
        by_c[c].add(s)
    ref = defaultdict(int)
    for c, ss in by_c.items():
        if len(ss) > max_degree:
            continue
        for a, b in combinations(sorted(ss), 2):
            ref[(a, b)] += 1
    df = spark.createDataFrame(e, "s long, c long")
    got = {
        (r.s1, r.s2): (r.shared, r.butterflies)
        for r in butterfly_pairs(df, max_degree).collect()
    }
    expect = {
        k: (v, v * (v - 1) // 2)
        for k, v in sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    }
    # butterfly_pairs limits to top-20 by (shared desc, s1, s2); with <=
    # C(8,2)=28 possible pairs ties can make the exact top-20 set
    # ambiguous, so compare on the values for keys present in both and
    # the pair-count totals when under the limit.
    if len(ref) <= 20:
        assert got == expect
    else:
        for k, v in got.items():
            assert ref[k] == v[0] and v[1] == v[0] * (v[0] - 1) // 2


# ------------------------------------------------------ PNM decode round-trip

@settings(max_examples=200, deadline=None)
@given(
    st.integers(1, 24),            # width
    st.integers(1, 18),            # height
    st.integers(1, 255),           # maxval
    st.booleans(),                 # color (P6) vs grayscale (P5)
    st.randoms(use_true_random=False),
)
def test_parse_pnm_roundtrip_property(w, h, maxval, color, rnd):
    """Round-trip property for the real PNM decoder: any well-formed
    binary PPM/PGM payload — arbitrary dims, maxval, raster bytes, and
    randomized header whitespace/comments — must parse back to exactly
    the written (w, h, maxval, channels, raster). The raster may contain
    bytes that LOOK like header whitespace (0x0A/0x20), which the parser
    must treat as data once past the single post-maxval separator."""
    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_pnm,
    )

    channels = 3 if color else 1
    raster = bytes(rnd.randrange(0, 256) for _ in range(w * h * channels))
    ws = rnd.choice([b"\n", b" ", b"\t", b"\r\n", b"\n# a comment\n"])
    magic = b"P6" if color else b"P5"
    payload = (
        magic + ws + str(w).encode() + b" " + str(h).encode()
        + ws + str(maxval).encode() + b"\n" + raster
    )
    assert parse_pnm(payload) == (w, h, maxval, channels, raster)
    # trailing garbage after a complete raster is ignored (tar-style
    # concatenated streams); one byte short must raise
    assert parse_pnm(payload + b"xx")[4] == raster
    if len(raster) > 0:
        try:
            parse_pnm(payload[:-1])
            raise AssertionError("truncated raster must not parse")
        except ValueError:
            pass


# ------------------------------------------------------ WAV decode round-trip

@settings(max_examples=200, deadline=None)
@given(
    st.integers(1, 4),                       # channels
    st.sampled_from([8000, 16000, 22050, 44100]),
    st.lists(st.integers(-32768, 32767), max_size=64),
    st.integers(0, 2),                       # extra metadata chunks
    st.randoms(use_true_random=False),
)
def test_parse_wav_roundtrip_property(nch, rate, pcm, n_extra, rnd):
    """Round-trip property for the real RIFF/WAV decoder: any well-formed
    16-bit PCM file — arbitrary channel count, rate, sample values, and
    randomly interleaved odd/even-sized metadata chunks (with the spec's
    pad bytes) — must parse back to exactly the written samples. Sample
    bytes may LOOK like chunk tags; the walker must be driven by declared
    sizes, never by scanning."""
    import struct

    from stream_processing_pipeline_spark.operators.multimodal import (
        parse_wav,
    )

    # frame-align the sample list to the channel count
    pcm = pcm[: len(pcm) - (len(pcm) % nch)]

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    fmt = chunk(
        b"fmt ",
        struct.pack("<HHIIHH", 1, nch, rate, 2 * nch * rate, 2 * nch, 16),
    )
    data = chunk(b"data", struct.pack(f"<{len(pcm)}h", *pcm))
    extras = [
        chunk(
            rnd.choice([b"LIST", b"cue ", b"bext"]),
            bytes(rnd.randrange(0, 256) for _ in range(rnd.randrange(0, 9))),
        )
        for _ in range(n_extra)
    ]
    chunks = [fmt, data]
    for e in extras:
        chunks.insert(rnd.randrange(0, len(chunks) + 1), e)
    body = b"WAVE" + b"".join(chunks)
    payload = b"RIFF" + struct.pack("<I", len(body)) + body

    assert parse_wav(payload) == (rate, nch, tuple(pcm))
    # any truncation must raise, never silently mis-parse
    if len(pcm) > 0:
        try:
            parse_wav(payload[:-1])
            raise AssertionError("truncated WAV must not parse")
        except ValueError:
            pass


# ---------------------------------------------------- Hilbert walk parity

def test_hilbert_sql_chain_matches_reference_walk():
    """The 8-level SQL Hilbert chain (the exact text both engines run)
    must reproduce the canonical xy2d walk for EVERY cell of the 256x256
    grid, be bijective, and take only axis-adjacent unit steps — the
    property that makes Hilbert files tighter than Morton's seams."""
    import duckdb

    from stream_processing_pipeline_spark.plans.scalex import (
        _H_BITS,
        _H_N,
        _hilbert_level_exprs,
    )

    sql = [
        f"WITH h0 AS (SELECT x AS dq, y AS pq, x, y, 0 AS d"
        f" FROM range({_H_N}) t(x), range({_H_N}) u(y))"
    ]
    for k, (d, x, y) in enumerate(_hilbert_level_exprs()):
        sql.append(
            f", h{k + 1} AS (SELECT dq, pq, {x} AS x, {y} AS y, {d} AS d"
            f" FROM h{k})"
        )
    sql.append(f"SELECT dq, pq, d FROM h{_H_BITS}")
    rows = duckdb.connect().execute("".join(sql)).fetchall()
    assert len(rows) == _H_N * _H_N

    def xy2d(x: int, y: int) -> int:
        d, s = 0, _H_N // 2
        while s > 0:
            rx = 1 if x & s else 0
            ry = 1 if y & s else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = _H_N - 1 - x, _H_N - 1 - y
                x, y = y, x
            s //= 2
        return d

    by_d = {}
    for dq, pq, d in rows:
        assert d == xy2d(dq, pq), (dq, pq)
        by_d[d] = (dq, pq)
    assert len(by_d) == _H_N * _H_N  # bijective
    for d in range(_H_N * _H_N - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1  # unit-step adjacency


# ------------------------------------------------ retract-stream telescoping

class _FakeGroupState:
    """Minimal stand-in for pyspark's GroupState: enough surface for
    ivm_retract_update (exists / get / update / remove)."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["U", "D"]), st.integers(1, 20000)),
        min_size=0,
        max_size=24,
    ),
    st.lists(st.integers(0, 24), max_size=4),  # batch-boundary cut points
)
def test_ivm_retract_update_telescopes_across_any_batching(ops, cuts):
    """Retract-stream state machine property: for ANY op sequence split at
    ANY micro-batch boundaries, the concatenated delta stream telescopes
    to exactly the final state — per band, net key-count is 1 for the
    final state's band (0 elsewhere) and net cents equal the final value;
    and every prefix of the stream is itself consistent (net key count in
    {0, 1} at all times, since one key holds at most one row)."""
    import pandas as pd

    from stream_processing_pipeline_spark.streaming.stateful import (
        _ivm_band,
        ivm_retract_update,
    )

    bounds = sorted({min(c, len(ops)) for c in cuts} | {0, len(ops)})
    batches = [
        ops[a:b] for a, b in zip(bounds, bounds[1:])
    ] or [[]]

    state = _FakeGroupState()
    deltas = []
    for batch in batches:
        pdf = pd.DataFrame(
            {
                "ord_ts": range(len(batch)),
                "event_id": range(len(batch)),
                "op": [o for o, _ in batch],
                "c": [c for _, c in batch],
            }
        )
        for out in ivm_retract_update((1,), iter([pdf]), state):
            deltas += list(zip(out["band"], out["dk"], out["dc"]))

    # reference: replay the ops directly
    cur = None
    for o, c in ops:
        cur = c if o == "U" else None

    net_k: dict = {}
    net_c: dict = {}
    running = 0
    for band, dk, dc in deltas:
        net_k[band] = net_k.get(band, 0) + dk
        net_c[band] = net_c.get(band, 0) + dc
        running += dk
        assert running in (0, 1)  # one key, at most one live row
    live = {b: k for b, k in net_k.items() if k != 0}
    if cur is None:
        assert live == {} and all(v == 0 for v in net_c.values())
        assert not state.exists
    else:
        assert live == {_ivm_band(cur): 1}
        assert net_c[_ivm_band(cur)] == cur
        assert state.exists and state.get == (cur,)


# ------------------------------------------- round-11 hash-kernel twins

_XXM = (1 << 64) - 1
_XXP1, _XXP2 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F
_XXP3, _XXP4, _XXP5 = 0x165667B19E3779F9, 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _py_xxh64_long(l: int, seed: int) -> int:
    """Reference XXH64.hashLong (the per-field primitive Spark's xxhash64
    chains), straight from the xxHash spec."""
    rotl = lambda x, r: ((x << r) | (x >> (64 - r))) & _XXM  # noqa: E731
    l &= _XXM
    h = (seed + _XXP5 + 8) & _XXM
    k1 = (rotl((l * _XXP2) & _XXM, 31) * _XXP1) & _XXM
    h = (rotl(h ^ k1, 27) * _XXP1 + _XXP4) & _XXM
    h ^= h >> 33
    h = (h * _XXP2) & _XXM
    h ^= h >> 29
    h = (h * _XXP3) & _XXM
    return h ^ (h >> 32)


def _signed(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
                min_size=1, max_size=8))
def test_xxh64_longs_sql_matches_reference(vals):
    """The DuckDB xxhash64 twin (generated UHUGEINT chain) equals the
    reference XXH64-per-long chain with seed 42 — the exact semantics of
    Spark's multi-column xxhash64 over BIGINTs (the Spark side itself is
    pinned in tests/test_dedup_fastpath.py on a live session)."""
    from stream_processing_pipeline_spark.functions.hashing import xxh64_longs_sql

    h = 42
    for v in vals:
        h = _py_xxh64_long(v, h)
    duck = _CON.execute(f"SELECT {xxh64_longs_sql('$l')}", {"l": vals}).fetchone()[0]
    assert duck == _signed(h)


# max_examples=30 (was 150, r13): each example pays ~1.5 s of DuckDB parse
# time on the fully-expanded fold macro — 220 s of the suite's 25 min for
# ONE test (VERDICT r12 #3: the suite must finish inside the driver's
# verify window). The fold only varies structurally by list LENGTH (0..8),
# so one explicit example per length pins that coverage on every run;
# per-element value coverage is already carried by the 150-example
# test_xxh64_longs_sql_matches_reference twin above.
@settings(max_examples=30, deadline=None)
@example([])
@example([0])
@example([-1, 1])
@example([-(1 << 63), (1 << 63) - 1, 42])
@example([1 << 62, -(1 << 62), 7, -7])
@example([(-1) ** i * ((1 << 63) - 1 - i) for i in range(5)])
@example([(-1) ** i * ((1 << 63) - 1 - i) for i in range(6)])
@example([(-1) ** i * ((1 << 63) - 1 - i) for i in range(7)])
@example([(-1) ** i * ((1 << 63) - 1 - i) for i in range(8)])
@given(st.lists(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
                max_size=8))
def test_xxh64_fold_sql_matches_reference(vals):
    """The variable-length fold twin: acc' = hashLong(x, hashLong(acc, 42)),
    matching F.aggregate(lst, lit(42), (acc, x) -> xxhash64(acc, x));
    empty list returns the 42 seed."""
    from stream_processing_pipeline_spark.functions.hashing import xxh64_fold_sql

    acc = 42
    for v in vals:
        acc = _py_xxh64_long(v & _XXM, _py_xxh64_long(acc, 42))
    duck = _CON.execute(f"SELECT {xxh64_fold_sql('$l')}", {"l": vals}).fetchone()[0]
    assert duck == _signed(acc)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=(1 << 60) - 1),
                min_size=1, max_size=20),
       st.integers(min_value=2, max_value=6))
def test_poly_window_key_sql_matches_reference(ths, n):
    """The dual 31-bit polynomial window key (the shipped shingle-identity
    kernel): DuckDB twin equals the plain-integer reference for every
    window, and the fallback fold covers the short-array branch."""
    from stream_processing_pipeline_spark.operators.dedup import (
        _POLY_B1, _POLY_B2, _POLY_P1, _POLY_P2,
        poly_fold_key_sql, poly_window_key_sql,
    )

    def key(vals):
        a = b = 0
        for v in vals:
            a = (a * _POLY_B1 + v) % _POLY_P1
            b = (b * _POLY_B2 + v) % _POLY_P2
        return a * 2147483648 + b

    if len(ths) >= n:
        want = [key(ths[i:i + n]) for i in range(len(ths) - n + 1)]
        got = _CON.execute(
            "SELECT list_transform(range(1, len($l) - " + str(n - 2) + "), "
            f"i -> {poly_window_key_sql('$l', 'i', n)})",
            {"l": ths},
        ).fetchone()[0]
        assert got == want
    duck_fold = _CON.execute(
        f"SELECT {poly_fold_key_sql('$l')}", {"l": ths}
    ).fetchone()[0]
    assert duck_fold == key(ths)
