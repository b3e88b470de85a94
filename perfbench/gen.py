"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed writes
byte-identical parquet files. Two families:

- :func:`write_event_files` writes the streaming input: files in the
  ``events`` fixture schema, one micro-batch each, with knobs for key skew,
  event-time span, out-of-order jitter, watermark-late events and anomalies.
  The late marks are returned to the caller, never written into the files.
- :func:`write_tables` writes the ten-table star schema the registered
  queries read (the layout of the ``sf*`` fixture directories), scaled by
  ``sf``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = [
    "EventSpec",
    "EventFiles",
    "write_event_files",
    "write_tables",
    "events_table",
    "customer_table",
    "write_table",
]

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
# 2024-01-01 22:00:00 UTC: the first hours cross midnight, so the Q2
# minutes-since-midnight detector fires from the first file on.
T0_US = 1704146400 * 1_000_000
MINUTE_US = 60 * 1_000_000


def write_table(table: pa.Table, path: str) -> None:
    # Fixed writer options and no pandas metadata: same table, same bytes.
    pq.write_table(table, path, compression="snappy", store_schema=False)


@dataclass(frozen=True)
class EventSpec:
    """Knobs of the streaming event generator.

    ``n_users`` user ids are drawn Zipf(``zipf_s``) over a seeded
    permutation; ids at or above ``n_customers`` have no customer row.
    File ``i`` covers event time ``[T0 + i*minutes_per_file, +minutes_per_file)``
    shifted back by up to ``jitter_min`` minutes (inside the 60-minute
    watermark, so never dropped). From file 2 on, a ``late_share`` of each
    file lies 4-5 hours behind the file's start. Stateful operators filter
    late rows with the watermark of the previous trigger, which the file two
    places back sets to the file's start minus two hours; every such event's
    hourly window ends before that, so the watermark must drop it. An ``anomaly_share`` of rows breaks the Q3
    value check (a fifth of those with a NULL value).
    """

    n_files: int
    events_per_file: int
    n_customers: int = 1500
    n_users: int = 1800
    zipf_s: float = 1.1
    minutes_per_file: int = 60
    jitter_min: int = 30
    late_share: float = 0.01
    anomaly_share: float = 0.02


@dataclass
class EventFiles:
    paths: list[str]
    rows_per_file: list[int]
    late_ids: set[int] = field(default_factory=set)

    @property
    def n_events(self) -> int:
        return sum(self.rows_per_file)


def events_table(spec: EventSpec, seed: int, file_no: int) -> tuple[pa.Table, np.ndarray]:
    """File ``file_no`` of the stream as an arrow table, plus its late mask."""
    rng = np.random.default_rng([seed, file_no])
    n = spec.events_per_file
    ids = np.arange(file_no * n, (file_no + 1) * n, dtype=np.int64)
    start = T0_US + file_no * spec.minutes_per_file * MINUTE_US
    span = spec.minutes_per_file * MINUTE_US
    ts = start + rng.integers(0, span, n) - rng.integers(0, spec.jitter_min * MINUTE_US + 1, n)
    late = np.zeros(n, dtype=bool)
    if file_no > 1:
        late = rng.random(n) < spec.late_share
        ts[late] = start - 4 * 60 * MINUTE_US - rng.integers(0, 60 * MINUTE_US, late.sum())
    # Watermark anchor: the last row carries the file's newest event time, so
    # the next file's watermark is exactly (start + span - 1s) - 60 min.
    late[-1] = False
    ts[-1] = start + span - 1_000_000

    ranks = np.arange(1, spec.n_users + 1, dtype=np.float64)
    p = ranks ** -spec.zipf_s
    users = np.random.default_rng([seed, 1 << 20]).permutation(spec.n_users)
    user_id = users[rng.choice(spec.n_users, size=n, p=p / p.sum())].astype(np.int64)

    k = rng.integers(0, 100, n)
    value = np.round(k + rng.uniform(-20.0, 20.0, n), 2)
    anomaly = rng.random(n) < spec.anomaly_share
    anomaly[-1] = False
    value[anomaly] = np.round(k[anomaly] + rng.uniform(60.0, 300.0, anomaly.sum()), 2)
    null_value = anomaly & (rng.random(n) < 0.2)
    value = np.abs(value)
    props = [f'{{"k": {int(x)}}}' for x in k]
    table = pa.table(
        {
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": user_id,
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": pa.array(value, mask=null_value),
            "props": props,
        },
        schema=EVENTS_SCHEMA,
    )
    return table, late


def write_event_files(directory: str, spec: EventSpec, seed: int) -> EventFiles:
    """Write ``spec.n_files`` event files ``part-00000.parquet``... and set
    their mtimes in file order (the file source orders by modification time)."""
    os.makedirs(directory, exist_ok=True)
    out = EventFiles(paths=[], rows_per_file=[])
    for i in range(spec.n_files):
        table, late = events_table(spec, seed, i)
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        write_table(table, path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        out.paths.append(path)
        out.rows_per_file.append(table.num_rows)
        out.late_ids.update(table.column("event_id").to_numpy()[late].tolist())
    return out


def customer_table(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    return pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n)],
        }
    )


_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
_NOUN = ["bolt", "plate", "anvil", "rod", "widget", "gizmo", "ring", "gear"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_DAY_US = 86_400 * 1_000_000
_D1995 = 788_918_400 * 1_000_000  # 1995-01-01


def _days(rng: np.random.Generator, start_us: int, n_days: int, n: int) -> pa.Array:
    return pa.array(start_us + rng.integers(0, n_days, n) * _DAY_US, pa.timestamp("us"))


def write_tables(directory: str, sf: float, seed: int) -> None:
    """Write the ten fixture tables at scale ``sf`` (sf 0.01: 60k lineitem)."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = customer_table(n_cust, seed)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = rng.integers(0, 8, n_part)
    noun = rng.integers(0, 8, n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
                rng.integers(0, 6, n_part)
            ],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days(rng, _D1995, 2400, n_ord),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, _D1995 + _DAY_US, 2500, n_li),
        }
    )
    spread = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    k = rng.integers(0, 100, n_ev)
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(T0_US - 22 * 60 * MINUTE_US + spread, pa.timestamp("us")),
            "user_id": rng.integers(0, max(150, n_cust // 10), n_ev),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {int(x)}}}' for x in k],
        },
        schema=EVENTS_SCHEMA,
    )
    n_words = rng.integers(10, 100, n_doc)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), m)]) for m in n_words]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    label = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[label] + rng.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label,
        }
    )
    for name, table in tables.items():
        write_table(table, os.path.join(directory, f"{name}.parquet"))
