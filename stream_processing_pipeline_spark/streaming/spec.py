"""Declarative pipeline-spec compiler: JSON spec -> managed Topology.

SURVEY.md §7.1's endgame layer — "declarative pipeline spec -> composable
operators -> managed queries". A pipeline is a plain dict (checked in as
JSON): named sources, a list of queries (each an op chain over one source),
sinks by name, one watermark. :func:`compile_topology` turns it into the
same :class:`~.runner.Topology` the code-first builder
(:class:`~.topology.EventsTopologyBuilder`) assembles — both hand their
named queries to :func:`~.topology.assemble_topology`, so operational
tooling (checkpoint layout, state-store selection, fan-out mode, alerting)
is shared; :func:`compile_query` compiles a single query in BATCH mode over
static frames — the stream/batch equivalence story holds for spec-built
pipelines exactly as it does for code-built ones, because both modes walk
the same op vocabulary onto the same operator modules.

The op vocabulary maps 1:1 onto the engine's composable operators
(``operators.project/filters/joins/aggregates``); scalar logic rides as
Spark SQL expression strings (declarative — Catalyst parses and optimizes
them like any built-in Column tree), extended with ``@macro(...)``
expansion for the engine's exact-arithmetic idioms (``@avg_money``,
``@pround``, ``@count_if``, ``@minutes_since_midnight``, ``@outside``) so a
spec never hand-writes the integer-cents discipline. Macros expand to the
same arithmetic as ``functions.money``/``functions.rounding`` in Spark-SQL
dialect (double literals spelled ``100.0D`` — a bare ``100.0`` parses as
DECIMAL in Spark SQL and would change result types) — a spec-built query
is value-identical to its code-built twin by construction, pinned by
``tests/test_pipeline_spec.py``.

The reference six-query topology ships as a spec at
``stream_processing_pipeline_spark/specs/reference_events.json``
(mirroring ``/root/reference/src/spark_streaming.py:340-360`` behavior);
the tests pin each spec-built query's optimized plan, batch and streaming,
to its code-built twin.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import windowed_agg
from ..operators.filters import discrepancy_filter, not_null
from ..operators.joins import dim_join
from ..operators.project import parse_json_column, prune
from .alerts import Alerter
from .runner import Topology
from .sinks import ForeachBatchSink
from .topology import NamedQuery, assemble_topology

__all__ = [
    "load_spec",
    "expand_macros",
    "compile_query",
    "compile_topology",
    "REFERENCE_EVENTS_SPEC_PATH",
]

REFERENCE_EVENTS_SPEC_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "specs",
    "reference_events.json",
)


def load_spec(path: str) -> dict:
    with open(path) as fh:
        spec = json.load(fh)
    _validate(spec)
    return spec


def _validate(spec: dict) -> None:
    for key in ("name", "sources", "queries"):
        if key not in spec:
            raise ValueError(f"pipeline spec missing required key {key!r}")
    names = [q.get("name") for q in spec["queries"]]
    if len(set(names)) != len(names) or None in names:
        raise ValueError(f"query names must be present and unique: {names}")
    for q in spec["queries"]:
        if q.get("source") not in spec["sources"]:
            raise ValueError(
                f"query {q['name']!r} reads unknown source {q.get('source')!r}"
            )
        for op in q.get("ops", []):
            if op.get("op") not in _OPS:
                raise ValueError(
                    f"query {q['name']!r}: unknown op {op.get('op')!r} "
                    f"(known: {sorted(_OPS)})"
                )


# ------------------------------------------------------------------ macros
#
# @name(arg, ...) inside any expression string expands to Spark SQL with
# the same arithmetic as the functions.money / functions.rounding Column
# helpers (double literals use the D suffix — bare 100.0 is DECIMAL in
# Spark SQL and would silently change the result type away from the
# code-built twin). Arguments are split at top-level commas (nesting
# respected), each argument recursively expanded.

def _macro_minutes_since_midnight(c: str) -> str:
    # epoch arithmetic against the day boundary; TIMESTAMP_NTZ needs the
    # two-step cast (operators.project._epoch_seconds)
    sec = f"CAST(CAST({c} AS TIMESTAMP) AS BIGINT)"
    day = f"CAST(CAST(date_trunc('day', {c}) AS TIMESTAMP) AS BIGINT)"
    return f"({sec} - {day}) / 60"


def _macro_pround(x: str, s: str = "2") -> str:
    # functions.rounding.pround in Spark-SQL dialect
    m = float(10 ** int(s))
    return f"floor(({x}) * {m}D + 0.5D) / {m}D"


def _macro_cents(x: str, scale: int = 2) -> str:
    return f"CAST(round(({x}) * {10 ** scale}) AS BIGINT)"


def _macro_sum_money(x: str) -> str:
    return f"sum({_macro_cents(x)}) / 100.0D"


def _macro_avg_money(x: str) -> str:
    c = _macro_cents(x)
    return _macro_pround(f"sum({c}) / 100.0D / count({c})")


_MACROS: dict[str, Callable[..., str]] = {
    "pround": _macro_pround,
    "avg_money": _macro_avg_money,
    "sum_money": _macro_sum_money,
    "count_if": lambda cond: f"count(CASE WHEN {cond} THEN 1 END)",
    "count_star": lambda: "count(1)",
    "minutes_since_midnight": _macro_minutes_since_midnight,
    "outside": lambda c, lo, hi: f"(({c}) < {lo} OR ({c}) > {hi})",
}


def _split_args(s: str) -> list[str]:
    # top-level commas only: nesting AND single-quoted SQL string
    # literals respected ('' is the SQL escape for a quote inside one,
    # which this state machine handles for free — each quote toggles)
    args, depth, in_str, cur = [], 0, False, []
    for ch in s:
        if ch == "'":
            in_str = not in_str
        elif not in_str:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
        if ch == "," and depth == 0 and not in_str:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        args.append(tail)
    return args


def expand_macros(expr: str) -> str:
    """Expand every ``@name(args)`` occurrence (innermost-first via
    recursion on arguments) into portable SQL."""
    i = expr.find("@")
    if i < 0:
        return expr
    j = i + 1
    while j < len(expr) and (expr[j].isalnum() or expr[j] == "_"):
        j += 1
    name = expr[i + 1 : j]
    if name not in _MACROS or j >= len(expr) or expr[j] != "(":
        raise ValueError(f"unknown or malformed macro @{name} in {expr!r}")
    depth, k, in_str = 0, j, False
    while k < len(expr):
        if expr[k] == "'":
            in_str = not in_str
        elif not in_str:
            if expr[k] == "(":
                depth += 1
            elif expr[k] == ")":
                depth -= 1
                if depth == 0:
                    break
        k += 1
    if depth != 0 or in_str:
        raise ValueError(f"unbalanced parens in macro call: {expr!r}")
    raw_args = _split_args(expr[j + 1 : k])
    args = [expand_macros(a) for a in raw_args]
    body = _MACROS[name](*args)
    return expand_macros(expr[:i] + "(" + body + ")" + expr[k + 1 :])


def _col(spec_col: str | dict) -> Column:
    """A select-list entry: a bare column name, or {"expr": ..., "as": ...}."""
    if isinstance(spec_col, str):
        return F.col(spec_col)
    c = F.expr(expand_macros(spec_col["expr"]))
    return c.alias(spec_col["as"]) if "as" in spec_col else c


# -------------------------------------------------------------------- ops
#
# Each op: (df, op_dict, ctx) -> df. ctx carries the static sources (for
# dim_join) and the effective watermark (None in batch mode).

def _op_parse_json(df: DataFrame, op: dict, ctx: dict) -> DataFrame:
    return parse_json_column(df, op["col"], op["schema"])


def _op_select(df: DataFrame, op: dict, ctx: dict) -> DataFrame:
    return df.select(*[_col(c) for c in op["cols"]])


def _op_prune(df: DataFrame, op: dict, ctx: dict) -> DataFrame:
    return prune(df, *op["cols"])


def _op_filter(df: DataFrame, op: dict, ctx: dict) -> DataFrame:
    return df.filter(F.expr(expand_macros(op["expr"])))


def _op_derive(df: DataFrame, op: dict, ctx: dict) -> DataFrame:
    return df.withColumns(
        {name: F.expr(expand_macros(e)) for name, e in op["cols"].items()}
    )


def _op_not_null(df: DataFrame, op: dict, ctx: dict) -> DataFrame:
    return not_null(df, *op["cols"])


def _op_rename(df: DataFrame, op: dict, ctx: dict) -> DataFrame:
    for old, new in op["map"].items():
        df = df.withColumnRenamed(old, new)
    return df


def _op_discrepancy_filter(df: DataFrame, op: dict, ctx: dict) -> DataFrame:
    return discrepancy_filter(
        df,
        observed=op["observed"],
        components=list(op["components"]),
        tolerance=float(op.get("tolerance", 1.0)),
        out=op.get("as", "discrepancy"),
    )


def _op_dim_join(df: DataFrame, op: dict, ctx: dict) -> DataFrame:
    dim = ctx["sources"][op["dim"]]
    return dim_join(
        df,
        dim,
        on=F.expr(expand_macros(op["on"])),
        how=op.get("how", "left"),
        dim_cols=op.get("dim_cols"),
    )


def _op_windowed_agg(df: DataFrame, op: dict, ctx: dict) -> DataFrame:
    aggs = {
        name: F.expr(expand_macros(e)) for name, e in op["aggs"].items()
    }
    return windowed_agg(
        df,
        op["time_col"],
        aggs=aggs,
        duration=op.get("duration", "60 minutes"),
        extra_keys=op.get("extra_keys"),
        watermark=ctx["watermark"],
    )


_OPS: dict[str, Callable[[DataFrame, dict, dict], DataFrame]] = {
    "parse_json": _op_parse_json,
    "select": _op_select,
    "prune": _op_prune,
    "filter": _op_filter,
    "derive": _op_derive,
    "not_null": _op_not_null,
    "rename": _op_rename,
    "discrepancy_filter": _op_discrepancy_filter,
    "dim_join": _op_dim_join,
    "windowed_agg": _op_windowed_agg,
}

_STATEFUL_OPS = {"windowed_agg"}


def _apply_ops(df: DataFrame, ops: list[dict], ctx: dict) -> DataFrame:
    for op in ops:
        df = _OPS[op["op"]](df, op, ctx)
    return df


def _is_stateful(q: dict) -> bool:
    return any(op["op"] in _STATEFUL_OPS for op in q.get("ops", []))


def compile_query(
    spec: dict,
    name: str,
    sources: dict[str, DataFrame],
    watermark: str | None = None,
) -> DataFrame:
    """Compile ONE named query of the pipeline over the given source
    frames. With static sources and ``watermark=None`` this is the BATCH
    form of the query — the frame the stream/batch equivalence tests
    compare finalized sink contents against."""
    q = next((q for q in spec["queries"] if q["name"] == name), None)
    if q is None:
        raise KeyError(f"no query named {name!r} in spec {spec.get('name')!r}")
    ctx = {"sources": sources, "watermark": watermark}
    return _apply_ops(sources[q["source"]], q.get("ops", []), ctx)


def compile_topology(
    spec: dict,
    topology: Topology,
    sources: dict[str, DataFrame],
    sink_factory: Callable[[str], ForeachBatchSink],
    alerter: Alerter | None = None,
    fanout_stateless: bool | None = None,
) -> Topology:
    """Compile the whole pipeline into managed streaming queries.

    ``sources`` binds spec source names to frames (the stream for the
    ``role: stream`` source, static frames for dims); ``sink_factory``
    supplies a sink per query name (JDBC in production, memory/parquet in
    tests); queries with ``"alert": true`` get their sink wrapped with a
    count-predicate alert. ``fanout_stateless`` (spec key of the same
    name, argument overrides) merges all stateless queries into ONE
    streaming query via :func:`~.topology.assemble_topology` — the same
    assembly the code builder uses."""
    _validate(spec)
    if fanout_stateless is None:
        fanout_stateless = bool(spec.get("fanout_stateless", False))
    queries = []
    for q in spec["queries"]:
        stateful = _is_stateful(q)
        watermark = spec.get("watermark") if stateful else None
        ctx = {"sources": sources, "watermark": watermark}
        queries.append(
            NamedQuery(
                q["name"],
                q["source"],
                partial(_apply_ops, ops=q.get("ops", []), ctx=ctx),
                stateful=stateful,
                alert=bool(q.get("alert")),
                sink=q.get("sink"),
            )
        )
    return assemble_topology(
        topology, queries, sources, sink_factory, alerter, fanout_stateless
    )
