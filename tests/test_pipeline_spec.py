"""Declarative pipeline-spec compiler (SURVEY.md §7.1 endgame, VERDICT r11 #5).

Pins the three contracts the spec layer makes:

1. macro expansion produces the engine's portable-SQL idioms (unit tests);
2. every spec query compiled in BATCH mode is value-identical to its
   code-built twin in ``plans/transforms.py`` (the spec cannot drift from
   the parity semantics without this failing);
3. every spec query has the same optimized plan as its code-built twin,
   in batch mode and in streaming mode over a file stream;
4. the spec-built TOPOLOGY run over a chunked stream produces sink
   contents identical to the code-built ``EventsTopologyBuilder`` run —
   the round-trip the checked-in ``reference_events.json`` is graded on —
   in both per-query and fan-out modes.
"""

from __future__ import annotations

import re

import pytest

from stream_processing_pipeline_spark.plans import transforms
from stream_processing_pipeline_spark.sources.files import read_stream
from stream_processing_pipeline_spark.sources.memory import chunked_stream
from stream_processing_pipeline_spark.sources.registry import TableCatalog
from stream_processing_pipeline_spark.streaming import (
    REFERENCE_EVENTS_SPEC_PATH,
    LogAlerter,
    MemoryRowsSink,
    Topology,
    compile_query,
    compile_topology,
    expand_macros,
    load_spec,
)
from stream_processing_pipeline_spark.streaming.topology import (
    WATERMARK,
    EventsTopologyBuilder,
)

from .conftest import SF_SMALL

QUERY_TO_TRANSFORM = {
    "typed_events": lambda ev, cust, wm: transforms.typed_events(ev),
    "abnormal_minutes": lambda ev, cust, wm: transforms.abnormal_minutes(ev),
    "value_discrepancy": lambda ev, cust, wm: transforms.value_discrepancy(ev),
    "avg_value_per_hour": lambda ev, cust, wm: transforms.avg_value_per_hour(
        ev, watermark=wm
    ),
    "event_counts_per_hour": lambda ev, cust, wm: transforms.event_counts_per_hour(
        ev, watermark=wm
    ),
    "counts_by_segment": lambda ev, cust, wm: transforms.counts_by_segment(
        ev, cust, watermark=wm
    ),
}

_EXPR_ID = re.compile(r"#\d+")
_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _optimized_plan(df) -> str:
    """The optimized logical plan, without expression ids or the
    EventTimeWatermark UUID (both differ between any two builds)."""
    qe = df._jdf.queryExecution()
    if df.isStreaming:
        # optimizedPlan() refuses streaming sources; run the optimizer on
        # the analyzed plan instead.
        optimizer = df.sparkSession._jsparkSession.sessionState().optimizer()
        plan = optimizer.execute(qe.analyzed())
    else:
        plan = qe.optimizedPlan()
    return _UUID.sub("<uuid>", _EXPR_ID.sub("", plan.toString()))


def test_macro_expansion_units():
    assert expand_macros("a + b") == "a + b"
    assert expand_macros("@count_star()") == "(count(1))"
    assert (
        expand_macros("@count_if(event_type = 'purchase')")
        == "(count(CASE WHEN event_type = 'purchase' THEN 1 END))"
    )
    # nesting: inner macro expands inside the outer's argument
    out = expand_macros("@pround(@minutes_since_midnight(ts), 2)")
    assert "floor(" in out and "date_trunc('day', ts)" in out and "* 100.0" in out
    # top-level comma split must respect parens
    out2 = expand_macros("@outside(coalesce(a, b), 1, 2)")
    assert out2 == "(((coalesce(a, b)) < 1 OR (coalesce(a, b)) > 2))"
    with pytest.raises(ValueError):
        expand_macros("@nope(x)")
    with pytest.raises(ValueError):
        expand_macros("@pround(x")
    # ...and single-quoted SQL string literals: a comma, paren, or
    # doubled-quote escape inside one is content, not syntax (r12 fix —
    # the splitter previously treated quoted text as structure)
    assert (
        expand_macros("@count_if(t = 'a,b')")
        == "(count(CASE WHEN t = 'a,b' THEN 1 END))"
    )
    assert (
        expand_macros("@count_if(t = ')(')")
        == "(count(CASE WHEN t = ')(' THEN 1 END))"
    )
    assert (
        expand_macros("@outside(instr(s, 'x,y'), 1, 2)")
        == "(((instr(s, 'x,y')) < 1 OR (instr(s, 'x,y')) > 2))"
    )
    with pytest.raises(ValueError):
        expand_macros("@count_if(t = 'unterminated)")


def test_spec_validation_errors():
    from stream_processing_pipeline_spark.streaming.spec import _validate

    with pytest.raises(ValueError, match="missing required key"):
        _validate({"name": "x", "sources": {}})
    with pytest.raises(ValueError, match="unknown source"):
        _validate(
            {"name": "x", "sources": {"a": {}},
             "queries": [{"name": "q", "source": "b"}]}
        )
    with pytest.raises(ValueError, match="unknown op"):
        _validate(
            {"name": "x", "sources": {"a": {}},
             "queries": [{"name": "q", "source": "a",
                          "ops": [{"op": "zap"}]}]}
        )
    with pytest.raises(ValueError, match="unique"):
        _validate(
            {"name": "x", "sources": {"a": {}},
             "queries": [{"name": "q", "source": "a"},
                         {"name": "q", "source": "a"}]}
        )


def test_spec_batch_equals_code_transforms(spark, tmp_path):
    """Each compiled spec query == its plans/transforms twin, column names
    AND values (sorted row comparison; exact — the macros expand to the
    same arithmetic), and the same optimized plan in batch mode and in
    streaming mode over a file stream — the spec with its own watermark,
    the twin with the code builder's."""
    spec = load_spec(REFERENCE_EVENTS_SPEC_PATH)
    cat = TableCatalog(spark, SF_SMALL, register_views=False)
    sources = {"events": cat.events, "customer": cat.customer}
    stream = read_stream(spark, str(tmp_path), schema=cat.events.schema)
    stream_sources = {"events": stream, "customer": cat.customer}
    for q in spec["queries"]:
        name = q["name"]
        got = compile_query(spec, name, sources)
        want = QUERY_TO_TRANSFORM[name](cat.events, cat.customer, None)
        assert got.columns == want.columns, name
        assert _optimized_plan(got) == _optimized_plan(want), f"{name}: batch plan"
        g = sorted(map(tuple, got.collect()))
        w = sorted(map(tuple, want.collect()))
        assert g == w, f"{name}: spec-built != code-built"
        assert len(g) > 0, f"{name}: empty result can't pin equivalence"

        got_s = compile_query(spec, name, stream_sources, watermark=spec["watermark"])
        want_s = QUERY_TO_TRANSFORM[name](stream, cat.customer, WATERMARK)
        assert got_s.isStreaming and want_s.isStreaming, name
        assert _optimized_plan(got_s) == _optimized_plan(want_s), (
            f"{name}: streaming plan"
        )


def _run_topology(spark, tmp_path, tag, build_fn):
    """Run a topology over a 3-chunk replay; return {sink: sorted rows}."""
    cat = TableCatalog(spark, SF_SMALL, register_views=False)
    ev = cat.events.orderBy("ts")
    stream = chunked_stream(spark, ev, str(tmp_path / f"chunks_{tag}"), 3)
    sinks: dict[str, MemoryRowsSink] = {}

    def factory(name: str) -> MemoryRowsSink:
        sinks[name] = MemoryRowsSink()
        return sinks[name]

    alerter = LogAlerter()
    topo = Topology(spark, checkpoint_root=str(tmp_path / f"ckpt_{tag}"))
    n_queries = build_fn(topo, stream, cat.customer, factory, alerter)
    queries = topo.start_all(available_now=True)
    assert len(queries) == n_queries
    topo.await_all(timeout=240)
    topo.stop_all()
    assert alerter.sent
    return {name: sorted(map(tuple, s.rows)) for name, s in sinks.items()}


@pytest.mark.parametrize("fanout", [False, True])
def test_spec_topology_equals_code_topology(spark, tmp_path, fanout):
    """The checked-in reference_events.json compiled through
    compile_topology produces sink-for-sink identical contents to the
    code-built EventsTopologyBuilder over the same chunked replay — in
    1:1 mode (6 queries) and stateless-fan-out mode (4 queries)."""
    spec = load_spec(REFERENCE_EVENTS_SPEC_PATH)

    def build_spec(topo, stream, customer, factory, alerter):
        compile_topology(
            spec,
            topo,
            sources={"events": stream, "customer": customer},
            sink_factory=factory,
            alerter=alerter,
            fanout_stateless=fanout,
        )
        return 4 if fanout else 6

    def build_code(topo, stream, customer, factory, alerter):
        EventsTopologyBuilder(
            events_stream=stream,
            customer_dim=customer,
            sink_factory=factory,
            alerter=alerter,
        ).build(topo, fanout_stateless=fanout)
        return 4 if fanout else 6

    got = _run_topology(spark, tmp_path, f"spec{fanout}", build_spec)
    want = _run_topology(spark, tmp_path, f"code{fanout}", build_code)
    assert set(got) == set(want)
    for name in want:
        assert got[name] == want[name], f"sink {name}: spec != code"
        assert len(got[name]) > 0, f"sink {name}: empty"
