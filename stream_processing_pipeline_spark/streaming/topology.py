"""The six-query reference topology over an events stream.

Mirrors ``/root/reference/src/spark_streaming.py:340-360``: six concurrent
queries off one parsed lineage — raw persistence, two anomaly detectors with
alert hooks, and three watermarked windowed aggregations (one with a
broadcast dimension join) — here expressed over the generalized operators
with pluggable sinks.

Note the reference's topology shares *code*, not *execution*: each query
re-reads the source with its own checkpoint (SURVEY.md §3.2). This builder
keeps that model (it is the only one Structured Streaming supports for
independent queries) — at scale each query is an independent consumer group
whose Kafka read is bounded by ``maxOffsetsPerTrigger``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame

from .alerts import Alerter
from .runner import StreamQuerySpec, Topology
from .sinks import FanOutSink, ForeachBatchSink, with_alert

__all__ = ["EventsTopologyBuilder", "NamedQuery", "assemble_topology"]

WATERMARK = "60 minutes"  # reference parity (spark_streaming.py:245,274,315)


@dataclass(frozen=True)
class NamedQuery:
    """One query before assembly: ``build`` maps the frame bound to
    ``source`` to the query's output frame. ``stateful`` queries (watermarked
    state) always get their own streaming query; ``alert`` wraps the sink
    with a count-predicate alert whose subject is ``name``."""

    name: str
    source: str
    build: Callable[[DataFrame], DataFrame]
    stateful: bool = False
    alert: bool = False
    sink: str | None = None  # sink name; defaults to ``name``


def assemble_topology(
    topology: Topology,
    queries: list[NamedQuery],
    sources: dict[str, DataFrame],
    sink_factory: Callable[[str], ForeachBatchSink],
    alerter: Alerter | None = None,
    fanout_stateless: bool = False,
) -> Topology:
    """Add ``queries`` to ``topology``: the stateless ones first, then the
    stateful ones, each group in list order.

    ``fanout_stateless=True`` merges the stateless queries over one source
    into ONE streaming query via :class:`FanOutSink` — one source read and
    one checkpoint instead of one per query. Each route applies its
    ``build`` to the micro-batch, which is bounded, so the stateless chain
    runs as plain batch ops. Stateful queries keep their own queries either
    way: their state belongs to a per-query checkpoint."""

    def sink_for(q: NamedQuery) -> ForeachBatchSink:
        sink = sink_factory(q.sink or q.name)
        if q.alert and alerter is not None:
            sink = with_alert(sink, alerter, q.name)
        return sink

    stateless = [q for q in queries if not q.stateful]
    stateful = [q for q in queries if q.stateful]
    if fanout_stateless:
        by_source: dict[str, list[NamedQuery]] = {}
        for q in stateless:
            by_source.setdefault(q.source, []).append(q)
        for src, qs in by_source.items():
            fan = FanOutSink(routes=[(q.name, q.build, sink_for(q)) for q in qs])
            name = "stateless_fanout"
            if len(by_source) > 1:
                name += f"_{src}"
            topology.add(StreamQuerySpec(name, sources[src], fan))
        stateless = []
    for q in stateless + stateful:
        df = q.build(sources[q.source])
        topology.add(StreamQuerySpec(q.name, df, sink_for(q)))
    return topology


@dataclass
class EventsTopologyBuilder:
    """Assemble the six parity queries into a :class:`Topology`.

    ``sink_factory(name)`` supplies a sink per query (JDBC in production,
    memory/parquet in tests); ``alerter`` receives Q2/Q3 anomaly alerts.
    """

    events_stream: DataFrame
    customer_dim: DataFrame
    sink_factory: Callable[[str], ForeachBatchSink]
    alerter: Alerter | None = None
    # Attach in-plan observed ingest metrics (rows, null keys, exact value
    # cents) to the shared source lineage; every query then reports them per
    # batch via StreamingQueryProgress (read with observe.progress_digest).
    # Zero extra scans — the aggregates ride the existing pass.
    observe_metrics: bool = False
    sinks: dict[str, ForeachBatchSink] = field(default_factory=dict)

    def _sink(self, name: str) -> ForeachBatchSink:
        self.sinks[name] = self.sink_factory(name)
        return self.sinks[name]

    def build(self, topology: Topology, fanout_stateless: bool = False) -> Topology:
        """Assemble the topology: 6 queries, or 4 with ``fanout_stateless``
        (raw persistence and the two anomaly detectors share one query; see
        :func:`assemble_topology`). Sink contents are identical in both modes
        (pinned by ``test_fanout_topology_equivalence``)."""
        # Imported here: importing ``plans`` loads the whole query registry,
        # which ``streaming`` (and the spec compiler) do not otherwise need.
        from ..plans import transforms

        ev = self.events_stream
        if self.observe_metrics:
            from .observe import with_observed_metrics

            ev = with_observed_metrics(ev, name="ingest")
        queries = [
            NamedQuery("typed_events", "events", transforms.typed_events),
            NamedQuery(
                "abnormal_minutes", "events", transforms.abnormal_minutes, alert=True
            ),
            NamedQuery(
                "value_discrepancy", "events", transforms.value_discrepancy, alert=True
            ),
            NamedQuery(
                "avg_value_per_hour",
                "events",
                partial(transforms.avg_value_per_hour, watermark=WATERMARK),
                stateful=True,
            ),
            NamedQuery(
                "event_counts_per_hour",
                "events",
                partial(transforms.event_counts_per_hour, watermark=WATERMARK),
                stateful=True,
            ),
            NamedQuery(
                "counts_by_segment",
                "events",
                partial(
                    transforms.counts_by_segment,
                    customer=self.customer_dim,
                    watermark=WATERMARK,
                ),
                stateful=True,
            ),
        ]
        return assemble_topology(
            topology, queries, {"events": ev}, self._sink, self.alerter, fanout_stateless
        )
