"""``stream_drain``: the six-query reference topology draining a backlog.

The topology is :class:`EventsTopologyBuilder` with its library defaults
(six queries, default state store, partitions and trigger). Every query
writes through a :class:`ParquetSink`; a :class:`CallbackAlerter` counts
the Q2/Q3 alerts. The source is ``read_stream(...,
max_files_per_trigger=1)``, so one file is one micro-batch.

Closed loop: a backlog of large files is drained with ``availableNow``,
in fresh checkpoints, ``seconds // DRAIN_S`` times. Latency of
a (file, query) pair runs from the drain's start, when every file is due,
to the end of the trigger that consumed the file (progress ``timestamp``
plus ``triggerExecution``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import gen
import host
import spark_env
import spans
from stats import file_latencies_ms, geomean, percentile, progress_end_ms

QUERIES = (
    "typed_events",
    "abnormal_minutes",
    "value_discrepancy",
    "avg_value_per_hour",
    "event_counts_per_hour",
    "counts_by_segment",
)
STATEFUL = QUERIES[3:]
# Sink name -> the registered batch twin whose oracle SQL checks it.
ORACLES = {
    "abnormal_minutes": "q2_abnormal_minutes",
    "value_discrepancy": "q3_value_discrepancy",
    "avg_value_per_hour": "q4_avg_value_per_hour",
    "event_counts_per_hour": "q5_event_counts_per_hour",
    "counts_by_segment": "q6_counts_by_segment",
}
ALERTED = ("abnormal_minutes", "value_discrepancy")
# Output checks per topology run: Q1 rows, five oracle twins, two alert counts.
CHECKS = 1 + len(ORACLES) + len(ALERTED)
EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
DRAIN = gen.EventSpec(n_files=4, events_per_file=25000)
# A drain takes about this long on a 4-core host; a run makes
# ``seconds // DRAIN_S`` timed drains, a count fixed by the run length
# alone rather than by the time they take.
DRAIN_S = 8


@dataclass
class Inputs:
    files: gen.EventFiles
    spec: gen.EventSpec
    customer_path: str

    def watermark_us(self) -> int:
        """Watermark after the last file: its anchor row's event time (the
        newest of the stream) minus the 60-minute delay."""
        n = self.spec.n_files
        newest = gen.T0_US + n * self.spec.minutes_per_file * gen.MINUTE_US - 1_000_000
        return newest - 60 * gen.MINUTE_US


@dataclass
class TopologyRun:
    """One topology over one watched directory, with its own checkpoints."""

    spark: object
    root: str
    source_dir: str
    customer: object
    tracer: spans.Tracer
    alerts: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        from stream_processing_pipeline_spark.sources.files import read_stream
        from stream_processing_pipeline_spark.streaming import (
            CallbackAlerter,
            ParquetSink,
            Topology,
        )
        from stream_processing_pipeline_spark.streaming.topology import (
            EventsTopologyBuilder,
        )

        def sink(name: str):
            return self.tracer.sink(ParquetSink(self.out(name)), name)

        with self.tracer.span("sources.read_stream", "sources"):
            stream = read_stream(
                self.spark, self.source_dir, schema=EVENTS_DDL, max_files_per_trigger=1
            )
        self.topology = Topology(self.spark, checkpoint_root=os.path.join(self.root, "ckpt"))
        builder = EventsTopologyBuilder(
            events_stream=stream,
            customer_dim=self.customer,
            sink_factory=sink,
            alerter=CallbackAlerter(lambda subject, body: self.alerts.append(subject)),
        )
        with self.tracer.job_group(self.spark, "build:topology"):
            with self.tracer.span("plans.build_topology", "plans"):
                builder.build(self.topology)
        self.queries: dict = {}

    def drain(self) -> tuple[float, float]:
        """Process the whole directory with ``availableNow`` and stop;
        returns the wall seconds and the start (epoch ms)."""
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        self.queries = self.topology.start_all(available_now=True)
        self.topology.await_all(timeout=150)
        wall = time.perf_counter() - t0
        self.topology.stop_all()
        return wall, start_ms

    def progresses(self) -> dict[str, list[dict]]:
        return {
            name: [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]
            for name, q in self.queries.items()
        }

    def out(self, name: str) -> str:
        return os.path.join(self.root, "out", name)


# ------------------------------------------------------------------ checks


def check_outputs(run: TopologyRun, inputs: Inputs) -> list[str]:
    """Compare the sinks with DuckDB over the generated files; one entry per
    failed check (of ``CHECKS``).

    Q1 row count; Q2/Q3 rows in full; Q4-Q6 windows closed by the final
    watermark, computed over the events not marked late. Each alert must
    match a file (micro-batch) holding at least one anomaly."""
    import duckdb

    from stream_processing_pipeline_spark.plans import REGISTRY
    from tests.oracle_harness import compare_frames

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW all_events AS SELECT * FROM read_parquet({inputs.files.paths!r}, filename=true)"
    )
    con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{inputs.customer_path}')")
    con.execute("CREATE TABLE late AS SELECT unnest(?::BIGINT[]) AS event_id",
                [sorted(inputs.files.late_ids)])
    problems: list[str] = []

    def sink_df(name: str):
        if not any(f.endswith(".parquet") for f in os.listdir(run.out(name))):
            return None
        glob = os.path.join(run.out(name), "*.parquet")
        return con.execute(f"SELECT * FROM read_parquet('{glob}')").df()

    n_all = con.execute("SELECT count(*) FROM all_events").fetchone()[0]
    q1 = sink_df("typed_events")
    if q1 is None or len(q1) != n_all:
        problems.append(f"typed_events rows {0 if q1 is None else len(q1)} != {n_all}")

    wm = f"make_timestamp({inputs.watermark_us()})"
    for name, twin in ORACLES.items():
        stateful = name in STATEFUL
        where = "WHERE event_id NOT IN (SELECT event_id FROM late)" if stateful else ""
        con.execute(
            f"CREATE OR REPLACE VIEW events AS SELECT * EXCLUDE (filename) FROM all_events {where}"
        )
        sql = REGISTRY[twin].oracle
        if stateful:
            sql = (
                f"SELECT * FROM ({sql}) WHERE "
                f"date + CAST(start_time AS TIME) + INTERVAL 1 HOUR <= {wm}"
            )
        want = con.execute(sql).df()
        got = sink_df(name)
        diff = compare_frames(want.iloc[0:0] if got is None else got, want)
        if diff:
            problems.append(f"{name}: {'; '.join(diff)}"[:300])

    con.execute("CREATE OR REPLACE VIEW events AS SELECT * EXCLUDE (filename) FROM all_events")
    for name in ALERTED:
        anomalous = con.execute(
            f"SELECT count(DISTINCT filename) FROM all_events WHERE event_id IN "
            f"(SELECT event_id FROM ({REGISTRY[ORACLES[name]].oracle}))"
        ).fetchone()[0]
        fired = run.alerts.count(name)
        if fired != anomalous:
            problems.append(f"{name}: {fired} alerts for {anomalous} anomalous batches")
    con.close()
    return problems


# --------------------------------------------------------------- progress


def _data(progresses) -> list[dict]:
    return [p for p in progresses if p.get("numInputRows", 0) > 0]


def busy_s(progresses: list[dict]) -> float:
    """A query's busy time: the trigger time of its triggers with data."""
    return sum(p["durationMs"]["triggerExecution"] for p in _data(progresses)) / 1000.0


@dataclass
class Drain:
    """What one finished drain leaves for the metrics; read while the
    session is still up."""

    wall_s: float
    start_ms: float
    progs: dict[str, list[dict]]
    alerts: int
    run_ids: set[str]
    sink_rows: int = 0
    plan_ms: dict[str, float] = field(default_factory=dict)

    @classmethod
    def of(cls, run: TopologyRun, wall_s: float, start_ms: float) -> "Drain":
        """Snapshot ``run``; the Catalyst phases and sink row counts only
        when it was traced."""
        d = cls(wall_s, start_ms, run.progresses(), len(run.alerts),
                {str(q.runId) for q in run.queries.values()})
        if not run.tracer.enabled:
            return d
        import duckdb

        d.plan_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for q in run.queries.values():
            last = q._jsq.streamingQuery().lastExecution()
            if last is None:
                continue
            phases = last.tracker().phases()
            for k in d.plan_ms:
                opt = phases.get(k)
                if opt.isDefined():
                    d.plan_ms[k] += float(opt.get().durationMs())
        for name in QUERIES:
            if any(f.endswith(".parquet") for f in os.listdir(run.out(name))):
                glob = os.path.join(run.out(name), "*.parquet")
                d.sink_rows += duckdb.sql(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()[0]
        return d

    def latencies_ms(self, n_files: int) -> tuple[list[float], int]:
        """Latency of every (file, query) pair, and how many pairs never ran."""
        samples: list[float] = []
        missing = 0
        for name in QUERIES:
            lat = file_latencies_ms(self.progs.get(name, ()), [self.start_ms] * n_files)
            samples.extend(lat.values())
            missing += n_files - len(lat)
        return samples, missing


# ------------------------------------------------------------------ layers


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def stream_layers(tracer: spans.Tracer, drains: list[Drain], groups, jobs,
                  base: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of a traced phase: per-trigger ``*_ms`` are medians
    over triggers with data, the rest totals or means per drain."""
    every = [p for d in drains for q in QUERIES for p in d.progs.get(q, ())]
    data = _data(every)

    def dur(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) for p in data]

    ops = [op for p in every for op in p.get("stateOperators", ())]
    data_ops = [op for p in data for op in p.get("stateOperators", ())]

    # Rebuild each trigger as a runner span; the sink calls of a (query,
    # epoch) become its children.
    outer = [s for s in tracer.spans if s.layer == "sinks" and s.parent is None]
    triggers: dict[str, list[spans.Span]] = {}
    for p in every:
        end = progress_end_ms(p) / 1000.0 + tracer.epoch_offset
        start = end - p["durationMs"]["triggerExecution"] / 1000.0
        trace = f"{p['name']}:{p['batchId']}"
        triggers.setdefault(trace, []).append(tracer.add("runner.trigger", "runner", start, end, trace))
    for s in outer:
        s.parent = next((t.id for t in triggers.get(s.trace, ()) if t.start <= s.start <= t.end), None)

    n = len(drains)
    out = dict(base)
    out.update(
        {
            "sources.latest_offset_ms": _median(dur("latestOffset")),
            "sources.get_batch_ms": _median(dur("getBatch")),
            "plans.build_s": sum(s.end - s.start for s in tracer.spans
                                 if s.name == "plans.build_topology") / n,
            "plans.build_jobs": jobs.get("build:topology", 0) / n,
            "plans.analysis_ms": sum(d.plan_ms["analysis"] for d in drains) / n,
            "plans.optimization_ms": sum(d.plan_ms["optimization"] for d in drains) / n,
            "plans.planning_ms": sum(d.plan_ms["planning"] for d in drains) / n,
            "runner.batches": len(every) / n,
            "runner.useful_batch_ratio": len(data) / len(every) if every else 0.0,
            "runner.trigger_ms_p50": _median(dur("triggerExecution")),
            "runner.add_batch_ms": _median(dur("addBatch")),
            "runner.query_planning_ms": _median(dur("queryPlanning")),
            "runner.wal_commit_ms": _median(dur("walCommit")),
            "runner.commit_offsets_ms": _median(dur("commitOffsets")),
            "sinks.call_ms": _median([(s.end - s.start) * 1000.0 for s in outer]),
            "sinks.rows": sum(d.sink_rows for d in drains) / n,
            "sinks.alerts": sum(d.alerts for d in drains) / n,
            "state.rows_total_max": float(max((op.get("numRowsTotal", 0) for op in ops), default=0)),
            "state.rows_removed": sum(op.get("numRowsRemoved", 0) for op in ops) / n,
            "state.rows_dropped_by_watermark": sum(
                op.get("numRowsDroppedByWatermark", 0) for op in ops
            ) / n,
            "state.commit_ms": _median([float(op.get("commitTimeMs", 0)) for op in data_ops]),
            "state.memory_bytes_max": float(
                max((op.get("memoryUsedBytes", 0) for op in ops), default=0)
            ),
        }
    )
    run_ids = set().union(*(d.run_ids for d in drains))
    ops_total = spans.operator_metrics(groups, run_ids.__contains__, sum(dur("addBatch")) / 1000.0)
    out.update({k: v if k == "operators.cpu_share" else v / n for k, v in ops_total.items()})
    return out


def install_stream_tracing(tracer: spans.Tracer) -> None:
    """Spans around the runner, the six transforms, the operator and
    function helpers they call, and the alert wrapper."""
    from stream_processing_pipeline_spark.plans import transforms
    from stream_processing_pipeline_spark.streaming import runner, topology

    tracer.patch(runner.Topology, "start_all", "runner")
    tracer.patch(runner.Topology, "stop_all", "runner")
    for name in QUERIES:
        tracer.patch(transforms, name, "plans", f"plans.{name}")
    tracer.patch_helpers(transforms)
    original = topology.with_alert

    def with_alert(sink, alerter, subject, *args, **kwargs):
        return tracer.sink(original(sink, alerter, subject, *args, **kwargs), subject, "sinks.call")

    tracer.replace(topology, "with_alert", with_alert)


# --------------------------------------------------------------- workload


def run_drain(seed: int, seconds: float, traced: bool) -> dict:
    t0 = time.perf_counter()
    event_log = spark_env.work_dir("drain_eventlog") if traced else None
    spark = spark_env.start_session(event_log)
    session_s = time.perf_counter() - t0
    result: dict = {}
    trace_out = None
    try:
        # Set-up: inputs, catalog load, and a checked warm-up drain of the
        # whole backlog: the first drain of a session runs 10-25% slower than
        # the next, still compiling the per-trigger code paths.
        root = spark_env.work_dir(f"drain_s{seed}")
        customer_path = os.path.join(root, "customer.parquet")
        gen.write_table(gen.customer_table(DRAIN.n_customers, seed), customer_path)
        inputs = Inputs(gen.write_event_files(os.path.join(root, "backlog"), DRAIN, seed),
                        DRAIN, customer_path)
        backlog = os.path.dirname(inputs.files.paths[0])
        t_cat = time.perf_counter()
        from stream_processing_pipeline_spark.sources.files import read_batch

        customer = read_batch(spark, customer_path)
        customer.count()
        catalog_s = time.perf_counter() - t_cat
        t_warm = time.perf_counter()
        run = TopologyRun(spark, os.path.join(root, "warm"), backlog, customer,
                          spans.Tracer(enabled=False))
        run.drain()
        failures = [f"warm-up {p}" for p in check_outputs(run, inputs)]
        layers = {
            "session.start_s": session_s,
            "session.warmup_s": time.perf_counter() - t_warm,
            "sources.catalog_s": catalog_s,
        }
        setup_s = time.perf_counter() - t0
        n = DRAIN.n_files

        def drains(tracer: spans.Tracer, tag: str) -> tuple[list[Drain], float]:
            """The drains, and the CPU seconds spent building and draining
            them; the output checks run outside that reading."""
            out: list[Drain] = []
            cpu_s = 0.0
            for i in range(max(1, int(seconds // DRAIN_S))):
                cpu0 = host.tree_cpu_s()
                run = TopologyRun(spark, os.path.join(root, f"{tag}{i}"), backlog, customer, tracer)
                wall_s, start_ms = run.drain()
                cpu_s += host.tree_cpu_s() - cpu0
                out.append(Drain.of(run, wall_s, start_ms))
                failures.extend(f"{tag}{i} {p}" for p in check_outputs(run, inputs))
            return out, cpu_s

        stat0 = host.cpu_counters()
        timed, cpu_s = drains(spans.Tracer(enabled=False), "drain")
        cpu_s /= len(timed)
        steal = host.steal_pct(stat0, host.cpu_counters())

        samples: list[float] = []
        for d in timed:
            lat, missing = d.latencies_ms(n)
            samples += lat
            if missing:
                failures.append(f"{missing} (file, query) pairs never consumed")
        wall = statistics.median(d.wall_s for d in timed)
        busy = [statistics.median(busy_s(d.progs[q]) for d in timed) for q in QUERIES]
        result = {
            # (file, query) pairs plus output checks, timed drains and warm-up.
            "attempted": len(timed) * (len(QUERIES) * n + CHECKS) + CHECKS,
            "failed": len(failures),
            "correct": not failures,
            "metrics": {
                "setup_s": (setup_s, "s"),
                "cpu_s": (cpu_s, "s"),
                "events_per_s": (inputs.files.n_events / wall, "1/s"),
                "latency_p50_ms": (percentile(samples, 50), "ms"),
                "latency_p90_ms": (percentile(samples, 90), "ms"),
                "suite_s": (wall, "s"),
                "query_geomean_s": (geomean(busy), "s"),
            },
            "details": {
                "drains": len(timed), "drain_walls_s": [d.wall_s for d in timed],
                "events": inputs.files.n_events, "steal_pct": steal, **layers,
                "failures": failures[:20],
            },
        }
        if traced:
            tracer = spans.Tracer()
            install_stream_tracing(tracer)
            try:
                traced_drains, _ = drains(tracer, "traced")
            finally:
                tracer.uninstall()
            traced_wall = statistics.median(d.wall_s for d in traced_drains)
            trace_out = (tracer, traced_drains, layers, ("suite_s", wall, traced_wall))
        return result
    finally:
        # Stop the session first; a traced run then folds the event log and
        # the spans into the per-layer metrics and prints the layer table.
        jvm_rss = host.peak_rss_mb(spark_env.jvm_pid(spark))
        spark_env.stop_session(spark)
        if trace_out is not None:
            tracer, traced_drains, layers, overhead = trace_out
            groups, jobs = spans.parse_event_log(event_log)
            base = {**layers, "session.jvm_peak_rss_mb": jvm_rss}
            result["layers"] = stream_layers(tracer, traced_drains, groups, jobs, base)
            print(spans.layer_table("stream_drain", tracer.spans, overhead), file=sys.stderr)
