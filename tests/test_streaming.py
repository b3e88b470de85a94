"""Streaming semantics tests (SURVEY.md §5.2 items 2 & 4).

Run the parity transformations as real Structured Streaming queries over a
chunked file-source replay with ``trigger(availableNow=True)``, and pin:

- stream/batch equivalence: finalized windows match the batch grouping
- append-mode finalization: only windows the watermark has passed emit
- watermark late-data dropping
- alert hooks firing from foreachBatch
- a bounded run that overruns its timeout being stopped
- the full six-query topology starting, processing, stopping
- the per-query progress digest of a topology run
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from stream_processing_pipeline_spark.plans import transforms
from stream_processing_pipeline_spark.sources.memory import chunked_stream
from stream_processing_pipeline_spark.sources.registry import TableCatalog
from stream_processing_pipeline_spark.streaming import (
    CallbackAlerter,
    LogAlerter,
    MemoryRowsSink,
    ParquetSink,
    StreamQuerySpec,
    Topology,
    progress_digest,
    run_available_now,
    with_alert,
)
from stream_processing_pipeline_spark.streaming.observe import PHASES
from stream_processing_pipeline_spark.streaming.topology import EventsTopologyBuilder

from .conftest import SF_SMALL

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _events(spark):
    return TableCatalog(spark, SF_SMALL, register_views=False).events.orderBy("ts")


def test_stream_batch_equivalence_counts(spark, tmp_path):
    """Windowed counts over a chunked stream equal the batch grouping for
    every window the final watermark passed; no extra windows emit."""
    ev = _events(spark)
    stream = chunked_stream(spark, ev, str(tmp_path / "chunks"), n_chunks=4)
    sink = MemoryRowsSink()
    run_available_now(
        transforms.event_counts_per_hour(stream, watermark="60 minutes"),
        sink,
        checkpoint=str(tmp_path / "ckpt"),
    )
    streamed = {(r.date, r.start_time): r.total_events for r in sink.rows}
    batch_rows = transforms.event_counts_per_hour(ev).collect()
    batch = {(r.date, r.start_time): r.total_events for r in batch_rows}

    # Streamed results are a subset of batch results with identical values.
    assert streamed, "no windows finalized"
    for k, v in streamed.items():
        assert batch[k] == v
    # Each emitted key appears exactly once (append finalizes once).
    assert len(sink.rows) == len(streamed)
    # Windows strictly older than (max ts - watermark) as of the last
    # completed batch must have emitted; the tail may legitimately be held.
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - dt.timedelta(minutes=120)  # window end + watermark slack
    for (date, start_time), v in batch.items():
        start = dt.datetime.combine(date, dt.time.fromisoformat(start_time))
        if start + dt.timedelta(hours=1) < cutoff - dt.timedelta(hours=1):
            assert (date, start_time) in streamed, f"window {start} never finalized"


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving after its window was finalized is dropped: no
    double-count, no re-emission.

    Spark applies the late-row filter in batch N using the watermark computed
    through batch N-1 (one-batch lag), while window eviction/emission uses
    the current watermark — so the late row must arrive at least two batches
    after the event time that advanced the watermark past its window.
    """
    base = dt.datetime(2024, 1, 1, 0, 30)

    def row(i, minutes, etype="click"):
        return Row(
            event_id=i,
            ts=base + dt.timedelta(minutes=minutes),
            user_id=1,
            event_type=etype,
            value=1.0,
            props="{}",
        )

    import time

    d = tmp_path / "late"
    # chunk0: two rows in the 00:00 window + one at 03:50 (advances watermark
    # to 02:50 for the next batch). chunk1: 04:00 row (watermark stays past
    # 01:00; the 00:00 window finalizes with count 2). chunk2: the late row
    # (00:35, far behind the 02:50+ watermark) plus a fresh row.
    chunks = [
        [row(0, 0), row(1, 10), row(2, 200)],
        [row(3, 210)],
        [row(99, 5), row(4, 240)],
    ]
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(chunk, EVENT_SCHEMA).coalesce(1).write.parquet(
            str(d / f"chunk={i}")
        )
        time.sleep(1.1)  # distinct mod-times keep file-source ordering stable
    from stream_processing_pipeline_spark.sources.files import read_stream

    stream = read_stream(spark, str(d / "chunk=*"), schema=EVENT_SCHEMA,
                         max_files_per_trigger=1)
    sink = MemoryRowsSink()
    run_available_now(
        transforms.event_counts_per_hour(stream, watermark="60 minutes"),
        sink,
        checkpoint=str(tmp_path / "ckpt_late"),
    )
    emissions = [
        (r.start_time, r.total_events) for _, batch in sink.batches for r in batch
    ]
    # The 00:00 window emitted exactly once, with the on-time rows only.
    assert emissions.count(("00:00:00", 2)) == 1
    assert all(not (s == "00:00:00" and n != 2) for s, n in emissions)


def test_alert_hook_fires(spark, tmp_path):
    ev = _events(spark)
    stream = chunked_stream(spark, ev, str(tmp_path / "chunks"), n_chunks=2)
    sink = MemoryRowsSink()
    alerter = LogAlerter()
    run_available_now(
        transforms.abnormal_minutes(stream),
        with_alert(sink, alerter, "abnormal_minutes"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert len(sink.rows) > 0
    assert alerter.sent and alerter.sent[0][0] == "abnormal_minutes"
    batch_count = transforms.abnormal_minutes(ev).count()
    assert len(sink.rows) == batch_count


def _alert_counts(alerter) -> dict[int, int]:
    """``{epoch: n}`` parsed from ``"{n} matching rows in epoch {epoch}"``."""
    counts = {}
    for _, body in alerter.sent:
        n, *_, epoch = body.split()
        counts[int(epoch)] = int(n)
    return counts


def test_alerted_batch_runs_only_the_sinks_jobs(spark, tmp_path):
    """The alert's count rides the sink's write: an alerted batch runs as
    many Spark jobs as the bare sink (a cached count pass made it 4 vs 1)."""
    sc = spark.sparkContext
    df = spark.range(0, 40_000, numPartitions=4).where(F.col("id") % 7 == 0)

    def jobs(group, sink):
        sc.setJobGroup(group, group)
        try:
            sink(df, 0)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    alerter = LogAlerter()
    bare = jobs("bare_sink", ParquetSink(str(tmp_path / "bare")))
    alerted = jobs(
        "alerted_sink", with_alert(ParquetSink(str(tmp_path / "alerted")), alerter, "s")
    )
    assert bare >= 1
    assert alerted == bare
    assert _alert_counts(alerter) == {0: df.count()}


def test_alert_counts_each_epoch_after_its_sink(spark, tmp_path):
    """Each alert's n is its epoch's row count, sent after the sink has the
    epoch; an empty epoch reaches the sink and sends no alert."""
    ev = _events(spark)
    stream = chunked_stream(spark, ev, str(tmp_path / "chunks"), n_chunks=3)
    sink = MemoryRowsSink()
    landed_before_alert = []
    alerter = LogAlerter()

    def send(subject, body):
        landed_before_alert.append(int(body.split()[-1]) in dict(sink.batches))
        alerter.send(subject, body)

    wrapped = with_alert(sink, CallbackAlerter(send), "abnormal_minutes")
    run_available_now(
        transforms.abnormal_minutes(stream), wrapped, checkpoint=str(tmp_path / "ckpt")
    )
    wrapped(spark.range(5).where("id < 0"), 99)

    rows = {epoch: len(batch) for epoch, batch in sink.batches}
    assert rows[99] == 0
    assert sum(rows.values()) > 0
    assert _alert_counts(alerter) == {e: n for e, n in rows.items() if n}
    assert landed_before_alert and all(landed_before_alert)


def test_alert_on_sink_without_action_does_not_hang(spark):
    """A sink that runs no Spark action leaves the observation empty; the
    alert still fires with the right count, after a bounded wait."""
    import threading
    import time

    df = spark.range(0, 1_000, numPartitions=2).where("id % 2 = 0")
    alerter = LogAlerter()
    seen = []
    wrapped = with_alert(lambda bdf, eid: seen.append(eid), alerter, "s")
    errors = []

    def call():
        try:
            wrapped(df, 3)
        except Exception as e:  # surfaced below, not lost in the thread
            errors.append(e)

    t0 = time.monotonic()
    worker = threading.Thread(target=call, daemon=True)
    worker.start()
    worker.join(timeout=30)
    assert not worker.is_alive(), "with_alert hung on a sink that ran no action"
    assert not errors
    assert time.monotonic() - t0 < 10
    assert seen == [3]
    assert _alert_counts(alerter) == {3: 500}


def test_parquet_sink_roundtrip(spark, tmp_path):
    ev = _events(spark)
    stream = chunked_stream(spark, ev, str(tmp_path / "chunks"), n_chunks=2)
    out = str(tmp_path / "out")
    run_available_now(
        transforms.typed_events(stream),
        ParquetSink(out),
        checkpoint=str(tmp_path / "ckpt"),
    )
    written = spark.read.parquet(out)
    assert written.count() == ev.count()
    assert set(written.columns) == {
        "event_id", "ts", "user_id", "event_type", "value", "prop_k",
    }


def test_run_available_now_timeout_stops_query(spark, tmp_path):
    """A run still going at ``timeout_sec`` is stopped and raises."""
    import time

    src = str(tmp_path / "in")
    spark.range(3).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    active = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError):
        run_available_now(
            stream,
            lambda bdf, eid: time.sleep(6),
            checkpoint=str(tmp_path / "ckpt"),
            timeout_sec=2,
        )
    assert {q.id for q in spark.streams.active} == active


def test_six_query_topology(spark, tmp_path):
    cat = TableCatalog(spark, SF_SMALL, register_views=False)
    ev = cat.events.orderBy("ts")
    stream = chunked_stream(spark, ev, str(tmp_path / "chunks"), n_chunks=3)
    sinks: dict[str, MemoryRowsSink] = {}

    def factory(name: str) -> MemoryRowsSink:
        sinks[name] = MemoryRowsSink()
        return sinks[name]

    alerter = LogAlerter()
    topo = Topology(spark, checkpoint_root=str(tmp_path / "ckpt"))
    EventsTopologyBuilder(
        events_stream=stream,
        customer_dim=cat.customer,
        sink_factory=factory,
        alerter=alerter,
    ).build(topo)
    queries = topo.start_all(available_now=True)
    assert len(queries) == 6
    topo.await_all(timeout=240)
    topo.stop_all()

    n = ev.count()
    assert len(sinks["typed_events"].rows) == n
    assert len(sinks["abnormal_minutes"].rows) == transforms.abnormal_minutes(ev).count()
    assert len(sinks["value_discrepancy"].rows) == transforms.value_discrepancy(ev).count()
    # Windowed queries emit only finalized windows — nonzero and ≤ batch.
    for name, batch_df in [
        ("avg_value_per_hour", transforms.avg_value_per_hour(ev)),
        ("event_counts_per_hour", transforms.event_counts_per_hour(ev)),
        ("counts_by_segment", transforms.counts_by_segment(ev, cat.customer)),
    ]:
        assert 0 < len(sinks[name].rows) <= batch_df.count(), name
    assert alerter.sent  # anomaly alerts fired


@pytest.mark.parametrize("n_chunks", [1, 3])
def test_stream_batch_equivalence_join(spark, tmp_path, n_chunks):
    """Q6 (broadcast join + 2-key window) streamed == batch on finalized keys."""
    cat = TableCatalog(spark, SF_SMALL, register_views=False)
    ev = cat.events.orderBy("ts")
    stream = chunked_stream(spark, ev, str(tmp_path / f"chunks{n_chunks}"), n_chunks)
    sink = MemoryRowsSink()
    run_available_now(
        transforms.counts_by_segment(stream, cat.customer, watermark="60 minutes"),
        sink,
        checkpoint=str(tmp_path / f"ckpt{n_chunks}"),
    )
    batch = {
        (r.date, r.start_time, r.segment): r.total_events
        for r in transforms.counts_by_segment(ev, cat.customer).collect()
    }
    assert sink.rows
    for r in sink.rows:
        assert batch[(r.date, r.start_time, r.segment)] == r.total_events


def test_fanout_topology_equivalence(spark, tmp_path):
    """fanout_stateless=True must produce byte-identical sink contents with
    4 streaming queries instead of 6 — the stateless routes share one source
    read and one checkpoint, the watermarked aggs keep their own."""
    cat = TableCatalog(spark, SF_SMALL, register_views=False)
    ev = cat.events.orderBy("ts")
    stream = chunked_stream(spark, ev, str(tmp_path / "chunks"), n_chunks=3)
    sinks: dict[str, MemoryRowsSink] = {}

    def factory(name: str) -> MemoryRowsSink:
        sinks[name] = MemoryRowsSink()
        return sinks[name]

    alerter = LogAlerter()
    topo = Topology(spark, checkpoint_root=str(tmp_path / "ckpt"))
    EventsTopologyBuilder(
        events_stream=stream,
        customer_dim=cat.customer,
        sink_factory=factory,
        alerter=alerter,
    ).build(topo, fanout_stateless=True)
    queries = topo.start_all(available_now=True)
    assert len(queries) == 4  # 1 fan-out + 3 stateful
    assert "stateless_fanout" in queries
    topo.await_all(timeout=240)
    topo.stop_all()

    # Stateless routes: exact row-set equality with the batch transforms.
    assert {r.event_id for r in sinks["typed_events"].rows} == {
        r.event_id for r in transforms.typed_events(ev).collect()
    }
    assert len(sinks["abnormal_minutes"].rows) == transforms.abnormal_minutes(ev).count()
    assert len(sinks["value_discrepancy"].rows) == transforms.value_discrepancy(ev).count()
    # Stateful queries still emit finalized windows only.
    for name, batch_df in [
        ("avg_value_per_hour", transforms.avg_value_per_hour(ev)),
        ("event_counts_per_hour", transforms.event_counts_per_hour(ev)),
        ("counts_by_segment", transforms.counts_by_segment(ev, cat.customer)),
    ]:
        assert 0 < len(sinks[name].rows) <= batch_df.count(), name
    assert alerter.sent  # alerts still fire from inside the fan-out


def test_topology_observed_ingest_metrics(spark, tmp_path):
    """observe_metrics=True surfaces per-batch ingest counters from every
    query of the topology through its progress records — each query
    re-reads the source (Structured Streaming's model), so per-query ingest
    totals each equal the event count, giving per-consumer lag/health
    visibility with zero extra scans."""
    cat = TableCatalog(spark, SF_SMALL, register_views=False)
    ev = cat.events.orderBy("ts")
    stream = chunked_stream(spark, ev, str(tmp_path / "chunks"), n_chunks=2)

    topo = Topology(spark, checkpoint_root=str(tmp_path / "ckpt"))
    EventsTopologyBuilder(
        events_stream=stream,
        customer_dim=cat.customer,
        sink_factory=lambda name: MemoryRowsSink(),
        observe_metrics=True,
    ).build(topo)
    queries = topo.start_all(available_now=True)
    topo.await_all(timeout=240)
    topo.stop_all()
    n = ev.count()

    totals = {
        q: d["observed"]["ingest"]
        for q, d in progress_digest(queries).items()
        if "ingest" in d["observed"]
    }
    assert len(totals) == 6, totals  # every query reported ingest metrics
    for qname, t in totals.items():
        assert t["n_rows"] == n, (qname, t)
        assert t["null_keys"] == 0, (qname, t)


def test_topology_progress_digest(spark, tmp_path):
    """A two-batch run of the six-query topology, digested: every query read
    every event in two data triggers, every trigger phase is reported, the
    stateful queries' state block agrees with a hand walk of their
    ``recentProgress``, and the stateless queries carry none."""
    stateful = {"avg_value_per_hour", "event_counts_per_hour", "counts_by_segment"}
    cat = TableCatalog(spark, SF_SMALL, register_views=False)
    ev = cat.events.orderBy("ts")
    stream = chunked_stream(spark, ev, str(tmp_path / "chunks"), n_chunks=2)
    topo = Topology(spark, checkpoint_root=str(tmp_path / "ckpt"))
    EventsTopologyBuilder(
        events_stream=stream,
        customer_dim=cat.customer,
        sink_factory=lambda name: MemoryRowsSink(),
    ).build(topo)
    queries = topo.start_all(available_now=True)
    topo.await_all(timeout=240)
    topo.stop_all()
    n = ev.count()

    digest = progress_digest(queries)
    assert set(digest) == set(queries) and len(digest) == 6
    for name, d in digest.items():
        assert d["input_rows"] == n, (name, d)
        assert d["data_triggers"] == 2 and d["triggers"] >= 2, (name, d)
        assert set(d["phases_ms"]) == set(PHASES), name
        for phase in d["phases_ms"].values():
            assert 0 <= phase["median"] <= phase["max"], (name, d)
        assert d["phases_ms"]["triggerExecution"]["max"] > 0, (name, d)
        assert d["observed"] == {}, name  # observe_metrics is off
        if name not in stateful:
            assert "state" not in d, (name, d)
            continue
        ops = [op for p in queries[name].recentProgress for op in p["stateOperators"]]
        assert ops, name
        state = d["state"]
        assert state["batches"] == len(ops)
        assert state["max"] == max(op["numRowsTotal"] for op in ops) > 0
        assert state["last"] == ops[-1]["numRowsTotal"]
        assert state["removed"] == sum(op["numRowsRemoved"] for op in ops)
        assert state["memory_bytes_max"] > 0
