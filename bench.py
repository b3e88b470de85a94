"""Benchmark harness: runs the registered query set and prints ONE JSON line.

Usage: ``python bench.py`` — honors ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) and ``$SPARK_GRAFT_CPUS`` (default all cores).
Each query is written to the noop sink and timed wall-clock. Before the
timed pass the same queries run once, untimed, over the sibling ``sf0.001``
directory, so the one-time JVM costs of each kernel family (codegen, class
loading) are not billed to whichever query uses it first; ``warmup_sec`` is
that untimed region's wall time. ``codegen_compiles_warmup`` and
``codegen_compiles_timed`` count the classes Spark generated and compiled
in each region: a timed pass that recompiles what the pre-pass compiled has
lost it from the generated-code cache.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from stream_processing_pipeline_spark.plans import REGISTRY  # noqa: E402
from stream_processing_pipeline_spark.session import build_session, default_parallelism  # noqa: E402
from stream_processing_pipeline_spark.sources.memory import chunked_stream  # noqa: E402
from stream_processing_pipeline_spark.sources.registry import TableCatalog  # noqa: E402
from stream_processing_pipeline_spark.streaming import Topology, progress_digest  # noqa: E402
from stream_processing_pipeline_spark.streaming.topology import EventsTopologyBuilder  # noqa: E402


def run_queries(spark, items, sf_dir: str) -> tuple[dict[str, float], dict[str, str]]:
    """Write each ``(name, query)`` over ``sf_dir`` to the noop sink.

    Returns ``(timings, failures)``: wall seconds per query, -1.0 for a
    query that raised, whose error text goes to ``failures``.
    """
    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name, q in items:
        # stderr progress (stdout stays ONE parseable JSON line): after an
        # executor-death failure the last-started name is otherwise
        # unattributable because timings only print at the end.
        print(f"bench: {name} ({sf_dir})", file=sys.stderr, flush=True)
        t0 = time.perf_counter()
        try:
            # noop sink: fully materializes every output column (count()
            # would let Catalyst prune projections, under-measuring scans).
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # keep the bench line parseable on failures
            failures[name] = f"{type(e).__name__}: {e}"[:200]
            timings[name] = -1.0
        finally:
            # Registered builds release the previous build's persisted
            # frames themselves (session.release). Clearing here still does
            # two things: an item that is not a registered build leaves
            # nothing cached, and the release of this query's frames falls
            # outside the next query's timed region.
            spark.catalog.clearCache()
    return timings, failures


def codegen_compiles(spark) -> int:
    """Generated classes this JVM has compiled so far (Spark's
    ``CodegenMetrics`` compilation-time histogram counts one per compile;
    a lookup the generated-code cache answers adds none)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0  # unrecognized dir naming; still benchmark it
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        raise SystemExit(f"bench: warm-up data directory missing: {warm_dir}")

    # Subset mode: SPARK_GRAFT_BENCH_ONLY=name1,name2 times just those
    # queries under the same session/warm-up/noop-sink regime and skips the
    # streaming benches — the per-query A/B tool (tools/ab_subset.py).
    only = {
        n for n in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if n
    }
    items = sorted(REGISTRY.items())
    if only:
        unknown = only - {n for n, _ in items}
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY unknown: {sorted(unknown)}")
        items = [(n, q) for n, q in items if n in only]

    cpus = default_parallelism()
    spark = build_session(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed warm-up: the same queries at sf0.001, then one limit-1 read
    # per fixture (footer/codec init), then a 32-task mapInPandas that
    # starts a Python worker per core, which the tiny pre-pass does not.
    t0 = time.perf_counter()
    compiles0 = codegen_compiles(spark)
    _, warm_failures = run_queries(spark, items, warm_dir)
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        spark.read.parquet(p).limit(1).collect()
    spark.range(0, 64, 1, 32).mapInPandas(lambda it: it, "id long").count()
    warmup_sec = round(time.perf_counter() - t0, 3)
    compiles1 = codegen_compiles(spark)

    timings, failures = run_queries(spark, items, sf_dir)
    compiles2 = codegen_compiles(spark)
    failures = {**{f"warmup:{n}": e for n, e in warm_failures.items()}, **failures}
    total = round(sum(t for t in timings.values() if t >= 0), 3)

    out = {
        "metric": "subset_query_wall_seconds" if only else "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "failures": failures,
        "warmup_sec": warmup_sec,
        "codegen_compiles_warmup": compiles1 - compiles0,
        "codegen_compiles_timed": compiles2 - compiles1,
    }
    if not only:
        out.update(_bench_streaming(spark, sf_dir))
    line = json.dumps(out)
    print(line)
    # A reader that keeps only the tail of this line loses most per-query
    # timings; persist the COMPLETE output when asked so BENCH_LOCAL_r<N>.json
    # can be committed in-repo.
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


def _bench_streaming(spark, sf_dir: str) -> dict:
    """Streaming-topology throughput, the reference's actual workload shape
    (six concurrent queries over an event stream): the bench-line fields of
    every run in ``STREAM_RUNS``, each with its ``<prefix>_progress`` digest.

    Stabilize first: the topology runs right after the batch sweep, whose
    garbage (shuffle files, JVM heap churn) otherwise bleeds GC pauses into
    the throughput figure (observed 60k vs 110k events/s run to run with
    identical code). The first topology run of a session also pays
    streaming-machinery class loading, so one untimed base run goes first:
    steady-state throughput is the figure that scales, and it is
    reproducible within ~5% (vs 2x swings cold)."""
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    # Disk sentinel: the sustained streaming figures swing up to 3x with
    # ambient checkpoint-IO contention (one run recorded RocksDB at 68k ev/s
    # that a quiet-window re-run put at 177k). A fixed 64 MB fsync'd write
    # probe timed here lets any reader normalize the streaming numbers for
    # the machine's IO state at measurement time. The quiet reading depends
    # on the host (80-320 MB/s on one, ~1,250 on another): a probe far below
    # the same host's earlier probes flags an ambient-IO window, not a code
    # regression — normalize before calling a streaming delta real.
    out = {"streaming_disk_probe_mb_s": _disk_write_probe_mb_s()}
    try:
        _stream_run(spark, sf_dir)
    except Exception as e:  # never break the bench line
        out["streaming_warmup_error"] = f"{type(e).__name__}: {e}"[:200]
    for prefix, stem, kw in STREAM_RUNS:
        try:
            wall, n_events, digest = _stream_run(spark, sf_dir, **kw)
        except Exception as e:  # never break the bench line
            out[f"{stem}_error"] = f"{type(e).__name__}: {e}"[:200]
            continue
        out.update(
            {
                f"{prefix}_events": n_events,
                f"{stem}_sec": round(wall, 3),
                # Six logical queries each consume the full stream, also
                # when the fan-out delivers them with fewer source reads.
                f"{prefix}_events_per_sec": round(6 * n_events / wall),
                f"{prefix}_state_rows": {
                    name: {k: d["state"][k] for k in ("batches", "max", "last", "removed")}
                    for name, d in digest.items()
                    if "state" in d
                },
                f"{prefix}_progress": digest,
            }
        )
    return out


def _disk_write_probe_mb_s(total_mb: int = 64, chunk_mb: int = 4) -> float:
    """Fixed-size fsync'd sequential-write probe in the same temp filesystem
    the streaming checkpoints use. Returns MB/s (or -1.0 on any error —
    the sentinel must never break the bench line)."""
    import os as _os
    import tempfile

    try:
        chunk = b"\xa5" * (chunk_mb << 20)
        fd, path = tempfile.mkstemp(prefix="bench_disk_probe_")
        try:
            t0 = time.perf_counter()
            for _ in range(total_mb // chunk_mb):
                _os.write(fd, chunk)
                _os.fsync(fd)
            wall = time.perf_counter() - t0
        finally:
            _os.close(fd)
            _os.unlink(path)
        return round(total_mb / wall, 1)
    except Exception:
        return -1.0


# The timed streaming runs: (field prefix, stem of the wall-time and error
# fields, _stream_run arguments).
_SUSTAINED = {"replicas": 3, "n_chunks": 12, "fanout_stateless": True}
STREAM_RUNS = [
    ("streaming", "streaming_topology", {}),
    # Stateless routes share one source read (4 queries instead of 6): same
    # sink contents, less ingest.
    ("streaming_fanout", "streaming_fanout_topology", {"fanout_stateless": True}),
    ("streaming_sustained", "streaming_sustained", _SUSTAINED),
    # Spark's bundled RocksDB provider, the production choice for large
    # state (it spills to local disk instead of the JVM heap).
    (
        "streaming_sustained_rocksdb",
        "streaming_sustained_rocksdb",
        {**_SUSTAINED, "state_store": "rocksdb", "changelog": False},
    ),
    # RocksDB + changelog checkpointing: per-batch changelog upload instead
    # of full snapshots, the mode that amortizes checkpoint cost for large
    # state. Same workload, so the state-row eviction traces must match the
    # other two providers'.
    (
        "streaming_sustained_rocksdb_changelog",
        "streaming_sustained_rocksdb_changelog",
        {**_SUSTAINED, "state_store": "rocksdb", "changelog": True},
    ),
]


def _noop_sink(batch_df, epoch_id):
    batch_df.write.format("noop").mode("overwrite").save()


def _stream_run(
    spark,
    sf_dir: str,
    replicas: int = 1,
    n_chunks: int = 4,
    fanout_stateless: bool = False,
    state_store: str | None = None,
    changelog: bool | None = None,
) -> tuple[float, int, dict]:
    """One availableNow drain of the reference topology into no-op sinks.

    The events are replayed in event-time order as ``n_chunks`` one-file
    micro-batches; chunk preparation is outside the timed region.
    ``replicas`` > 1 appends time-shifted copies of the events (the sustained
    runs: 3 replicas in 12 chunks, the base run's batch size and 3x its
    batches). Event time then keeps advancing, so the 60-minute watermark
    must keep evicting closed windows and the per-batch state footprint
    stays flat — state tracks open windows x keys, never events seen.

    Returns the wall seconds from start to stop, the event count and
    ``observe.progress_digest`` of the run's queries."""
    work = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        cat = TableCatalog(spark, sf_dir, register_views=False)
        ev = cat.events
        # The fixture spans ~30 days; shift each replica past the previous
        # one so event time is monotone over the whole run.
        for r in range(1, replicas):
            ev = ev.unionByName(
                cat.events.select(
                    (F.col("event_id") + F.lit(r * 10**12)).alias("event_id"),
                    F.expr(f"ts + INTERVAL {30 * r} DAYS").alias("ts"),
                    "user_id",
                    "event_type",
                    "value",
                    "props",
                )
            )
        ev = ev.orderBy("ts")
        n_events = ev.count()
        stream = chunked_stream(spark, ev, work + "/chunks", n_chunks=n_chunks)
        topo = Topology(
            spark,
            checkpoint_root=work + "/ckpt",
            state_store=state_store,
            changelog_checkpointing=changelog,
        )
        EventsTopologyBuilder(
            events_stream=stream,
            customer_dim=cat.customer,
            sink_factory=lambda name: _noop_sink,
        ).build(topo, fanout_stateless=fanout_stateless)
        t0 = time.perf_counter()
        try:
            queries = topo.start_all(available_now=True)
            topo.await_all(timeout=600)
        finally:
            topo.stop_all()  # a failed run must not leave queries running
        wall = time.perf_counter() - t0
        return wall, n_events, progress_digest(queries)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
