"""Benchmark harness: runs the registered query set and prints ONE JSON line.

Usage: ``python bench.py`` — honors ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) and ``$SPARK_GRAFT_CPUS`` (default all cores).
Each query is written to the noop sink and timed wall-clock. Before the
timed pass the same queries run once, untimed, over the sibling ``sf0.001``
directory, so the one-time JVM costs of each kernel family (codegen, class
loading) are not billed to whichever query uses it first; ``warmup_sec`` is
that untimed region's wall time.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stream_processing_pipeline_spark.plans import REGISTRY  # noqa: E402
from stream_processing_pipeline_spark.session import build_session, default_parallelism  # noqa: E402


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
            # A few operators persist intermediates (posting lists, edge
            # caches) that the lazy return value still depends on when the
            # function exits, so they cannot unpersist themselves; clearing
            # per query keeps one query's cache from occupying memory and
            # skewing every later timing.
            spark.catalog.clearCache()
    return timings, failures


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
    _, warm_failures = run_queries(spark, items, warm_dir)
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        spark.read.parquet(p).limit(1).collect()
    spark.range(0, 64, 1, 32).mapInPandas(lambda it: it, "id long").count()
    warmup_sec = round(time.perf_counter() - t0, 3)

    timings, failures = run_queries(spark, items, sf_dir)
    failures = {**{f"warmup:{n}": e for n, e in warm_failures.items()}, **failures}
    total = round(sum(t for t in timings.values() if t >= 0), 3)

    if only:
        line = json.dumps(
            {
                "metric": "subset_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "n_queries": len(timings),
                "failures": failures,
                "warmup_sec": warmup_sec,
            }
        )
        print(line)
        out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
        if out_path:
            with open(out_path, "w") as fh:
                fh.write(line + "\n")
        spark.stop()
        return

    # Streaming-topology throughput: the reference's actual workload shape
    # (six concurrent queries over an event stream). Chunk prep is outside
    # the timed region; each sink fully materializes its micro-batches.
    # Stabilize first: the topology runs right after the 100+-query batch
    # sweep, whose garbage (shuffle files, JVM heap churn) otherwise bleeds
    # GC pauses into the throughput figure (observed 60k vs 110k events/s
    # run to run with identical code). The first topology run of a session
    # also pays streaming-machinery class loading, so run once as warm-up
    # and record the second run — steady-state throughput is the figure
    # that scales, and it is reproducible within ~5% (vs 2x swings cold).
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    # Disk sentinel (VERDICT r6 #8): the sustained streaming figures swing
    # up to 3x with ambient checkpoint-IO contention (BENCH_r06 recorded
    # RocksDB 68k ev/s that a quiet-window re-run disproved at 177k). A
    # fixed 64 MB fsync'd write probe timed here lets any reader normalize
    # the streaming numbers for the machine's IO state at measurement time
    # (measured quiet band on this machine: ~80-320 MB/s over repeated
    # probes; a probe far below the band flags an ambient-IO window, not a
    # code regression — normalize before calling a streaming delta real).
    disk_probe = _disk_write_probe_mb_s()
    _bench_streaming_topology(spark, sf_dir)
    streaming = _bench_streaming_topology(spark, sf_dir)
    sustained = _bench_streaming_sustained(spark, sf_dir)
    sustained_rocks = _bench_streaming_sustained(
        spark, sf_dir, state_store="rocksdb", changelog=False,
        prefix="streaming_sustained_rocksdb",
    )
    # Third variant (VERDICT r4 #5): RocksDB + changelog checkpointing —
    # per-batch changelog upload instead of full snapshots, the mode that
    # amortizes checkpoint cost at 100 TB state. Same workload, so the
    # state-row eviction traces must match the other two providers'.
    sustained_rocks_cl = _bench_streaming_sustained(
        spark, sf_dir, state_store="rocksdb", changelog=True,
        prefix="streaming_sustained_rocksdb_changelog",
    )

    out = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "failures": failures,
        "warmup_sec": warmup_sec,
        "streaming_disk_probe_mb_s": disk_probe,
        **streaming,
        **sustained,
        **sustained_rocks,
        **sustained_rocks_cl,
    }
    line = json.dumps(out)
    print(line)
    # VERDICT r7 #4: the external driver preserves only a 2000-char tail of
    # this line, which loses most per-query timings and forces cross-round
    # attribution to be reconstructed from prose. Persist the COMPLETE
    # output when asked so BENCH_LOCAL_r<N>.json can be committed in-repo.
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


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


def _bench_streaming_topology(spark, sf_dir: str) -> dict:
    import shutil
    import tempfile

    try:
        from stream_processing_pipeline_spark.sources.memory import chunked_stream
        from stream_processing_pipeline_spark.sources.registry import TableCatalog
        from stream_processing_pipeline_spark.streaming import Topology
        from stream_processing_pipeline_spark.streaming.topology import (
            EventsTopologyBuilder,
        )

        work = tempfile.mkdtemp(prefix="bench_stream_")
        cat = TableCatalog(spark, sf_dir, register_views=False)
        ev = cat.events.orderBy("ts")
        n_events = ev.count()
        stream = chunked_stream(spark, ev, work + "/chunks", n_chunks=4)

        def noop_sink(batch_df, epoch_id):
            batch_df.write.format("noop").mode("overwrite").save()

        def run(ckpt: str, fanout_stateless: bool) -> float:
            # State partitions: the Topology default, each query's share of
            # the cores (streaming.runner.default_state_partitions).
            topo = Topology(spark, checkpoint_root=f"{work}/{ckpt}")
            EventsTopologyBuilder(
                events_stream=stream,
                customer_dim=cat.customer,
                sink_factory=lambda name: noop_sink,
            ).build(topo, fanout_stateless=fanout_stateless)
            t0 = time.perf_counter()
            topo.start_all(available_now=True)
            topo.await_all(timeout=300)
            topo.stop_all()
            return time.perf_counter() - t0

        wall = run("ckpt", fanout_stateless=False)
        # Fan-out variant: stateless routes share one source read (4 queries
        # instead of 6) — same sink contents, less ingest.
        wall_fanout = run("ckpt_fanout", fanout_stateless=True)

        shutil.rmtree(work, ignore_errors=True)
        return {
            "streaming_topology_sec": round(wall, 3),
            # 6 concurrent queries each consume the full stream.
            "streaming_events_per_sec": round(6 * n_events / wall),
            "streaming_fanout_topology_sec": round(wall_fanout, 3),
            # same logical work delivered by 4 queries / 4 source reads
            "streaming_fanout_events_per_sec": round(6 * n_events / wall_fanout),
        }
    except Exception as e:  # never break the bench line
        return {"streaming_topology_error": f"{type(e).__name__}: {e}"[:200]}


def _bench_streaming_sustained(
    spark,
    sf_dir: str,
    replicas: int = 3,
    n_chunks: int = 12,
    state_store: str | None = None,
    changelog: bool | None = None,
    prefix: str = "streaming_sustained",
) -> dict:
    """Sustained-rate run at ``replicas``x the event volume: time-shifted
    event replicas replayed as ``n_chunks`` one-file micro-batches (same
    per-batch size as the base topology run, 3x the batches), through the
    fan-out topology. Alongside throughput it records the state-store row
    counts of each windowed aggregation per micro-batch
    (``stateOperators.numRowsTotal`` / ``numRowsRemoved``): event-time keeps
    advancing across the replicas, so the 60-minute watermark must keep
    evicting closed windows and the per-batch state footprint must stay
    FLAT — the property that lets the same topology run forever at 100 TB
    (state ~ open windows x keys, never ~ events seen).

    ``state_store="rocksdb"`` repeats the run on Spark's bundled RocksDB
    provider — the 100 TB production choice (state spills to local disk
    instead of the JVM heap) — so BENCH records both providers' throughput
    and eviction behavior side by side (VERDICT r3 "Next round" #6)."""
    import json as _json
    import shutil
    import tempfile

    try:
        from pyspark.sql import functions as F

        from stream_processing_pipeline_spark.sources.memory import chunked_stream
        from stream_processing_pipeline_spark.sources.registry import TableCatalog
        from stream_processing_pipeline_spark.streaming import Topology
        from stream_processing_pipeline_spark.streaming.topology import (
            EventsTopologyBuilder,
        )

        work = tempfile.mkdtemp(prefix="bench_sustained_")
        cat = TableCatalog(spark, sf_dir, register_views=False)
        ev = cat.events
        # The fixture spans ~30 days; shift each replica past the previous
        # one so event-time is monotone over the whole run and the watermark
        # keeps moving (stalled event-time would never evict anything).
        reps = [
            ev.select(
                (F.col("event_id") + F.lit(r * 10**12)).alias("event_id"),
                F.expr(f"ts + INTERVAL {30 * r} DAYS").alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
            for r in range(replicas)
        ]
        big = reps[0]
        for x in reps[1:]:
            big = big.unionByName(x)
        big = big.orderBy("ts")
        n_events = big.count()
        stream = chunked_stream(spark, big, work + "/chunks", n_chunks=n_chunks)

        def noop_sink(batch_df, epoch_id):
            batch_df.write.format("noop").mode("overwrite").save()

        topo = Topology(
            spark,
            checkpoint_root=work + "/ckpt",
            state_store=state_store,
            changelog_checkpointing=changelog,
        )
        EventsTopologyBuilder(
            events_stream=stream,
            customer_dim=cat.customer,
            sink_factory=lambda name: noop_sink,
        ).build(topo, fanout_stateless=True)
        t0 = time.perf_counter()
        queries = topo.start_all(available_now=True)
        topo.await_all(timeout=600)
        state: dict[str, dict] = {}
        for name in (
            "avg_value_per_hour",
            "event_counts_per_hour",
            "counts_by_segment",
        ):
            progresses = [
                _json.loads(p.json) if hasattr(p, "json") else p
                for p in queries[name].recentProgress
            ]
            rows = [
                op["numRowsTotal"]
                for p in progresses
                for op in p.get("stateOperators", [])
            ]
            removed = sum(
                op.get("numRowsRemoved") or 0
                for p in progresses
                for op in p.get("stateOperators", [])
            )
            if rows:
                state[name] = {
                    "batches": len(rows),
                    "max": max(rows),
                    "last": rows[-1],
                    "removed": removed,
                }
        topo.stop_all()
        wall = time.perf_counter() - t0
        shutil.rmtree(work, ignore_errors=True)
        return {
            f"{prefix}_events": n_events,
            f"{prefix}_sec": round(wall, 3),
            # same 6-logical-queries convention as the base topology figure
            f"{prefix}_events_per_sec": round(6 * n_events / wall),
            f"{prefix}_state_rows": state,
        }
    except Exception as e:  # never break the bench line
        return {f"{prefix}_error": f"{type(e).__name__}: {e}"[:200]}


if __name__ == "__main__":
    main()
