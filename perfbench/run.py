"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: ``stream_drain`` and
``batch_queries`` (see README.md here). The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records the host (cores, disk probe, the
JVM heap) and the workload's details, CPU steal among them. Exits
non-zero, printing no result, when the program under test is not there.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "stream_drain": ("streams", "run_drain"),
    "batch_queries": ("batch", "run"),
}

# Per-layer metrics of the traced run, with units. A workload that never
# enters a layer reports that layer's metrics as 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "sources.catalog_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "operators.run_s": "s",
    "operators.cpu_s": "s",
    "operators.executor_run_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.cpu_share": "ratio",
    "runner.batches": "count",
    "runner.useful_batch_ratio": "ratio",
    "runner.trigger_ms_p50": "ms",
    "runner.add_batch_ms": "ms",
    "runner.query_planning_ms": "ms",
    "runner.wal_commit_ms": "ms",
    "runner.commit_offsets_ms": "ms",
    "sinks.call_ms": "ms",
    "sinks.rows": "count",
    "sinks.alerts": "count",
    "state.rows_total_max": "count",
    "state.rows_removed": "count",
    "state.rows_dropped_by_watermark": "count",
    "state.commit_ms": "ms",
    "state.memory_bytes_max": "bytes",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        importlib.import_module("stream_processing_pipeline_spark.streaming")
        importlib.import_module("tests.oracle_harness")
    except ImportError as e:
        print(f"perfbench: program under test not found: {e}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    import host
    import spark_env

    shutil.rmtree(spark_env.WORK, ignore_errors=True)
    module, fn = WORKLOADS[args.workload]
    try:
        result = getattr(importlib.import_module(module), fn)(
            args.seed, args.seconds, bool(args.trace)
        )
        disk_mb_s = host.disk_probe_mb_s()  # writes under the work dir
    finally:
        shutil.rmtree(spark_env.WORK, ignore_errors=True)

    if args.trace:
        layers = result.get("layers", {})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in result["metrics"].items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "cores": host.cores(),
            "disk_probe_mb_s": disk_mb_s,
            "driver_memory": spark_env.driver_memory,
        },
        "details": result["details"],
    }
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": bool(result["correct"]),
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
