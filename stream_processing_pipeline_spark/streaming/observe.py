"""Streaming observability: ``df.observe()`` metrics + a progress digest.

The reference pipeline has no monitoring at all (alerts are its only
signal); a production topology needs per-batch throughput/quality counters
that don't cost a second aggregation. Spark's ``Observation`` API computes
named aggregates *inside* the running query plan (piggybacked on the
existing pass — zero extra scans, works identically at 100 TB) and reports
them through ``StreamingQueryProgress``; this module wires the two ends:

- :func:`with_observed_metrics` attaches a standard metric set (row count,
  null-key count, exact value cents) to any streaming DataFrame.
- :func:`progress_digest` folds each query's retained progress records
  (``recentProgress``) into one summary: triggers and input rows, the
  trigger phases, state-store rows, commit time and memory, and the
  observed metrics. It is the package's one reader of
  ``StreamingQueryProgress``.

Cited reference gap: ``/root/reference/src/spark_streaming.py`` logs nothing
per batch; the operator-count alerting it does have is covered by
``streaming/sinks.py:with_alert``.
"""

from __future__ import annotations

from collections.abc import Mapping
from statistics import median

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.money import cents

__all__ = ["with_observed_metrics", "progress_digest", "PHASES"]

# The ``durationMs`` phases of a micro-batch trigger.
PHASES = (
    "addBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "latestOffset",
    "getBatch",
    "triggerExecution",
)


def with_observed_metrics(
    df: DataFrame,
    name: str = "metrics",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Attach in-plan observed metrics to a (streaming) DataFrame: row count,
    NULL-key count (data-quality canary), and the exact integer-cents value
    sum (order-independent, so the metric is deterministic run-to-run)."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col(key_col).isNull(), 1)).alias("null_keys"),
        F.sum(cents(value_col)).alias("value_cents"),
    )


def progress_digest(queries: Mapping[str, StreamingQuery]) -> dict[str, dict]:
    """Fold each query's ``recentProgress`` into a per-query digest.

    Read it once the queries have ended: ``recentProgress`` is complete when
    ``awaitTermination`` returns, and it holds the last
    ``spark.sql.streaming.numRecentProgressUpdates`` triggers (default 100).
    Each digest holds:

    - ``triggers``, ``data_triggers`` (triggers with input rows) and
      ``input_rows``;
    - ``phases_ms``: median and max of each of :data:`PHASES` over the
      triggers with data (0 when there were none);
    - ``state``, for queries with state operators only: ``batches`` (one
      per operator per trigger), ``max`` and ``last`` rows in state,
      ``removed`` and ``dropped_by_watermark`` rows summed over triggers,
      ``commit_ms_median`` over the triggers with data and
      ``memory_bytes_max``;
    - ``observed``: each observation's metrics summed over triggers.
    """
    return {name: _digest(q.recentProgress) for name, q in queries.items()}


def _digest(progresses: list) -> dict:
    data = [p for p in progresses if p["numInputRows"]]
    out: dict = {
        "triggers": len(progresses),
        "data_triggers": len(data),
        "input_rows": sum(p["numInputRows"] for p in data),
        "phases_ms": {k: _median_max([p["durationMs"].get(k, 0) for p in data]) for k in PHASES},
    }
    ops = [op for p in progresses for op in p["stateOperators"]]
    if ops:
        out["state"] = {
            "batches": len(ops),
            "max": max(op["numRowsTotal"] for op in ops),
            "last": ops[-1]["numRowsTotal"],
            "removed": sum(op["numRowsRemoved"] for op in ops),
            "dropped_by_watermark": sum(op["numRowsDroppedByWatermark"] for op in ops),
            "commit_ms_median": _median(
                [op["commitTimeMs"] for p in data for op in p["stateOperators"]]
            ),
            "memory_bytes_max": max(op["memoryUsedBytes"] for op in ops),
        }
    observed: dict[str, dict] = {}
    for p in progresses:
        for obs_name, row in p["observedMetrics"].items():
            totals = observed.setdefault(obs_name, {})
            for k, v in row.asDict().items():
                totals[k] = totals.get(k, 0) + (v or 0)
    out["observed"] = observed
    return out


def _median(xs: list) -> float:
    return median(xs) if xs else 0


def _median_max(xs: list) -> dict:
    return {"median": _median(xs), "max": max(xs, default=0)}
