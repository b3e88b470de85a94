"""Managed Structured Streaming: sinks, alerts, topology.

The reference runs six concurrent streaming queries off one parsed Kafka
lineage, each with its own checkpoint and a foreachBatch JDBC sink, with
email alerts fired from inside micro-batch processing
(``/root/reference/src/spark_streaming.py:340-360,116-124,156-229``). This
package generalizes that into:

- :mod:`.sinks`  — pluggable foreachBatch sinks (JDBC, parquet, memory/test)
  with optional epoch-keyed idempotence (the reference ignores ``epoch_id``
  and is at-least-once; we preserve that default and offer exactly-once-per-
  epoch as an opt-in)
- :mod:`.alerts` — injectable alert hooks (log / callback / SMTP email parity
  with ``/root/reference/src/utils.py:11-30``) driven by count predicates
- :mod:`.runner` — named-query topology: start all, await, stop; plus the
  ``availableNow`` one-shot runner behind the registered streaming queries,
  tests and backfills
- :mod:`.topology` — the six reference queries as one managed streaming
  topology over an events stream
- :mod:`.stateful` — Spark 4 ``transformWithStateInPandas`` processors
  (typed state handles; runtime-gated on ``google.protobuf``)
- :mod:`.observe` — in-plan observed metrics and ``progress_digest``, the
  one reader of the queries' progress records (trigger phases, state
  rows, commit time and memory, observed metrics)
"""

from .alerts import Alerter, CallbackAlerter, EmailAlerter, LogAlerter
from .observe import progress_digest, with_observed_metrics
from .runner import ROCKSDB_PROVIDER, StreamQuerySpec, Topology, run_available_now
from .stateful import (
    HAS_TWS_RUNTIME,
    RunningStatsProcessor,
    user_stats_transform_with_state,
)
from .spec import (
    REFERENCE_EVENTS_SPEC_PATH,
    compile_query,
    compile_topology,
    expand_macros,
    load_spec,
)
from .sinks import (
    FanOutSink,
    ForeachBatchSink,
    JdbcSink,
    MemoryRowsSink,
    ParquetSink,
    with_alert,
)

__all__ = [
    "progress_digest",
    "with_observed_metrics",
    "Alerter",
    "LogAlerter",
    "CallbackAlerter",
    "EmailAlerter",
    "ForeachBatchSink",
    "FanOutSink",
    "JdbcSink",
    "ParquetSink",
    "MemoryRowsSink",
    "with_alert",
    "StreamQuerySpec",
    "Topology",
    "run_available_now",
    "load_spec",
    "expand_macros",
    "compile_query",
    "compile_topology",
    "REFERENCE_EVENTS_SPEC_PATH",
    "ROCKSDB_PROVIDER",
    "HAS_TWS_RUNTIME",
    "RunningStatsProcessor",
    "user_stats_transform_with_state",
]
