"""Named-query topology management.

The reference starts six queries and serially ``awaitTermination``s each
(``/root/reference/src/spark_streaming.py:340-360``); the engine manages
them as a named collection with per-query checkpoints (reference W5/W6
semantics). ``Topology.await_any`` waits on
``spark.streams.awaitAnyTermination``, so one failure surfaces immediately
instead of being masked behind an earlier await; ``Topology.await_all``
waits for each query in turn under one shared deadline.

``run_available_now`` is the one-shot runner: process everything currently
available and stop (Spark's ``trigger(availableNow=True)``) — the one code
path that starts, awaits and on timeout stops a bounded run, behind the
registered streaming queries (``plans/streamq.py``), the stream/batch
equivalence tests and operational backfills.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .sinks import ForeachBatchSink

__all__ = [
    "StreamQuerySpec",
    "Topology",
    "default_state_partitions",
    "run_available_now",
    "ROCKSDB_PROVIDER",
]

# Spark's bundled RocksDB state store: spills streaming-aggregation state to
# local disk instead of keeping it on the JVM heap. At 100 TB-scale state
# (high-cardinality keys x long watermarks) the default HDFS-backed in-memory
# provider OOMs executors, because its heap grows linearly with state rows;
# RocksDB bounds memory at a throughput cost. The HDFS provider stays faster
# while state fits the heap. Changelog checkpointing makes each checkpoint
# cheaper but makes recovery replay the changelog on top of the last
# snapshot: pick it for checkpoint-bound pipelines with rare restarts, plain
# snapshots for restart-latency-sensitive ones. Measurements: SCALING.md
# "Streaming state at high key cardinality".
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def default_state_partitions(spark: SparkSession, n_queries: int) -> int:
    """State partitions for a topology of ``n_queries`` that sets none.

    On a local master the queries run at once on one machine's cores, and
    every partition costs a task and a state commit on every trigger, so
    each query gets its share of the cores: ``defaultParallelism //
    n_queries``, at least 1, never above the session's
    ``spark.sql.shuffle.partitions``. Elsewhere the session value stands:
    the executor count at first start is not known (under dynamic
    allocation there may be none yet), and the value is pinned into each
    checkpoint for good. Measured on a 4-core host only, with up to 300k
    state rows and 100k-row micro-batches (SCALING.md "State-partition
    sizing"); a query whose state is far larger should set its own count.
    """
    session = int(spark.conf.get(_SHUFFLE_PARTITIONS))
    sc = spark.sparkContext
    if not sc.master.startswith("local"):
        return session
    return min(session, max(1, sc.defaultParallelism // max(1, n_queries)))


@dataclass
class StreamQuerySpec:
    """One named streaming query: transformed DF + sink, in append mode."""

    name: str
    df: DataFrame
    sink: ForeachBatchSink | Callable[[DataFrame, int], None]


@dataclass
class Topology:
    """A set of streaming queries sharing a checkpoint root.

    Each query gets ``<checkpoint_root>/<name>`` (reference W5: one
    checkpoint dir per query, ``spark_streaming.py:135,190,...``).
    """

    spark: SparkSession
    checkpoint_root: str
    specs: list[StreamQuerySpec] = field(default_factory=list)
    # "rocksdb", "hdfs" (the default provider), or a provider class name.
    # Set on the session from start_all to stop_all — the provider is read
    # when a query starts and is pinned into its checkpoint thereafter.
    state_store: str | None = None
    # RocksDB changelog checkpointing: instead of uploading a full state
    # snapshot per checkpoint, upload the per-batch CHANGELOG and snapshot
    # in the background — the knob that amortizes checkpoint upload cost
    # when state is large (the 100 TB question; recovery replays changelog
    # onto the last snapshot). None leaves the session's value. Only
    # meaningful with state_store="rocksdb". It is separate from the
    # provider so the two can be chosen and measured apart (SCALING.md
    # "Streaming state at high key cardinality").
    changelog_checkpointing: bool | None = None
    # Shuffle/state partitions for the stateful operators
    # (``spark.sql.shuffle.partitions`` at first start, pinned into each
    # query's checkpoint thereafter). None pins
    # ``default_state_partitions(spark, len(specs))``. Like the two state
    # store confs, the session's value is back after stop_all.
    state_partitions: int | None = None
    # Trigger for every query when start_all is not asked for availableNow,
    # e.g. {"processingTime": "10 seconds"}; None is Spark's default.
    default_trigger: dict | None = None
    _queries: dict[str, StreamingQuery] = field(default_factory=dict)
    # The session's own value (None: unset) of each conf the topology pins,
    # recorded at the first pin, put back by stop_all or a failed start_all.
    _saved_conf: dict[str, str | None] = field(default_factory=dict, repr=False)

    def add(self, spec: StreamQuerySpec) -> "Topology":
        self.specs.append(spec)
        return self

    def _pin_conf(self, key: str, value: str) -> None:
        # Only the first pin records the session's value: a second
        # start_all before stop_all must not save the topology's own.
        if key not in self._saved_conf:
            self._saved_conf[key] = self.spark.conf.get(key, None)
        self.spark.conf.set(key, value)

    def _restore_conf(self) -> None:
        for key, value in self._saved_conf.items():
            if value is None:
                self.spark.conf.unset(key)
            else:
                self.spark.conf.set(key, value)
        self._saved_conf.clear()

    def _apply_state_store(self) -> None:
        if self.changelog_checkpointing is not None:
            self._pin_conf(
                "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
                ".enabled",
                "true" if self.changelog_checkpointing else "false",
            )
        if self.state_store is None:
            return
        provider = {
            "rocksdb": ROCKSDB_PROVIDER,
            "hdfs": "org.apache.spark.sql.execution.streaming."
            "state.HDFSBackedStateStoreProvider",
        }.get(self.state_store.lower(), self.state_store)
        self._pin_conf("spark.sql.streaming.stateStore.providerClass", provider)

    def start_all(self, available_now: bool = False) -> dict[str, StreamingQuery]:
        try:
            self._apply_state_store()
            parts = self.state_partitions
            if parts is None:
                parts = default_state_partitions(self.spark, len(self.specs))
            self._pin_conf(_SHUFFLE_PARTITIONS, str(parts))
            for spec in self.specs:
                writer = (
                    spec.df.writeStream.outputMode("append")
                    .queryName(spec.name)
                    .option(
                        "checkpointLocation",
                        os.path.join(self.checkpoint_root, spec.name),
                    )
                    .foreachBatch(spec.sink)
                )
                if available_now:
                    writer = writer.trigger(availableNow=True)
                elif self.default_trigger:
                    writer = writer.trigger(**self.default_trigger)
                self._queries[spec.name] = writer.start()
        except BaseException:
            # Queries already started keep the conf they started with (each
            # runs on a clone of the session); stop_all still stops them.
            self._restore_conf()
            raise
        return dict(self._queries)

    def await_all(self, timeout: float | None = None) -> None:
        """Wait for every query to end, ``timeout`` seconds in total."""
        deadline = None if timeout is None else time.monotonic() + timeout
        for q in self._queries.values():
            # 1 ms floor: PySpark rejects a zero timeout, and a query past
            # the deadline is still asked so its failure surfaces.
            left = None if deadline is None else max(deadline - time.monotonic(), 0.001)
            q.awaitTermination(left)

    def await_any(self, timeout: float | None = None) -> None:
        self.spark.streams.awaitAnyTermination(timeout)

    def stop_all(self) -> None:
        for q in self._queries.values():
            if q.isActive:
                q.stop()
        self._restore_conf()


def run_available_now(
    df: DataFrame,
    sink: str | ForeachBatchSink | Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str = "append",
    timeout_sec: float = 300.0,
) -> StreamingQuery:
    """Process all currently-available input through ``sink`` and stop.

    A ``str`` sink names an in-memory table (Spark's memory sink, readable
    with ``spark.table(sink)``); anything else is a ``foreachBatch`` body.
    A run still going after ``timeout_sec`` is stopped and raises
    ``TimeoutError``. Returns the ended query, whose progress
    ``observe.progress_digest`` reads."""
    writer = (
        df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    if isinstance(sink, str):
        writer = writer.format("memory").queryName(sink)
    else:
        writer = writer.foreachBatch(sink)
    query = writer.start()
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError(f"streaming query did not finish in {timeout_sec}s")
    return query
