"""foreachBatch sinks.

The reference's sink is ``df.write.jdbc(..., mode="append")`` invoked from
``foreachBatch`` with the ``epoch_id`` ignored — at-least-once delivery,
duplicates possible on micro-batch retry
(``/root/reference/src/spark_streaming.py:116-124``; SURVEY.md §2.7 W4).
:class:`JdbcSink` preserves that default for parity and offers an
epoch-keyed idempotent mode: an ``__epoch_id`` column + delete-before-write
per epoch makes retries overwrite instead of duplicate.

:func:`with_alert` covers the reference's alerted micro-batch
(``spark_streaming.py:156-184``), which runs two actions per trigger: a
``count()``, maybe an email, then the JDBC write. Here the row count rides
the sink's own write as an observed metric (``df.observe``), so an alerted
batch runs only the sink's Spark jobs. The alert follows the sink, so it
never reports rows that failed to land. The count arrives asynchronously
and is read with a bounded wait, falling back to a ``count()`` if the
sink ran no action; it covers the rows the sink's first action read.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .alerts import Alerter

__all__ = [
    "ForeachBatchSink",
    "JdbcSink",
    "ParquetSink",
    "MemoryRowsSink",
    "FanOutSink",
    "with_alert",
]

# How long :func:`with_alert` waits for the listener bus to deliver a
# batch's observed count before it counts the batch itself.
_OBSERVATION_WAIT_S = 2.0


class ForeachBatchSink:
    """Interface: a callable usable as ``writeStream.foreachBatch(sink)``."""

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:  # pragma: no cover
        raise NotImplementedError


@dataclass
class JdbcSink(ForeachBatchSink):
    """JDBC append sink (Postgres-compatible).

    ``epoch_idempotent=False`` (default) is reference parity: plain append,
    at-least-once. ``True`` stamps each row with ``__epoch_id`` and calls the
    injected ``delete_epoch_fn(epoch_id)`` before writing, so a retried
    micro-batch replaces rather than duplicates its rows. The deletion needs
    a direct DB statement (Spark's JDBC writer cannot DELETE), hence the
    injectable — e.g. a psycopg2 ``DELETE FROM t WHERE __epoch_id = %s``.
    """

    url: str
    table: str
    properties: dict[str, str] = field(default_factory=dict)
    mode: str = "append"
    epoch_idempotent: bool = False
    delete_epoch_fn: Callable[[int], None] | None = None

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:  # pragma: no cover - needs a DB
        df = batch_df
        if self.epoch_idempotent:
            df = df.withColumn("__epoch_id", F.lit(epoch_id))
            if self.delete_epoch_fn is not None:
                self.delete_epoch_fn(epoch_id)
        df.write.jdbc(self.url, self.table, mode=self.mode, properties=self.properties)


@dataclass
class ParquetSink(ForeachBatchSink):
    """Append micro-batches to a parquet directory."""

    path: str

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(self.path)


class MemoryRowsSink(ForeachBatchSink):
    """Collect micro-batch rows on the driver — tests only."""

    def __init__(self) -> None:
        self.batches: list[tuple[int, list]] = []

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.batches.append((epoch_id, batch_df.collect()))

    @property
    def rows(self) -> list:
        return [r for _, batch in self.batches for r in batch]


@dataclass
class FanOutSink(ForeachBatchSink):
    """One streaming query, many stateless pipelines: each micro-batch is
    cached once and every ``(transform, sink)`` route runs against it.

    Why: Structured Streaming gives every query its own source read — the
    reference's six queries consume the Kafka topic six times
    (``/root/reference/src/spark_streaming.py:340-360``). Stateless routes
    (project/filter/derive, no watermark state) don't need that isolation;
    fanning them out inside one ``foreachBatch`` cuts source reads and
    checkpoints from N to 1, which at 100 TB/day of ingest is N-fold less
    broker egress. Stateful (windowed/watermarked) queries must stay
    independent — their state lives in the query's own checkpoint.

    Routes see the same cached batch, so a transform computes from memory,
    not from a re-scan; failures propagate (the query retries the epoch,
    at-least-once per route, same contract as the reference).
    """

    routes: list[tuple[str, Callable[[DataFrame], DataFrame], ForeachBatchSink]]

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            for _name, transform, sink in self.routes:
                sink(transform(batch_df), epoch_id)
        finally:
            batch_df.unpersist()


def with_alert(
    sink: ForeachBatchSink,
    alerter: Alerter,
    subject: str,
) -> ForeachBatchSink:
    """Wrap a sink with an alert that fires when the micro-batch has rows
    (reference Q2/Q3 shape).

    The sink gets the batch with an in-plan ``count(1)`` observation
    attached, so the count is computed by the sink's own first action: one
    computation of the lineage, no cache and no separate count job (the
    reference counts and then writes, ``spark_streaming.py:172,184``). The
    alert is sent after the sink returns, iff the count is above zero; on
    a retried epoch it may repeat (at-least-once, like the sink).

    The count covers the rows the sink's first action read. For every
    sink in this module that is the whole batch. A sink that first runs a
    partial action (``isEmpty()``, ``limit``) undercounts the alert
    body's n but still alerts correctly.

    The observation is filled on the listener bus after the action
    returns, so it is read with a bounded wait. If nothing arrives (the
    sink ran no action), the batch is counted in a second job instead.
    """

    def wrapped(batch_df: DataFrame, epoch_id: int) -> None:
        observation = Observation()
        observed = batch_df.observe(observation, F.count(F.lit(1)).alias("n"))
        sink(observed, epoch_id)
        n = _observed_count(observation)
        if n is None:
            n = observed.count()
        if n:
            alerter.send(subject, f"{n} matching rows in epoch {epoch_id}")

    return wrapped


def _observed_count(observation: Observation) -> int | None:
    """The ``n`` an action filled into ``observation``, or None if none
    arrived within ``_OBSERVATION_WAIT_S``.

    PySpark's ``Observation.get`` blocks until an action fills it, forever
    if none runs; the JVM's ``getRowOrEmpty`` waits at most 100 ms per call.
    """
    deadline = time.monotonic() + _OBSERVATION_WAIT_S
    while True:
        row = observation._jo.getRowOrEmpty()
        if row.isDefined():
            return row.get().getLong(0)
        if time.monotonic() >= deadline:
            return None
