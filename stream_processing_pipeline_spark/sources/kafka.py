"""Kafka source wrapper and a resumable CSV->Kafka replay tool.

Parity surface (no Kafka broker ships in the test environment, so everything
here is exercised through unit tests of the builders plus the documented
contract):

- :func:`read_kafka_stream` — the engine's version of the reference's source
  (``/root/reference/src/spark_streaming.py:38-56``): ``readStream.format
  ("kafka")`` with ``subscribe`` + ``startingOffsets``; schema attach happens
  downstream via :class:`~stream_processing_pipeline_spark.schema.SchemaContract.parse_json`.
- :class:`CsvReplayer` — a small operational tool reproducing the reference
  producer's observable behavior: CSV rows -> JSON messages with a resumable
  file cursor (``/root/reference/src/kafka_stream.py:30-55,78-101``). With
  Spark checkpoints + Kafka offsets this is unnecessary for the engine itself;
  it exists for drop-in parity. At-least-once by design: the cursor persists
  only up to the last successful ``flush()``, so a crash replays the
  unacknowledged tail (duplicates possible, loss not — stricter than the
  reference, whose callback-counted cursor could skip unflushed rows).

Scale notes: ``minPartitions`` lets Spark split large Kafka partitions into
more tasks than topic partitions; ``maxOffsetsPerTrigger`` bounds micro-batch
size so state-store updates and sink writes stay memory-safe under burst.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

__all__ = ["read_kafka_stream", "CsvReplayer"]


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    if min_partitions is not None:
        reader = reader.option("minPartitions", str(min_partitions))
    return reader.load()


@dataclass
class CsvReplayer:
    """CSV -> Kafka JSON replay with a resumable row cursor.

    Reference-parity semantics: one CSV row -> one JSON message; cursor file
    stores the count of successfully-sent rows; restart skips that many rows.
    """

    topic: str
    csv_path: str
    cursor_path: str
    brokers: str = "localhost:9092"
    flush_every: int = 2500

    def _read_cursor(self) -> int:
        try:
            with open(self.cursor_path) as f:
                return int(f.read().strip() or 0)
        except (FileNotFoundError, ValueError):
            return 0

    def _write_cursor(self, index: int) -> None:
        os.makedirs(os.path.dirname(self.cursor_path) or ".", exist_ok=True)
        with open(self.cursor_path, "w") as f:
            f.write(str(index))

    def _create_producer(self):
        """Real producer factory; overridable for tests / custom clients."""
        try:
            from kafka import KafkaProducer  # gated: not in test env
        except ImportError as e:  # pragma: no cover
            raise RuntimeError(
                "kafka-python is not installed; CsvReplayer is an operational "
                "tool for real Kafka deployments"
            ) from e

        return KafkaProducer(
            bootstrap_servers=self.brokers,
            value_serializer=lambda d: json.dumps(d).encode("utf-8"),
            batch_size=32768,
            linger_ms=50,
        )

    def run(self, limit: int | None = None) -> int:
        """Replay rows; returns number sent. Requires kafka-python at runtime.

        At-least-once contract: ``send`` is async, so the cursor advances
        only to the last *flushed* row count — persisted after every
        successful ``flush()``. If a send/flush raises, the cursor stays at
        the previous flush point and a restart re-sends the unacknowledged
        tail (duplicates possible, loss not). Advancing by rows merely
        handed to ``send`` would silently skip them on restart.
        """
        import csv
        from itertools import islice

        producer = self._create_producer()
        index = self._read_cursor()
        sent = 0
        flushed = 0
        try:
            with open(self.csv_path, newline="") as f:
                reader = csv.DictReader(f)
                for row in islice(reader, index, None):
                    producer.send(self.topic, row)
                    sent += 1
                    if sent % self.flush_every == 0:
                        producer.flush()
                        flushed = sent
                        self._write_cursor(index + flushed)
                    if limit is not None and sent >= limit:
                        break
            producer.flush()
            flushed = sent
        finally:
            self._write_cursor(index + flushed)
            producer.close()
        return sent
