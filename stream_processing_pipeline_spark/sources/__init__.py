"""Sources: batch & streaming inputs with schema attach.

- :mod:`.registry` — named-table catalog over a directory of parquet files
  (the driver's ``/root/testdata/sf*`` layout), with type normalization.
- :mod:`.files`    — file sources (parquet/csv/json), batch and streaming.
- :mod:`.kafka`    — Kafka stream source wrapper + a CSV->Kafka replay
  tool (parity with the reference producer, gated on kafka availability).
- :mod:`.memory`   — rate / in-memory sources for tests.
"""

from .registry import TableCatalog

__all__ = ["TableCatalog"]
