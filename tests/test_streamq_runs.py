"""The registered streaming queries clean up after themselves.

Every ``stream_*`` query in ``plans/streamq.py`` executes a real bounded
Structured Streaming run inside the query call. A library caller that
only calls the query and collects must be left with nothing: no
checkpoint or landing directory in the temp directory, the session's
shuffle partition count back, and no memory-sink view in the catalog.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql.streaming import DataStreamWriter

from stream_processing_pipeline_spark.plans import REGISTRY
from stream_processing_pipeline_spark.plans.common import catalog

from .conftest import SF_SMALL

STREAM_QUERIES = [
    name
    for name, q in REGISTRY.items()
    if q.fn.__module__.endswith(".plans.streamq") and name.startswith("stream_")
]


def _views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_stream_queries_found():
    assert len(STREAM_QUERIES) >= 14, STREAM_QUERIES


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_query_leaves_nothing_behind(spark, tmp_path, monkeypatch, name):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    started = []
    start = DataStreamWriter.start

    def counting_start(self, *args, **kwargs):
        started.append(1)
        return start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", counting_start)
    # The fixture catalog registers its table views on first load; load
    # them first so only the query's own views count as new.
    for table in ("events", "documents"):
        catalog(spark, SF_SMALL).table(table)
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    views = _views(spark)

    REGISTRY[name].fn(spark, SF_SMALL).collect()

    assert started, f"{name} ran no stream"
    assert list(tmp.iterdir()) == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert _views(spark) - views == set()
