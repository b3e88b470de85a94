"""Every intermediate a query build makes has an owner that releases it.

``TableCatalog.memo`` builds each artifact once per catalog, and the files
layout copies write live in the catalog's work directory, which goes away
with the catalog (for ``plans.common.catalog``'s catalogs: at interpreter
exit). Frames a builder persists for its lazy result are recorded by
``session.persist`` and released by the next registered build.
"""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import tempfile

from pyspark import StorageLevel

from stream_processing_pipeline_spark.plans import REGISTRY
from stream_processing_pipeline_spark.session import persist, release
from stream_processing_pipeline_spark.sources.registry import TableCatalog

from .conftest import SF_SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LAYOUT_QUERIES = (
    "bucketed_join_revenue",
    "partition_pruned_daily_stats",
    "dpp_promo_day_revenue",
)


def test_memo_builds_once_per_key_and_catalog():
    builds = []

    def build(tag):
        def run():
            builds.append(tag)
            return object()

        return run

    a = TableCatalog(None, "/nowhere", register_views=False)
    b = TableCatalog(None, "/nowhere", register_views=False)
    first = a.memo("k", build("a.k"))
    assert a.memo("k", build("a.k again")) is first
    assert a.memo("j", build("a.j")) is not first
    assert b.memo("k", build("b.k")) is not first
    assert builds == ["a.k", "a.j", "b.k"]


def test_work_dir_removed_with_catalog(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cat = TableCatalog(None, "/nowhere", register_views=False)
    work = cat.work_dir()
    assert cat.work_dir() == work
    with open(os.path.join(work, "part-0"), "w") as f:
        f.write("x")
    del cat
    gc.collect()
    assert list(tmp_path.iterdir()) == []


def test_registered_build_releases_only_the_previous_builds_frames(spark):
    """The next registered build unpersists the frames the last one
    persisted through an operator, leaves a frame the caller persisted
    cached, and the earlier result still returns the same rows."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    release()
    mine = spark.range(5).persist()
    try:
        before = cache.numCachedEntries()
        first = REGISTRY["heavy_hitters_tokens"].fn(spark, SF_SMALL)
        rows = sorted(first.collect())
        assert rows
        assert cache.numCachedEntries() > before  # sketch.heavy_hitters_exact
        REGISTRY["tpch_q1_pricing_summary"].fn(spark, SF_SMALL)
        assert cache.numCachedEntries() == before
        assert mine.storageLevel != StorageLevel.NONE
        assert sorted(first.collect()) == rows
    finally:
        mine.unpersist()


def test_release_leaves_a_plan_the_caller_cached(spark):
    """``persist`` of a plan the caller already cached records nothing, so
    ``release`` cannot drop the caller's cache entry."""
    mine = spark.range(7).persist()
    try:
        persist(spark.range(7))
        release()
        assert mine.storageLevel != StorageLevel.NONE
    finally:
        mine.unpersist()


_SCRIPT = """
import os, sys, tempfile
from stream_processing_pipeline_spark.plans import REGISTRY
from stream_processing_pipeline_spark.session import build_session

spark = build_session(app_name="layout_owner", master="local[2]", shuffle_partitions=2)
for name in sys.argv[2:]:
    assert REGISTRY[name].fn(spark, sys.argv[1]).collect(), name
print("written:", sorted(os.listdir(tempfile.gettempdir())))
spark.stop()
"""


def test_layout_copies_removed_at_exit(tmp_path):
    """The bucketed and date-partitioned copies the scale queries write
    are gone once the process that wrote them exits."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        PYTHONPATH=ROOT,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, SF_SMALL, *LAYOUT_QUERIES],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    written = [ln for ln in proc.stdout.splitlines() if ln.startswith("written:")]
    assert written and written[0] != "written: []", proc.stdout
    assert list(tmp.iterdir()) == []
