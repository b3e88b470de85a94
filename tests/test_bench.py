"""The bench loop: one function runs both the untimed sf0.001 pre-pass and
the timed pass, so its failure handling and cache release hold for both."""

from __future__ import annotations

import ast
import os
from types import SimpleNamespace

import bench

from .conftest import SF_SMALL

PACKAGE = "stream_processing_pipeline_spark"


def _item(name, fn):
    return name, SimpleNamespace(fn=fn)


def test_failing_query_is_recorded_and_the_next_still_runs(spark):
    def broken(spark, sf_dir):
        raise ValueError(f"no such table under {sf_dir}")

    def ok(spark, sf_dir):
        return spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))

    timings, failures = bench.run_queries(
        spark, [_item("a_broken", broken), _item("b_ok", ok)], SF_SMALL
    )
    assert timings["a_broken"] == -1.0
    assert failures == {"a_broken": f"ValueError: no such table under {SF_SMALL}"}
    assert timings["b_ok"] >= 0


def test_persisted_frames_are_released_after_each_query(spark):
    def persists(spark, sf_dir):
        return spark.range(10).persist()

    cache = spark._jsparkSession.sharedState().cacheManager()
    timings, failures = bench.run_queries(spark, [_item("p", persists)], SF_SMALL)
    assert not failures and timings["p"] >= 0
    assert cache.isEmpty()


def test_bench_imports_no_private_package_names():
    with open(bench.__file__) as fh:
        tree = ast.parse(fh.read())
    private = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            parts = node.module.split(".") + [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            parts = [p for a in node.names if a.name.startswith(PACKAGE)
                     for p in a.name.split(".")]
        else:
            continue
        private += [p for p in parts if p.startswith("_")]
    assert private == []
