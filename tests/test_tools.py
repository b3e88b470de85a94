"""The scripts in ``tools/`` stay importable.

Each tool guards its ``main()``, so importing one runs nothing; a tool that
still imports a removed helper or script fails here instead of at its next
manual run. The merged plan dumper's per-query mode also runs end to end.
"""

from __future__ import annotations

import glob
import importlib
import os

from .conftest import SF_SMALL

TOOLS_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


def test_tools_import_and_dump_plans_per_query(spark, tmp_path, monkeypatch):
    # Tools run as scripts, with tools/ first on sys.path (some import a
    # sibling tool by its bare name).
    monkeypatch.syspath_prepend(TOOLS_DIR)
    names = sorted(
        os.path.basename(p)[:-3] for p in glob.glob(os.path.join(TOOLS_DIR, "*.py"))
    )
    assert "dump_plans" in names
    modules = {name: importlib.import_module(name) for name in names}

    paths = modules["dump_plans"].dump_queries(
        spark, ["tpch_q1_pricing_summary"], str(tmp_path), "after", sf_dir=SF_SMALL
    )
    assert [os.path.basename(p) for p in paths] == [
        "tpch_q1_pricing_summary_after.txt"
    ]
    text = open(paths[0]).read()
    assert text.startswith(
        "-- tpch_q1_pricing_summary (after) -- explain('formatted') at sf0.001"
    )
    assert "Physical Plan" in text and "Scan parquet" in text
