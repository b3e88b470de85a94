"""The scripts in ``tools/`` stay importable.

Each tool guards its ``main()``, so importing one runs nothing; a tool that
still imports a removed helper or script fails here instead of at its next
manual run. The merged plan dumper's per-query mode also runs end to end,
and the A/B bench runs each side in that side's own checkout, prints
each side's median compile count, and answers a call without arguments
with its usage line.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import subprocess
import sys

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


def test_ab_subset_runs_each_side_in_its_own_checkout(tmp_path, monkeypatch, capsys):
    # Spark's Python workers import the package from the working directory,
    # so a side run from the caller's directory would run the caller's code.
    # Each side's median compile count prints next to its wall medians, and
    # a side whose bench does not report compiles reads n/a.
    monkeypatch.syspath_prepend(TOOLS_DIR)
    ab_subset = importlib.import_module("ab_subset")
    b_dir = str(tmp_path / "baseline")
    runs = []

    def fake_run(cmd, **kwargs):
        runs.append((os.path.dirname(cmd[-1]), kwargs.get("cwd")))
        doc = {"queries": {"q": 1.0}, "failures": {}}
        if kwargs.get("cwd") == ab_subset.REPO:
            doc.update(codegen_compiles_timed=len(runs), codegen_compiles_warmup=90)
        line = json.dumps(doc)
        return subprocess.CompletedProcess(cmd, 0, stdout=line + "\n", stderr="")

    monkeypatch.setattr(ab_subset.subprocess, "run", fake_run)
    monkeypatch.setattr(sys, "argv", ["ab_subset.py", "q", "2", b_dir])
    ab_subset.main()
    assert [bench_dir for bench_dir, _ in runs] == [ab_subset.REPO, b_dir] * 2
    assert all(cwd == bench_dir for bench_dir, cwd in runs)
    rows = {line.split()[0]: line.split()[1:] for line in capsys.readouterr().out.splitlines()}
    assert rows["codegen_compiles_timed"] == ["2", "n/a"]  # median of 1 and 3
    assert rows["codegen_compiles_warmup"] == ["90", "n/a"]


def test_ab_subset_without_arguments_prints_usage():
    out = subprocess.run(
        [sys.executable, os.path.join(TOOLS_DIR, "ab_subset.py")],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 2
    assert out.stderr.strip() == "usage: python tools/ab_subset.py q1[,q2...] [N_RUNS] [B_DIR]"
    assert "Traceback" not in out.stderr
