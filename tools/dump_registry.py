"""Regenerate REGISTRY.md: every registered query in gate order, its tags,
oracle status, and external-evidence vintage (the newest
CORRECTNESS_r*.json round holding a gate row for the query, the same
ledger the registry order is derived from).
Usage: python tools/dump_registry.py"""

from __future__ import annotations

import os
import sys
from collections import Counter

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from stream_processing_pipeline_spark.plans import REGISTRY  # noqa: E402
from stream_processing_pipeline_spark.plans.registry import gate_evidence  # noqa: E402


def main() -> None:
    latest = {name: rnd for name, (rnd, _slot) in gate_evidence().items()}
    lines = [
        "# REGISTRY — all registered queries (auto-generated)",
        "",
        "One row per `__spark_entry__.queries()` entry, in registration order",
        "(the external gate's evaluation order: least recently gated first,",
        "derived from the `CORRECTNESS_r{N}.json` files). Oracle column: `value-hash`",
        "= full DuckDB value-hash comparison at sf0.01; `rows-only` = result",
        "shape checked, semantics pinned by the named invariant tests.",
        "The `rows-only` class is EMPTY as of round 11: the HLL pair's",
        "engine-private Datasketches sketches were replaced with explicit",
        "h60-derived registers (VERDICT r10 #2), so every registered query",
        "now carries a full value-hash oracle and is gate-eligible.",
        "Vintage column: the newest round whose external",
        "driver gate recorded this query (`CORRECTNESS_r{N}.json`); `—` =",
        "never recorded by the gate, so first in line for the next one.",
        "Regenerate with `python tools/dump_registry.py`.",
        "",
        "| # | query | tags | oracle | newest external row |",
        "|---|---|---|---|---|",
    ]
    for i, (name, q) in enumerate(REGISTRY.items(), 1):
        oracle = "value-hash" if q.oracle else "rows-only"
        tags = ", ".join(q.tags) if q.tags else ""
        vint = f"r{latest[name]}" if name in latest else "—"
        lines.append(f"| {i} | `{name}` | {tags} | {oracle} | {vint} |")
    n = len(REGISTRY)
    n_oracled = sum(1 for q in REGISTRY.values() if q.oracle)
    counts = Counter(
        f"r{latest[name]}" if name in latest else "unrecorded"
        for name in REGISTRY
    )
    dist = ", ".join(
        f"{k}: {v}" for k, v in sorted(counts.items(), key=lambda kv: kv[0])
    )
    lines += [
        "",
        f"**{n} queries, {n_oracled} value-hash oracles, "
        f"{n - n_oracled} rows-only** (rows-only: engine-specific sketch "
        "binaries and iterative k-means training — each pinned by invariant "
        "tests; see COVERAGE.md).",
        "",
        f"Vintage distribution (newest external row per query): {dist}.",
        "",
    ]
    with open(os.path.join(_ROOT, "REGISTRY.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"REGISTRY.md written ({n} queries)")


if __name__ == "__main__":
    main()
