"""Alternating A/B subset bench: median-of-N per side.

Runs ``bench.py`` in subset mode (``SPARK_GRAFT_BENCH_ONLY``) alternating
between two checkouts — side A (this repo) and side B (a second checkout
of the baseline commit) — so ambient drift hits both sides equally, and
reports the per-query median of each side plus the ratio. Each side runs
in its own checkout's directory: Spark's Python workers import the package
from the working directory, not from the bench's ``sys.path``.

Usage::

    python tools/ab_subset.py q1[,q2...] [N_RUNS] [B_DIR]

With no ``B_DIR`` it just runs side A N_RUNS times (median-of-N probe).
Each run is a fresh JVM under the bench's own warm-up: the named queries
run once, untimed, at sf0.001 before the timed pass. SF dir and CPU count
come from the usual ``SPARK_GRAFT_SF_DIR`` / ``SPARK_GRAFT_CPUS``.

Next to the per-query wall-time medians it prints each side's median
count of generated classes compiled in the timed pass and in the pre-pass
(``bench.py``'s ``codegen_compiles_timed`` / ``_warmup``; ``n/a`` for a
checkout whose bench does not report them). The session's generated-code
cache holds 2,000 classes, so the pre-pass leaves the timed pass's classes
compiled on both sides and a timed pass compiles few. A side whose timed
pass compiles about as many classes as its pre-pass did is paying Janino
and cold-JIT time the other side is not: compare its wall time with that
in mind, or compare sides whose counts agree.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

COMPILE_FIELDS = ("codegen_compiles_timed", "codegen_compiles_warmup")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
USAGE = "usage: python tools/ab_subset.py q1[,q2...] [N_RUNS] [B_DIR]"


def run_once(bench_dir: str, queries: str) -> dict:
    """One subset bench run in ``bench_dir``: its parsed JSON line."""
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_ONLY"] = queries
    env.pop("SPARK_GRAFT_BENCH_OUT", None)
    out = subprocess.run(
        [sys.executable, os.path.join(bench_dir, "bench.py")],
        env=env,
        cwd=bench_dir,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    try:
        doc = json.loads(line)
    except json.JSONDecodeError:
        raise SystemExit(
            f"bench in {bench_dir} produced no JSON line; stderr tail:\n"
            + out.stderr[-2000:]
        )
    if doc.get("failures"):
        raise SystemExit(f"bench failures in {bench_dir}: {doc['failures']}")
    return doc


def main() -> None:
    if len(sys.argv) < 2:
        print(USAGE, file=sys.stderr)
        raise SystemExit(2)
    queries = sys.argv[1]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    b_dir = sys.argv[3] if len(sys.argv) > 3 else None

    sides: dict[str, list[dict]] = {"A": []}
    if b_dir:
        sides["B"] = []
    for i in range(n_runs):
        for label, bench_dir in (("A", REPO),) + (
            (("B", b_dir),) if b_dir else ()
        ):
            t0 = time.time()
            doc = run_once(bench_dir, queries)
            sides[label].append(doc)
            print(
                f"run {i + 1}/{n_runs} side {label}: "
                + ", ".join(f"{k}={v:.2f}" for k, v in sorted(doc["queries"].items()))
                + f"  compiles={doc.get('codegen_compiles_timed', 'n/a')}"
                + f"  (wall {time.time() - t0:.0f}s)",
                file=sys.stderr,
                flush=True,
            )

    names = sorted(sides["A"][0]["queries"])
    print(f"{'query':40s} " + " ".join(f"{s}_median" for s in sides) + "  ratio")
    for n in names:
        meds = {
            s: statistics.median(r["queries"][n] for r in runs)
            for s, runs in sides.items()
        }
        ratio = (
            f"{meds['A'] / meds['B']:.3f}" if "B" in meds and meds["B"] else ""
        )
        print(
            f"{n:40s} "
            + " ".join(f"{meds[s]:8.3f}" for s in sides)
            + f"  {ratio}"
        )
    for field in COMPILE_FIELDS:
        print(
            f"{field:40s} "
            + " ".join(f"{_median_field(runs, field):>8s}" for runs in sides.values())
        )
    for s, runs in sides.items():
        for n in names:
            vals = [f"{r['queries'][n]:.2f}" for r in runs]
            print(f"  {s} {n}: [{', '.join(vals)}]")


def _median_field(runs: list[dict], field: str) -> str:
    """Median of an integer bench field over runs, ``n/a`` if any run
    lacks it."""
    vals = [r.get(field) for r in runs]
    if None in vals:
        return "n/a"
    return f"{statistics.median(vals):g}"


if __name__ == "__main__":
    main()
